"""Deterministic `transcripts` table derived from the driver's
`events` parquet.

BASELINE.json's input_hint mandates the shape
    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)
but no transcripts parquet ships with the test data, so we
synthesize it deterministically — as a pure SQL view over `events`
that evaluates IDENTICALLY in Spark and DuckDB (the driver's
oracle engine). No wall-clock, no RNG: every value is a function
of (event_id, user_id, ts, event_type).

Each event becomes one turn; users become conversations; the text
payload cycles through the reference's log-line fixture classes
(FIXTURES.md §2 / reference tests/test_logsender.py:992-1010,
1177-1194):

  class = event_id % 12
   0 pipe console line      (ts fmt 2)             role=assistant
   1 ISO-Z micros           (ts fmt 1)             role=assistant
   2 syslog w/ micros       (ts fmt 3, year fill)  role=system
   3 syslog no micros       (ts fmt 4, year fill)  role=system
   4 bare ISO + multipipe   (ts fmt 5)             role=system
   5 ansible long date      (ts fmt 6)             role=system
   6 DEBUG line             (skip-debug filter)    role=assistant
   7 traceback continuation (no ts -> fwd-fill)    role=assistant
   8 journald preamble      (preamble skip)        role=system
   9 severity + [subsystem] (errors routing)       role=assistant
  10 tool invocation        (tool_calls routing)   role=tool
  11 empty message after pipe (empty-msg drop)     role=user

For the big skewed benchmark table (long-transcript skew, gzip
fixtures) see ci_log_processing_spark/datagen.py — this module is
the small-scale, oracle-checkable twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SEVERITIES = ["INFO", "WARNING", "ERROR", "CRITICAL", "TRACE"]
_SUBSYSTEMS = [
    "neutron.agent.l3",
    "nova.compute.manager",
    "keystone.auth",
    "cinder.volume.driver",
]
_TOOLS = ["bash", "search", "python"]


def _case(expr: str, values: list[str]) -> str:
    n = len(values)
    arms = " ".join(
        f"WHEN {expr} % {n} = {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"(CASE {arms} END)"


def _fmt(dialect: str, col: str, which: int) -> str:
    """Render `col` (timestamp) in log-line format #which, with
    byte-identical output across Spark and DuckDB (verified in
    tests/test_transcripts_parity.py)."""
    if dialect == "spark":
        # single quotes in Java datetime patterns are doubled inside
        # the SQL string literal
        f = lambda p: f"date_format({col}, '{p.replace(chr(39), chr(39) * 2)}')"  # noqa: E731
        return {
            1: f("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
            2: f("yyyy-MM-dd HH:mm:ss.SSSSSS"),
            3: f("MMM dd HH:mm:ss.SSSSSS"),
            4: f("MMM dd HH:mm:ss"),
            5: (
                f"concat({f(chr(39).join(['yyyy-MM-dd', 'T', 'HH:mm:ss']))}, "
                f"'.', substring({f('SSSSSS')}, 1, 3), 'Z')"
            ),
            6: f"concat({f('EEEE dd MMMM yyyy')}, '  ', {f('HH:mm:ss')})",
        }[which]
    else:
        f = lambda p: f"strftime({col}, '{p}')"  # noqa: E731
        return {
            1: f("%Y-%m-%dT%H:%M:%S.%fZ"),
            2: f("%Y-%m-%d %H:%M:%S.%f"),
            3: f("%b %d %H:%M:%S.%f"),
            4: f("%b %d %H:%M:%S"),
            5: (
                f"concat({f('%Y-%m-%dT%H:%M:%S')}, "
                f"'.', substr({f('%f')}, 1, 3), 'Z')"
            ),
            6: f"concat({f('%A %d %B %Y')}, '  ', {f('%H:%M:%S')})",
        }[which]


def text_sql(dialect: str) -> str:
    """Just the text-payload CASE expression (over events columns)."""
    assert dialect in ("spark", "duckdb")
    eid = "event_id"
    sev = _case(eid, _SEVERITIES)
    sub = _case(eid, _SUBSYSTEMS)
    # key the tool on eid % 7 (coprime with the %12 turn-class
    # cycle): keying on eid directly would pin every tool turn
    # (eid % 12 = 10 => eid % 3 = 1) to the same tool, collapsing
    # every tool-keyed analytic to one group
    tool = _case(f"({eid} % 7)", _TOOLS)
    f2 = _fmt(dialect, "ts", 2)

    cast_str = (
        "CAST(event_id AS STRING)" if dialect == "spark" else "CAST(event_id AS VARCHAR)"
    )
    cast_uid = (
        "CAST(user_id AS STRING)" if dialect == "spark" else "CAST(user_id AS VARCHAR)"
    )

    return f"""CASE {eid} % 12
      WHEN 0 THEN concat({f2}, ' | Job console starting for ', event_type, ' ', {cast_str})
      WHEN 1 THEN concat({_fmt(dialect, 'ts', 1)}, ' | Last metadata expiration check ', {cast_str})
      WHEN 2 THEN concat({_fmt(dialect, 'ts', 3)}, ' host-', {cast_uid}, ' kernel: event ', {cast_str})
      WHEN 3 THEN concat({_fmt(dialect, 'ts', 4)}, ' host sudo[', {cast_str}, ']: zuul executed command')
      WHEN 4 THEN concat({_fmt(dialect, 'ts', 5)}, '|00040|connmgr|INFO|br-int: added port ', {cast_str})
      WHEN 5 THEN concat({_fmt(dialect, 'ts', 6)}, ' +0000 (0:00:00.056)')
      WHEN 6 THEN concat({f2}, ' | DEBUG noisy internal detail ', {cast_str})
      WHEN 7 THEN concat('    raise ValueError("boom ', {cast_str}, '")')
      WHEN 8 THEN '-- Logs begin at Mon 2024-01-01 00:00:00 UTC. --'
      WHEN 9 THEN concat({f2}, ' | ', {sev}, ' [', {sub}, '] operation failed code=', {cast_str})
      WHEN 10 THEN concat({f2}, ' | TOOL ', {tool}, ' invoke args=', event_type)
      ELSE concat({f2}, ' | ')
    END"""


def transcripts_sql(dialect: str = "spark", events_rel: str = "events") -> str:
    """SQL deriving the transcripts table, per dialect."""
    assert dialect in ("spark", "duckdb")
    eid = "event_id"
    tool = _case(f"({eid} % 7)", _TOOLS)  # see text_sql
    cast_uid = (
        "CAST(user_id AS STRING)" if dialect == "spark" else "CAST(user_id AS VARCHAR)"
    )
    text = text_sql(dialect)

    role = f"""CASE
      WHEN {eid} % 12 IN (0, 1, 6, 7, 9) THEN 'assistant'
      WHEN {eid} % 12 IN (2, 3, 4, 5, 8) THEN 'system'
      WHEN {eid} % 12 = 10 THEN 'tool'
      ELSE 'user'
    END"""

    tool_col = f"CASE WHEN {eid} % 12 = 10 THEN {tool} ELSE NULL END"

    return f"""
SELECT
  concat('conv-', lpad({cast_uid}, 4, '0')) AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
  {role} AS role,
  {text} AS text,
  {tool_col} AS tool,
  ts
FROM {events_rel}
"""


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events parquet and derive the transcripts DataFrame."""
    import os

    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView(
        "events"
    )
    return spark.sql(transcripts_sql())
