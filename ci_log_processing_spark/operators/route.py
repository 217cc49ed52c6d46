"""Multi-sink routing — the reference's per-file index fan-out
(`send_to_es`, logsender.py:467-495: performance.json -> perf
index, *.subunit -> subunit index, default -> log index) plus its
implicit drop rules, recast as one disjoint, covering decision over
parsed columns: a drop_reason CASE, and a sink CASE that sends every
row with a reason to drop_queue, so each rule is written once.

Design decision vs the reference: lines the reference silently
skips (DEBUG with --skip-debug, journald preamble, empty message
— logsender.py:399-401, 421-423) are routed to an explicit
`drop_queue` sink with a drop_reason, so at 100 TB nothing
disappears without lineage (SURVEY.md §2.1 S9/S17).

Precedence (first match wins):
  1. no_metadata   — conversation lacks metadata (missing
                     buildinfo/inventory analog, logsender.py:136-141)
  2. preamble      — '-- Logs begin at ' before any timestamped turn
  3. debug         — text contains 'DEBUG' (skip_debug mode,
                     substring semantics like the reference)
  4. empty_message — message empty after pipe-split
  5. errors        — severity ERROR or CRITICAL
  6. tool_calls    — tool turn (tool set or role='tool')
  7. agent_turns   — everything else
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINKS = ("errors", "tool_calls", "agent_turns", "drop_queue")

PREAMBLE_PREFIX = "-- Logs begin at "


def drop_reason_col(
    skip_debug: bool = True, has_metadata: Column | None = None
) -> Column:
    """The drop rules (precedence 1-4) as one CASE; NULL keeps the row.

    Requires columns: text, message, prior_ts_count (see
    operators.ffill.with_prior_ts_count).
    """
    no_meta = (
        ~has_metadata if has_metadata is not None else F.lit(False)
    )
    c = F.when(no_meta, F.lit("no_metadata"))
    c = c.when(
        F.col("text").startswith(PREAMBLE_PREFIX)
        & (F.col("prior_ts_count") == 0),
        F.lit("preamble"),
    )
    if skip_debug:
        c = c.when(F.col("text").contains("DEBUG"), F.lit("debug"))
    c = c.when(F.length(F.col("message")) == 0, F.lit("empty_message"))
    return c.otherwise(F.lit(None).cast("string"))


def route_cols(
    skip_debug: bool = True, has_metadata: Column | None = None
) -> tuple[Column, Column]:
    """(drop_reason, sink). The sink CASE reads the drop_reason column
    and sends every row with a reason to drop_queue (precedence 5-7
    need severity, tool, role); `with_route` adds them in that
    order."""
    sink = (
        F.when(F.col("drop_reason").isNotNull(), F.lit("drop_queue"))
        .when(F.col("severity").isin("ERROR", "CRITICAL"), F.lit("errors"))
        .when(
            F.col("tool").isNotNull() | (F.col("role") == "tool"),
            F.lit("tool_calls"),
        )
        .otherwise(F.lit("agent_turns"))
    )
    return drop_reason_col(skip_debug, has_metadata), sink


def with_route(df: DataFrame, route: tuple[Column, Column]) -> DataFrame:
    """Add sink and drop_reason (route_cols), in that column order."""
    drop_reason, sink = route
    return (
        df.withColumn("drop_reason", drop_reason)
        .withColumn("sink", sink)
        .select(*df.columns, "sink", "drop_reason")
    )


def with_sink(
    df: DataFrame,
    skip_debug: bool = True,
    has_metadata: Column | None = None,
) -> DataFrame:
    """Add sink and drop_reason."""
    return with_route(df, route_cols(skip_debug, has_metadata))
