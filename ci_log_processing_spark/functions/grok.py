"""Grok-style severity / subsystem extraction + the vectorized
parse UDF.

Severity taxonomy and "severity followed by [module]" shape come
from the legacy Logstash oslofmt grok the reference repo carries
(opensearch-config/config/openstack-filters.conf:46-52) — the
richer semantics its Python rewrite dropped and our north star
restores.

Two implementations of severity and subsystem:
  * `severity_col` / `subsystem_col` — Catalyst regexp_extract
    (JVM, codegen; identical RE2-safe patterns used by the DuckDB
    oracle);
  * `make_grok_udf` — ONE Arrow-vectorized pandas UDF over the
    `message` column returning struct(severity, subsystem). This is
    the north-star-mandated path. It has no per-row Python of its
    own, but pandas' .str.extract still runs its regex element by
    element, so the UDF carries only these two fields.
The timestamp cascade, the message split and program/pid are
Catalyst only (timestamps.py, message.py, program_col/pid_col) and
shared by both parse engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Keep RE2-compatible (no lookbehind) so the same pattern text runs
# in Spark (java.util.regex), DuckDB (RE2) and pandas (re).
SEVERITIES = ("AUDIT", "CRITICAL", "DEBUG", "INFO", "TRACE", "WARNING", "ERROR")
SEVERITY_RX = r"\b(AUDIT|CRITICAL|DEBUG|INFO|TRACE|WARNING|ERROR)\b"
# oslofmt: LOGLEVEL \[?module\]? — module directly after the severity
SUBSYSTEM_RX = (
    r"\b(?:AUDIT|CRITICAL|DEBUG|INFO|TRACE|WARNING|ERROR)\b"
    r" \[?([A-Za-z][A-Za-z0-9_.-]*)\]?"
)
# syslog program/pid after a SYSLOGTIMESTAMP + host:
# '%{DATA:syslog_program}(?:\[%{POSINT:syslog_pid}\])?:'
# (openstack-filters.conf:49) — e.g. 'Apr 05 12:00:00 host sudo[123]: msg'
# -> program 'sudo', pid 123; 'Apr 05 12:00:00.5 h kernel: x' -> 'kernel'.
SYSLOG_PROG_RX = (
    r"^[A-Za-z]{3} [0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]+)? "
    r"(\S+) ([A-Za-z0-9_./-]+)(?:\[([0-9]+)\])?:"
)


def severity_col(message: Column) -> Column:
    return F.nullif(F.regexp_extract(message, SEVERITY_RX, 1), F.lit(""))


def subsystem_col(message: Column) -> Column:
    return F.nullif(F.regexp_extract(message, SUBSYSTEM_RX, 1), F.lit(""))


def _syslog_shaped(text: Column) -> Column:
    """Cheap pre-gate: SYSLOG_PROG_RX can only match lines starting
    with a letter (month abbreviation). Skipping the regex for the
    ~3/4 of lines that start with a digit/other measurably cuts
    parse cost (same trick as the ts cascade's first-char gating)."""
    c = F.ascii(F.substring(text, 1, 1))
    return ((c >= 65) & (c <= 90)) | ((c >= 97) & (c <= 122))


def program_col(text: Column) -> Column:
    """syslog_program from the raw line (group 2 of SYSLOG_PROG_RX)."""
    return F.when(
        _syslog_shaped(text),
        F.nullif(F.regexp_extract(text, SYSLOG_PROG_RX, 2), F.lit("")),
    )


def pid_col(text: Column) -> Column:
    """syslog_pid (group 3); NULL when the [pid] suffix is absent."""
    return F.when(
        _syslog_shaped(text),
        F.nullif(F.regexp_extract(text, SYSLOG_PROG_RX, 3), F.lit("")),
    ).try_cast("long")


def severity_sql_duckdb(message_expr: str) -> str:
    return f"nullif(regexp_extract({message_expr}, '{SEVERITY_RX}', 1), '')"


def subsystem_sql_duckdb(message_expr: str) -> str:
    return f"nullif(regexp_extract({message_expr}, '{SUBSYSTEM_RX}', 1), '')"


def program_sql_duckdb(text_expr: str) -> str:
    return f"nullif(regexp_extract({text_expr}, '{SYSLOG_PROG_RX}', 2), '')"


def pid_sql_duckdb(text_expr: str) -> str:
    return (
        f"try_cast(nullif(regexp_extract({text_expr}, "
        f"'{SYSLOG_PROG_RX}', 3), '') AS BIGINT)"
    )


def make_grok_udf():
    """Arrow-vectorized severity/subsystem grok over the `message`
    column: the same fields as severity_col + subsystem_col, by
    pandas .str.extract over the whole Arrow batch."""
    # imported on first use, not with the module: only this path needs
    # pandas. pandas_udf resolves the string annotations below (this
    # module has `from __future__ import annotations`) through module
    # globals, so `pd` is bound there.
    global pd
    import pandas as pd

    @pandas_udf("severity string, subsystem string")
    def grok(message: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "severity": message.str.extract(SEVERITY_RX, expand=False),
                "subsystem": message.str.extract(SUBSYSTEM_RX, expand=False),
            }
        )

    return grok
