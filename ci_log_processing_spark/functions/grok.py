"""Grok-style severity / subsystem extraction + the vectorized
parse UDF.

Severity taxonomy and "severity followed by [module]" shape come
from the legacy Logstash oslofmt grok the reference repo carries
(opensearch-config/config/openstack-filters.conf:46-52) — the
richer semantics its Python rewrite dropped and our north star
restores.

Two implementations:
  * `severity_col` / `subsystem_col` — Catalyst regexp_extract
    (JVM, codegen; identical RE2-safe patterns used by the DuckDB
    oracle);
  * `make_grok_udf` — ONE Arrow-vectorized pandas UDF returning a
    struct(event_ts, severity, subsystem, message) per row. This is
    the north-star-mandated path: pandas str ops over the whole
    Arrow batch, never per-row Python loops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .timestamps import _SPARK_STEPS

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


PARSED_SCHEMA = StructType(
    [
        StructField("event_ts", TimestampType()),
        StructField("severity", StringType()),
        StructField("subsystem", StringType()),
        StructField("message", StringType()),
        StructField("program", StringType()),
        StructField("pid", LongType()),
    ]
)


def make_grok_udf(ref_year: int = 2024):
    """Arrow-vectorized full-line parser.

    Equivalent to ts_cascade_col + message_col + severity_col +
    subsystem_col in one Arrow round-trip. Per-batch work is pandas
    .str.extract / to_datetime on the matching subset only — the
    cascade's "first match wins" is preserved by masking rows already
    parsed by an earlier pattern (reference: logsender.py:362-365).
    """
    # imported on first use, not with the module: only this path needs
    # pandas. pandas_udf resolves the string annotations below (this
    # module has `from __future__ import annotations`) through module
    # globals, so `pd` is bound there.
    global pd
    import pandas as pd

    # the Catalyst cascade's table, parsed with strptime formats
    steps = [
        (rx, pyfmt, ngroups == 2, yearless)
        for rx, ngroups, _, pyfmt, yearless in _SPARK_STEPS
    ]

    @pandas_udf(PARSED_SCHEMA)
    def grok(text: pd.Series) -> pd.DataFrame:
        text = text.fillna("")
        ts = pd.Series(pd.NaT, index=text.index, dtype="datetime64[us]")
        # first-char gate (same as ts_cascade_col): ISO-shaped
        # patterns need a digit first, name-shaped ones a letter —
        # rows of the other class (or neither) skip those regexes
        c1 = text.str.slice(0, 1)
        is_digit = c1.str.isdigit()
        is_alpha = c1.str.isalpha()
        step_gate = [is_digit, is_digit, is_alpha, is_alpha, is_digit, is_alpha]
        unparsed = pd.Series(True, index=text.index)
        for (rx, fmt, has_frac, yearless), gate in zip(steps, step_gate):
            mask = unparsed & gate
            if not mask.any():
                continue
            sub = text[mask]
            ext = sub.str.extract(rx, expand=True)
            head = ext[0]
            if has_frac:
                cand = head + "." + ext[1].str.pad(6, side="right", fillchar="0")
            else:
                cand = head
            hit = head.notna()
            if not hit.any():
                continue
            parsed = pd.to_datetime(cand[hit], format=fmt, errors="coerce")
            if yearless:
                # pandas fills missing years with 1900 like strptime
                parsed = parsed.map(
                    lambda d: d.replace(year=ref_year) if pd.notna(d) and d.year == 1900 else d
                )
            ok = parsed.notna()
            idx = parsed.index[ok]
            ts.loc[idx] = parsed[ok].astype("datetime64[us]")
            unparsed.loc[idx] = False

        no_nl = text.str.replace("\n", "", regex=False)
        has_pipe = no_nl.str.contains("|", regex=False)
        after = no_nl.str.split("|", n=1).str[1].fillna("").str.lstrip()
        message = after.where(has_pipe, no_nl)

        severity = message.str.extract(SEVERITY_RX, expand=False)
        subsystem = message.str.extract(SUBSYSTEM_RX, expand=False)
        prog = text.str.extract(SYSLOG_PROG_RX, expand=True)
        program = prog[1].where(prog[1].notna() & (prog[1] != ""))

        # exact int path. Two float64 traps to avoid: pd.to_numeric
        # coerces through float64 when NaN is present, and even
        # Series.map(...).astype("Int64") does (map stores None back
        # as np.nan, and object->Int64 with NaN routes via float64) —
        # both silently round pids above 2^53 where native
        # try_cast("long") stays exact. pd.array over python
        # ints/None is the exact construction. Regex guarantees
        # digits-only.
        def _pid(x):
            if not isinstance(x, str) or not x:
                return None
            v = int(x)
            return v if v <= 9223372036854775807 else None

        pid = pd.Series(
            pd.array([_pid(x) for x in prog[2]], dtype="Int64"),
            index=text.index,
        )
        return pd.DataFrame(
            {
                "event_ts": ts,
                "severity": severity,
                "subsystem": subsystem,
                "message": message,
                "program": program,
                "pid": pid,
            }
        )

    return grok
