"""Grok-style severity / subsystem extraction and syslog program/pid.

Severity taxonomy and "severity followed by [module]" shape come
from the legacy Logstash oslofmt grok the reference repo carries
(opensearch-config/config/openstack-filters.conf:46-52) — the
richer semantics its Python rewrite dropped and our north star
restores.

One pattern text per field, read by every engine: Spark's
regexp_extract (java.util.regex), pyarrow's extract_regex and the
DuckDB twins (both RE2), and Python re in the tests. The three
dialects disagree on the escape classes for words, digits and
whitespace once text leaves ASCII, so the patterns spell every
class out instead.

`grok_cols` is the grok level, {severity, subsystem} over `message`,
and the only expression in which the two parse engines differ:
  * 'native' — Catalyst regexp_extract (whole-stage codegen);
  * 'arrow'  — ONE Arrow UDF whose body is pyarrow's C++ RE2
    extract_regex over the whole batch: no per-row Python.
Program and pid are Catalyst in both (program_col, pid_col).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from .timestamps import starts_with_letter

SEVERITIES = ("AUDIT", "CRITICAL", "DEBUG", "INFO", "TRACE", "WARNING", "ERROR")
# an ASCII word boundary as classes: RE2 has no lookaround, so the
# trailing one consumes the next character (or ends the text). The
# class is every code point but [A-Za-z0-9_], written as positive
# ranges: java.util.regex runs a pattern that starts with a negated
# class about 8x slower (severity + subsystem over 2M messages at
# local[4]: 12.3-13.7 s as [^A-Za-z0-9_], 1.5-1.7 s as ranges); RE2
# and Python re run both alike. \x00 stays an escape so no NUL
# reaches the twins' SQL text; U+10FFFF is the character itself.
_NOT_WORD = r"[\x00-/:-@\[-^`{-" + "\U0010ffff" + "]"
_SEVERITY = "|".join(SEVERITIES)
SEVERITY_RX = rf"(?:^|{_NOT_WORD})({_SEVERITY})(?:{_NOT_WORD}|$)"
# oslofmt: LOGLEVEL \[?module\]? — module directly after the severity
SUBSYSTEM_RX = rf"(?:^|{_NOT_WORD})(?:{_SEVERITY}) \[?([A-Za-z][A-Za-z0-9_.-]*)\]?"
# syslog program/pid after a SYSLOGTIMESTAMP + host:
# '%{DATA:syslog_program}(?:\[%{POSINT:syslog_pid}\])?:'
# (openstack-filters.conf:49) — e.g. 'Apr 05 12:00:00 host sudo[123]: msg'
# -> program 'sudo', pid 123; 'Apr 05 12:00:00.5 h kernel: x' -> 'kernel'.
# The host is RE2's non-space class, spelled out.
SYSLOG_PROG_RX = (
    r"^[A-Za-z]{3} [0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]+)? "
    r"([^\t\n\f\r ]+) ([A-Za-z0-9_./-]+)(?:\[([0-9]+)\])?:"
)

# the grok level's fields, each read from group 1 of its pattern
GROK_RX = {"severity": SEVERITY_RX, "subsystem": SUBSYSTEM_RX}


def _named(rx: str, name: str) -> str:
    """`rx` with its first capture group named `name`
    (extract_regex returns named groups only)."""
    return re.sub(r"(?<!\\)\((?!\?)", f"(?P<{name}>", rx, count=1)


def _grok_arrow(message):
    # unannotated: arrow_udf then defaults to a scalar Array -> Array
    # UDF, and pyarrow is imported only in the Python worker
    import pyarrow as pa
    import pyarrow.compute as pc

    return pa.StructArray.from_arrays(
        [
            pc.struct_field(pc.extract_regex(message, _named(rx, name)), [0])
            for name, rx in GROK_RX.items()
        ],
        names=list(GROK_RX),
    )


def grok_cols(message: Column, impl: str) -> dict[str, Column]:
    """{severity, subsystem} over `message`; NULL where the pattern
    does not match. `impl` is 'native' or 'arrow' (same results)."""
    if impl == "arrow":
        udf = arrow_udf(_grok_arrow, ", ".join(f"{n} string" for n in GROK_RX))
        g = udf(message)
        return {name: g[name] for name in GROK_RX}
    return {
        name: F.nullif(F.regexp_extract(message, rx, 1), F.lit(""))
        for name, rx in GROK_RX.items()
    }


def program_col(text: Column) -> Column:
    """syslog_program from the raw line (group 2 of SYSLOG_PROG_RX).
    SYSLOG_PROG_RX needs a month abbreviation first, so the lines that
    start with anything but a letter skip the regex."""
    return F.when(
        starts_with_letter(text),
        F.nullif(F.regexp_extract(text, SYSLOG_PROG_RX, 2), F.lit("")),
    )


def pid_col(text: Column) -> Column:
    """syslog_pid (group 3); NULL when the [pid] suffix is absent."""
    return F.when(
        starts_with_letter(text),
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
