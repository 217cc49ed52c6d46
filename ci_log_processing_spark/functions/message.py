"""Message extraction — reference `get_message`, logsender.py:368-372.

Exact semantics (golden: tests/test_logsender.py:1170-1175):
  * text after the FIRST '|' (multi-pipe lines keep later pipes),
    newline removed, left-stripped of every `str.isspace()` character
    (`WS`: tabs, vertical tab, no-break and ideographic spaces too,
    not just ' ');
  * no pipe -> whole line with newline removed, NOT stripped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the 29 code points str.lstrip() strips: those `str.isspace()` is
# True for
WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def get_message_py(line: str) -> str:
    """Pure-Python oracle."""
    try:
        return line.split("|", 1)[1].replace("\n", "").lstrip()
    except IndexError:
        return line.replace("\n", "")


def message_col(text: Column) -> Column:
    """Catalyst expression with identical semantics.

    NOTE: substring_index(text,'|',-1) would be WRONG for multi-pipe
    lines (it keeps text after the LAST pipe); split-limit-2 keeps
    everything after the first (SURVEY.md §2.2 P4).
    """
    # literal replace + instr/substr — no regex engine and no array
    # allocation in the hot path (regexp_replace + split built a
    # 2-element array per line)
    no_nl = F.replace(text, F.lit("\n"), F.lit(""))
    pipe_at = F.instr(no_nl, "|")
    after_pipe = F.ltrim(F.substr(no_nl, pipe_at + 1), F.lit(WS))
    return F.when(pipe_at > 0, after_pipe).otherwise(no_nl)


def message_sql_duckdb(text_expr: str) -> str:
    """DuckDB oracle for the same split."""
    no_nl = f"replace({text_expr}, chr(10), '')"
    return (
        f"CASE WHEN strpos({no_nl}, '|') > 0 "
        f"THEN ltrim(substr({no_nl}, strpos({no_nl}, '|') + 1), '{WS}') "
        f"ELSE {no_nl} END"
    )


def url_join_col(base, name):
    """F6 url join. The reference uses BOTH styles: urljoin for the
    scraper's download URLs (logscraper.py:361,622-627) and a plain
    string concat in the sender's per-doc log_url
    (logsender.py:543-544). This is the sender's concat variant with
    single-slash normalization — pure Catalyst.
    """
    from pyspark.sql import functions as F

    b = F.regexp_replace(base, "/+$", "")
    n = F.regexp_replace(name, "^/+", "")
    return F.concat(b, F.lit("/"), n)
