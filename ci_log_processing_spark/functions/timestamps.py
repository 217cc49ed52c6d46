"""Timestamp-cascade parsing.

Semantics replicated from the reference's ordered six-pattern
cascade (logscraper/logsender.py:332-365 — `timestamp_patterns`,
`try_timestamp`, `get_timestamp`): each (regex, strptime-format)
pair is tried in order against the START of the line; the first
successful regex-match + strptime wins; a parse landing in the
year 1900 (formats without a year) has its year replaced.

Two deliberate determinism changes vs the reference (SURVEY.md §4):
  * the reference fills the missing year with *today's* year
    (logsender.py:354-356); the job takes the year of its
    ``batch_ts`` (plans/pipeline.RoutingPlan), so a rerun of the same
    batch parses the same instants;
  * Python's ``%f`` reads 1-6 fractional digits as a fraction
    ('.596' -> 596000 us), and so does Spark's 'SSSSSS'. DuckDB's
    '%f' reads '.596' as 596 us, so only the DuckDB twin right-pads
    the fraction to six digits before parsing.

Two implementations, one semantics, plus the DuckDB oracle twin:
  * ``parse_timestamp_py``  — pure Python (test oracle);
  * ``ts_cascade_col``      — Catalyst column expression (JVM-side,
    whole-stage-codegen); both parse engines use it.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .message import WS

# (python_regex, strptime_format) — ordered; first match wins.
# Reference: logsender.py:332-346.
TIMESTAMP_PATTERNS: list[tuple[str, str]] = [
    # 2022-03-25T17:40:37.220547Z
    (r"(\S+)", "%Y-%m-%dT%H:%M:%S.%fZ"),
    # 2022-02-28 09:44:58.839036
    (r"(\S+ \S+)", "%Y-%m-%d %H:%M:%S.%f"),
    # Mar 31 04:50:23.795709 — the 14-char time window truncates
    # microseconds to five digits (golden: 795709 -> 795700)
    (r"(\S+ [0-9]{2}\s[0-9:.]{14})", "%b %d %H:%M:%S.%f"),
    # Mar 25 17:40:37 (year guessed — see ref_year)
    (r"(\S+ \S+ \S+)", "%b %d %H:%M:%S"),
    # 2022-03-23T11:46:49+0000 — first 19 iso chars
    (r"([-0-9T:]{19})", "%Y-%m-%dT%H:%M:%S"),
    # Friday 25 February 2022  09:27:51 +0000 (ansible)
    (r"(\S+ [0-9]{2} \S+ [0-9: ]{14})", "%A %d %B %Y %H:%M:%S"),
]

_COMPILED = [(re.compile(rx), fmt) for rx, fmt in TIMESTAMP_PATTERNS]


def parse_timestamp_py(
    line: str, ref_year: int = 2024
) -> datetime.datetime | None:
    """Pure-Python cascade — the unit-test oracle.

    Reference behavior: try_timestamp/get_timestamp,
    logsender.py:349-365.
    """
    for regex, fmt in _COMPILED:
        m = regex.match(line)
        if not m:
            continue
        try:
            date = datetime.datetime.strptime(m.group(1), fmt)
        except ValueError:
            continue
        if date.year == 1900:
            date = date.replace(year=ref_year)
        return date
    return None


# --- Catalyst-expression implementation ------------------------------

# The reference's \S+ token ends at any str.isspace() character, and
# its \s (step 3's day-time join) is any of them; Java's and RE2's \s
# are ASCII-only, so both engines spell the class out.
_WS = f"[{WS}]"
_END = f"(?:{_WS}|$)"

# Anchored regex shapes (valid in Java and Python re), one per
# reference pattern, whose group 1 is the whole candidate; each entry
# is (regex, spark_format, yearless). 'SSSSSS' reads 1-6 fractional
# digits as a fraction, as strptime's %f does, so the candidate parses
# as extracted.
_SPARK_STEPS = [
    # 1: iso Z with fraction; \S+ token must be exactly this shape
    (
        r"^([0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{1,6})Z"
        + _END,
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        False,
    ),
    # 2: space-separated with fraction
    (
        r"^([0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{1,6})"
        + _END,
        "yyyy-MM-dd HH:mm:ss.SSSSSS",
        False,
    ),
    # 3: syslog w/ micros truncated to 5 digits by the reference's
    #    14-char window (logsender.py:338-339)
    (
        r"^([A-Za-z]{3} [0-9]{2}" + _WS + r"[0-9]{2}:[0-9]{2}:[0-9]{2}"
        r"\.[0-9]{5})",
        "MMM dd HH:mm:ss.SSSSSS",
        True,
    ),
    # 4: syslog without fraction (third \S+ token must be a bare time)
    (
        r"^([A-Za-z]{3} [0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2})" + _END,
        "MMM dd HH:mm:ss",
        True,
    ),
    # 5: first 19 iso chars
    (
        r"^([-0-9T:]{19})",
        "yyyy-MM-dd'T'HH:mm:ss",
        False,
    ),
    # 6: ansible long date (weekday validated by regex; Spark cannot
    #    parse EEEE so the weekday token is stripped before parsing).
    #    NO trailing anchor: the reference's `[0-9: ]{14}` window
    #    simply stops after the seconds, so 'HH:MM:SSgarbage' still
    #    parses (fuzz-verified parity, logsender.py:345)
    (
        r"^(?:Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday) "
        r"([0-9]{2} [A-Za-z]+ [0-9]{4}  [0-9]{2}:[0-9]{2}:[0-9]{2})",
        "dd MMMM yyyy  HH:mm:ss",
        False,
    ),
]
_SPACES = " " * len(WS)


def _spark_step(text: Column, rx: str, fmt: str) -> Column:
    # one regex evaluation per step; step 3's day-time join may be any
    # WS character, and no other candidate holds one but the format's
    # own spaces, so mapping them all to ' ' is exact
    candidate = F.nullif(F.regexp_extract(text, rx, 1), F.lit(""))
    return F.try_to_timestamp(F.translate(candidate, WS, _SPACES), F.lit(fmt))


def starts_with_letter(text: Column) -> Column:
    """True where `text` starts with an ASCII letter: the first-char
    gate of every name-shaped pattern (a month, weekday or syslog
    month abbreviation comes first)."""
    c = F.ascii(F.substring(text, 1, 1))
    return ((c >= 65) & (c <= 90)) | ((c >= 97) & (c <= 122))


def ts_cascade_col(text: Column, ref_year: int) -> Column:
    """The six-pattern cascade as a single Catalyst expression.

    Stays inside whole-stage codegen — no Python in the hot path.
    First-match-wins == coalesce of the ordered try-parses, because
    each step couples its regex and its parse (a step is NULL unless
    both succeed), exactly like the reference's try/except loop.
    """
    cols = []
    for rx, fmt, yearless in _SPARK_STEPS:
        ts = _spark_step(text, rx, fmt)
        if yearless:
            # Spark fills missing years with 1970 (Python: 1900);
            # both mean "no year in the text" -> ref_year.
            ts = ts + F.expr(f"INTERVAL {ref_year - 1970} YEARS")
        cols.append(ts)
    # Cheap first-character gate: every ISO-shaped pattern (1, 2, 5)
    # needs a digit first (a yyyy year even via the [-0-9T:]{19}
    # class), every name-shaped pattern (3, 4, 6) a letter. Gating
    # halves the regex attempts per line and lets the
    # no-timestamp-at-all lines (tracebacks, continuation) skip the
    # whole cascade: measured 30% faster on 20M rows, bit-identical
    # results. Lines starting with anything else can't match any
    # pattern -> NULL (the reference loop would fail all six, too).
    c1 = F.ascii(F.substring(text, 1, 1))
    is_digit = (c1 >= 48) & (c1 <= 57)
    return F.when(is_digit, F.coalesce(cols[0], cols[1], cols[4])).when(
        starts_with_letter(text), F.coalesce(cols[2], cols[3], cols[5])
    )


# --- portable SQL (oracle) -------------------------------------------


def ts_cascade_sql_duckdb(text_expr: str, ref_year: int) -> str:
    """The same cascade as DuckDB SQL (driver-side oracle).

    DuckDB's %f is value-left-padded (.596 == 596us) while Python
    right-pads; normalizing the fraction to six digits makes them
    agree.
    """
    t = text_expr
    yshift = f"to_years(CAST({ref_year} - 1900 AS INT))"

    def frac_step(rx: str, fmt: str, yearless: bool, heads: int = 1) -> str:
        head = ", ' ', ".join(
            f"regexp_extract({t}, '{rx}', {i})" for i in range(1, heads + 1)
        )
        frac = f"regexp_extract({t}, '{rx}', {heads + 1})"
        cand = f"concat({head}, '.', rpad({frac}, 6, '0'))"
        ts = f"try_strptime({cand}, '{fmt}')"
        return f"({ts} + {yshift})" if yearless else ts

    def plain_step(rx: str, fmt: str, yearless: bool) -> str:
        cand = f"regexp_extract({t}, '{rx}', 1)"
        ts = f"try_strptime(nullif({cand}, ''), '{fmt}')"
        return f"(CASE WHEN year({ts}) = 1900 THEN {ts} + {yshift} ELSE {ts} END)" if yearless else ts

    steps = [
        frac_step(
            r"^([0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})\.([0-9]{1,6})Z"
            + _END,
            "%Y-%m-%dT%H:%M:%S.%f",
            False,
        ),
        frac_step(
            r"^([0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2})\.([0-9]{1,6})"
            + _END,
            "%Y-%m-%d %H:%M:%S.%f",
            False,
        ),
        frac_step(
            r"^([A-Za-z]{3} [0-9]{2})" + _WS + r"([0-9]{2}:[0-9]{2}:[0-9]{2})"
            r"\.([0-9]{5})",
            "%b %d %H:%M:%S.%f",
            True,
            heads=2,
        ),
        plain_step(
            r"^([A-Za-z]{3} [0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2})" + _END,
            "%b %d %H:%M:%S",
            True,
        ),
        plain_step(r"^([-0-9T:]{19})", "%Y-%m-%dT%H:%M:%S", False),
        # no trailing anchor — reference's 14-char window stops after
        # the seconds regardless of what follows (logsender.py:345)
        plain_step(
            r"^((?:Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday) "
            r"[0-9]{2} [A-Za-z]+ [0-9]{4}  [0-9]{2}:[0-9]{2}:[0-9]{2})",
            "%A %d %B %Y %H:%M:%S",
            False,
        ),
    ]
    return "coalesce(" + ", ".join(steps) + ")"


def iso_serialize_col(ts):
    """F3: datetime.isoformat() parity at the sink boundary
    (reference logsender.py:419 serializes '@timestamp' with
    .isoformat()): microseconds are included — zero-padded to 6
    digits — IFF nonzero: '2022-02-28T09:39:09.596000' but
    '2022-02-28T19:51:55'. Pure Catalyst expression."""
    from pyspark.sql import functions as F

    base = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    # pmod, not %: pre-1970 instants have negative unix_micros, and a
    # negative remainder would lpad-truncate into garbage; pmod gives
    # the 0..999999 fractional field datetime.isoformat() carries
    micros = F.pmod(F.unix_micros(ts), F.lit(1000000))
    return F.when(ts.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(micros == 0, base).otherwise(
            F.concat(base, F.lit("."), F.lpad(micros.cast("string"), 6, "0"))
        )
    )


def iso_serialize_sql_duckdb(ts_expr: str) -> str:
    """DuckDB twin of iso_serialize_col."""
    return (
        f"CASE WHEN {ts_expr} IS NULL THEN NULL "
        f"WHEN epoch_us({ts_expr}) % 1000000 = 0 "
        f"THEN strftime({ts_expr}, '%Y-%m-%dT%H:%M:%S') "
        f"ELSE strftime({ts_expr}, '%Y-%m-%dT%H:%M:%S.%f') END"
    )
