"""Seeded fuzz parity: on randomized log lines, the pure-Python
reference (cascade and message split), both parse engines — all
Catalyst, and Catalyst plus the Arrow grok UDF on RE2 — and the
DuckDB twins must agree exactly (timestamp AND message/severity/
subsystem/program/pid). The grok fields are also read with Python re
from the same pattern text, so all three regex dialects (Java, RE2,
Python) are held to one answer. Severity words and syslog hosts get
neighbours drawn from Unicode letters, marks, digits, numbers, spaces
and controls, where those dialects' escape classes part ways. This
is the cross-impl guard the reference has no analog of (its one
implementation IS the spec); here several exist and must never
drift."""

import datetime as dt
import random
import re
import sys
import unicodedata

import duckdb
import pyarrow as pa

from ci_log_processing_spark.functions.grok import (
    SEVERITIES,
    SEVERITY_RX,
    SUBSYSTEM_RX,
    SYSLOG_PROG_RX,
    pid_sql_duckdb,
    program_sql_duckdb,
    severity_sql_duckdb,
    subsystem_sql_duckdb,
)
from ci_log_processing_spark.functions.message import (
    get_message_py,
    message_sql_duckdb,
)
from ci_log_processing_spark.functions.timestamps import parse_timestamp_py
from ci_log_processing_spark.plans.pipeline import parse_transcripts

SEED = 20260817
N_LINES = 600

MONTHS = ["Jan", "Feb", "Mar", "Apr", "Sep", "Dec"]
DAYS = ["Monday", "Tuesday", "Friday", "Sunday"]
MONTH_FULL = ["January", "March", "September", "December"]
PAYLOADS = [
    "",
    " ",
    " | ERROR [nova.compute.manager] boom",
    " | plain message",
    " host-3 kernel: event",
    " myhost sudo[77]: ran thing",
    # pids around/over 2^53 and 2^63: float64 would corrupt the
    # first and blow up on the second — exact paths must agree
    " h prog[9007199254740993]: big pid",
    " h prog[9223372036854775808]: over int64",
    " | TOOL bash invoke",
    "garbage trailing | with | pipes",
    " | DEBUG detail",
    # whitespace str.lstrip() strips after the pipe, beyond ' '
    " |\tERROR [nova.compute] tab",
    " |\x0bINFO [vt.mod] vertical tab",
    " |\xa0WARNING no-break space",
    " |\u3000INFO ideographic space",
    # whitespace the reference's \S+ stops at, right after the
    # timestamp
    "\xa0| no-break space after the timestamp",
    "\u3000| ideographic space after the timestamp",
    "\x0b| vertical tab after the timestamp",
    "\t| tab after the timestamp",
    "    raise ValueError('x')",
    "-- Logs begin at Mon 2024-01-01 00:00:00 UTC. --",
]


def _rand_lines(rng: random.Random) -> list[str]:
    lines = []
    for _ in range(N_LINES):
        kind = rng.randrange(9)
        frac = rng.choice(["", f".{rng.randrange(10**6):06d}"[:rng.randrange(2, 8)]])
        y, mo, d = rng.randrange(2020, 2026), rng.randrange(1, 13), rng.randrange(1, 29)
        h, mi, s = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        if kind == 0:
            head = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}{frac}Z"
        elif kind == 1:
            head = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}{frac}"
        elif kind == 2:
            head = (
                f"{rng.choice(MONTHS)} {d:02d} {h:02d}:{mi:02d}:{s:02d}"
                f".{rng.randrange(10**6):06d}"
            )
        elif kind == 3:
            head = f"{rng.choice(MONTHS)} {d:02d} {h:02d}:{mi:02d}:{s:02d}"
        elif kind == 4:
            head = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}"
        elif kind == 5:
            head = (
                f"{rng.choice(DAYS)} {d:02d} {rng.choice(MONTH_FULL)} "
                f"{y:04d}  {h:02d}:{mi:02d}:{s:02d}"
            )
        elif kind == 6:
            head = ""  # bare payload, no timestamp
        elif kind == 7:
            head = f"{y:04d}-{mo:02d}-{d:02d}"  # too short to parse
        else:
            head = f"{rng.randrange(10**10)}"  # numeric noise
        lines.append(head + rng.choice(PAYLOADS))
    return lines


# Unicode categories whose members sit next to severity words and
# inside syslog hosts; NUL is left out (not a character a log line
# carries, and not one every engine passes through)
NEIGHBOUR_CATEGORIES = ("Ll", "Lu", "Mn", "Nd", "No", "Nl", "Zs", "Cc")
N_NEIGHBOUR_LINES = 600


def _by_category() -> dict[str, list[str]]:
    pools = {c: [] for c in NEIGHBOUR_CATEGORIES}
    for cp in range(1, sys.maxunicode + 1):
        pool = pools.get(unicodedata.category(chr(cp)))
        if pool is not None:
            pool.append(chr(cp))
    return pools


def _neighbour_lines(rng: random.Random) -> list[str]:
    pools = _by_category()

    def ch():
        return rng.choice(pools[rng.choice(NEIGHBOUR_CATEGORIES)])

    lines = []
    for _ in range(N_NEIGHBOUR_LINES):
        if rng.randrange(2):
            sev = rng.choice(SEVERITIES)
            pre = rng.choice(["", "x", "a "])
            body = rng.choice([
                f"{pre}{ch()}{sev}{ch()} [nova.x] boom",
                f"{pre}{ch()}{sev} {ch()}mod.y tail",
                f"{pre}{sev}{ch()}",
            ])
            lines.append(f"2024-01-01 00:00:00.5 | {body}")
        else:
            host = rng.choice([f"{ch()}host", f"ho{ch()}st", f"host{ch()}"])
            lines.append(f"Apr 05 12:00:00 {host} sudo[{rng.randrange(99)}]: x")
    return lines


def _python_re(line: str, msg: str) -> dict:
    """The grok fields by Python re over the shared pattern text."""
    sev = re.search(SEVERITY_RX, msg)
    sub = re.search(SUBSYSTEM_RX, msg)
    prog = re.search(SYSLOG_PROG_RX, line)
    pid = prog and prog.group(3) and int(prog.group(3))
    return {
        "severity": sev and sev.group(1),
        "subsystem": sub and sub.group(1),
        "program": prog and prog.group(2),
        "pid": pid if pid is not None and pid < 2**63 else None,
    }


def _duckdb_twins(lines: list[str]) -> dict[int, dict]:
    con = duckdb.connect()
    con.register("t", pa.table({"i": range(len(lines)), "text": lines}))
    msg = message_sql_duckdb("text")
    rows = con.execute(
        f"SELECT i, {severity_sql_duckdb(msg)}, {subsystem_sql_duckdb(msg)}, "
        f"{program_sql_duckdb('text')}, {pid_sql_duckdb('text')} FROM t"
    ).fetchall()
    cols = ("severity", "subsystem", "program", "pid")
    return {i: dict(zip(cols, rest)) for i, *rest in rows}


def test_three_impl_parity(spark):
    rng = random.Random(SEED)
    lines = _rand_lines(rng) + _neighbour_lines(rng)
    df = spark.createDataFrame(
        [("c", i, "assistant", ln, None, dt.datetime(2024, 1, 1))
         for i, ln in enumerate(lines)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    native = {r["turn_idx"]: r for r in parse_transcripts(df).collect()}
    arrow = {
        r["turn_idx"]: r
        for r in parse_transcripts(df, impl="arrow").collect()
    }
    twins = _duckdb_twins(lines)
    mismatches = []
    for i, ln in enumerate(lines):
        py_ts = parse_timestamp_py(ln)
        py_msg = get_message_py(ln)
        for name, got in (("native", native[i]), ("arrow", arrow[i])):
            if got["event_ts"] != py_ts or got["message"] != py_msg:
                mismatches.append((name, i, ln, got["event_ts"], py_ts))
        for col in ("severity", "subsystem", "message", "program", "pid"):
            if native[i][col] != arrow[i][col]:
                mismatches.append(("cross", i, ln, col))
        for name, want in (("re", _python_re(ln, py_msg)), ("duckdb", twins[i])):
            for col, v in want.items():
                if native[i][col] != v:
                    mismatches.append((name, i, ln, col, native[i][col], v))
    assert not mismatches, mismatches[:5]
