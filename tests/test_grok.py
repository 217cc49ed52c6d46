"""Grok field goldens: severity/subsystem (oslofmt) + syslog
program/pid (openstack-filters.conf:49) + F3 ISO serialization
(logsender.py:419), on both parse impls; and the one-dialect rule
for the pattern text Spark and the DuckDB twins share."""

import ast
import datetime as dt
import inspect
import re

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from ci_log_processing_spark.functions import grok, message, timestamps
from ci_log_processing_spark.functions.timestamps import iso_serialize_col
from ci_log_processing_spark.plans.pipeline import parse_transcripts

TS = dt.datetime(2024, 1, 1)

LINES = [
    # (text, severity, subsystem, program, pid)
    ("2022-02-28 09:39:09.596 | ERROR [nova.compute.manager] boom",
     "ERROR", "nova.compute.manager", None, None),
    ("Apr 05 12:00:00.123456 host-7 kernel: something happened",
     None, None, "kernel", None),
    ("Apr 05 12:00:00 myhost sudo[4242]: zuul executed command",
     None, None, "sudo", 4242),
    ("2022-02-28 09:39:09.5 | INFO keystone.auth token issued",
     "INFO", "keystone.auth", None, None),
    ("    raise ValueError('continuation, nothing extractable')",
     None, None, None, None),
    # non-ASCII neighbours are not word characters in any engine
    ("2024-01-01 00:00:00 | \u00e9DEBUG x", "DEBUG", "x", None, None),
    ("2024-01-01 00:00:00 | e\u0301ERROR [nova.x] y",
     "ERROR", "nova.x", None, None),
    ("2024-01-01 00:00:00 | \u0663ERROR", "ERROR", None, None, None),
    ("2024-01-01 00:00:00 | \u00b2ERROR x", "ERROR", "x", None, None),
    ("2024-01-01 00:00:00 | ERRORS x_INFO INFO9 _WARNING",
     None, None, None, None),
    # the host is any run of characters but \t \n \f \r and space
    ("Apr 05 12:00:00 ho\x0bst sudo[1]: x", None, None, "sudo", 1),
    ("Apr 05 12:00:00 ho\xa0st sudo[1]: x", None, None, "sudo", 1),
    ("Apr 05 12:00:00 ho\tst sudo[1]: x", None, None, None, None),
]


def _parse(spark, impl):
    df = spark.createDataFrame(
        [("c1", i, "assistant", text, None, TS)
         for i, (text, *_rest) in enumerate(LINES)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    return {
        r["turn_idx"]: r
        for r in parse_transcripts(df, impl=impl).collect()
    }


def test_grok_fields_both_impls(spark):
    for impl in ("native", "arrow"):
        got = _parse(spark, impl)
        for i, (_text, sev, sub, prog, pid) in enumerate(LINES):
            r = got[i]
            assert r["severity"] == sev, (impl, i)
            assert r["subsystem"] == sub, (impl, i)
            assert r["program"] == prog, (impl, i)
            assert r["pid"] == pid, (impl, i)


def test_iso_serialize_micros_iff_nonzero(spark):
    rows = [
        (0, dt.datetime(2022, 2, 28, 9, 39, 9, 596000)),
        (1, dt.datetime(2022, 2, 28, 19, 51, 55)),          # micros 0
        (2, dt.datetime(2024, 1, 1, 0, 0, 0, 7)),           # pad to 6
        (3, None),
        # pre-1970: unix_micros is negative; pmod must still yield
        # the 0..999999 fractional field isoformat carries
        (4, dt.datetime(1960, 6, 1, 12, 0, 0, 250000)),
    ]
    df = spark.createDataFrame(rows, "i int, ts timestamp")
    got = {
        r["i"]: r["iso"]
        for r in df.select(
            "i", iso_serialize_col(F.col("ts")).alias("iso")
        ).collect()
    }
    # datetime.isoformat() goldens (reference logsender.py:419)
    assert got[0] == "2022-02-28T09:39:09.596000"
    assert got[1] == "2022-02-28T19:51:55"
    assert got[2] == "2024-01-01T00:00:00.000007"
    assert got[3] is None
    assert got[4] == "1960-06-01T12:00:00.250000"
    for i, ts in rows:
        if ts is not None:
            assert got[i] == ts.isoformat()


# an odd run of backslashes before one of these letters: a class whose
# meaning differs between java.util.regex, RE2 and Python re
_DIALECT_ESCAPE = re.compile(r"(?<!\\)(?:\\\\)*\\[bBsSwWdD]")


def _shared_pattern_texts():
    for mod in (grok, message):
        for node in ast.walk(ast.parse(inspect.getsource(mod))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                yield mod.__name__, node.value
        for name, value in vars(mod).items():
            if isinstance(value, str):
                yield f"{mod.__name__}.{name}", value
    for i, (rx, *_rest) in enumerate(timestamps._SPARK_STEPS):
        yield f"_SPARK_STEPS[{i}]", rx


def test_shared_patterns_spell_out_classes():
    texts = list(_shared_pattern_texts())
    assert any(name.endswith("SEVERITY_RX") for name, _ in texts)
    bad = [(n, t) for n, t in texts if _DIALECT_ESCAPE.search(t)]
    assert not bad, bad


def _is_word(cp):
    return chr(cp) == "_" or (chr(cp).isascii() and chr(cp).isalnum())


def test_not_word_is_the_ascii_word_complement(spark):
    # _NOT_WORD spells [^A-Za-z0-9_] as positive ranges up to U+10FFFF;
    # a wrong range end would move answers on characters neither the
    # fuzz nor the gate draws
    rx = grok._NOT_WORD
    scalars = [cp for cp in range(0x110000) if not 0xD800 <= cp <= 0xDFFF]
    # a code point is wrong where the class matches it exactly when
    # it is a word character
    full = re.compile(rx)
    wrong = [cp for cp in scalars if bool(full.fullmatch(chr(cp))) == _is_word(cp)]
    assert not wrong, wrong
    wrong = duckdb.sql(
        f"SELECT list(i) FROM (SELECT chr(i::INT) AS c, i FROM ("
        f"FROM range(0, {0xD800}) UNION ALL FROM range({0xE000}, {0x110000})"
        f") t(i)) WHERE regexp_full_match(c, '{rx}') = "
        "regexp_full_match(c, '[A-Za-z0-9_]')"
    ).fetchone()[0]
    assert not wrong, wrong
    # Spark and pyarrow: each range end +-1 and the plane edges
    ends = (0x00, 0x2F, 0x3A, 0x40, 0x5B, 0x5E, 0x60, 0x7B, 0x10FFFF)
    probes = sorted(
        {cp + d for cp in ends for d in (-1, 0, 1)} & set(scalars)
        | {0xD7FF, 0xE000, 0xFFFF, 0x10000, 0x10FFFF}
    )
    expected = [not _is_word(cp) for cp in probes]
    df = spark.createDataFrame([(chr(cp),) for cp in probes], "c string")
    got = df.select(F.col("c").rlike(f"^{rx}$").alias("m")).collect()
    assert [r["m"] for r in got] == expected
    arr = pa.array([chr(cp) for cp in probes])
    assert pc.match_substring_regex(arr, f"^{rx}$").to_pylist() == expected
