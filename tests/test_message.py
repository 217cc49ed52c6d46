"""Message-split goldens — reference tests/test_logsender.py:1170-1175."""

import duckdb
import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.functions.message import (
    WS,
    get_message_py,
    message_col,
    message_sql_duckdb,
)

CASES = [
    # text after FIRST pipe, lstripped
    ("2022-02-28 09:39:09.596 | Job console starting...", "Job console starting..."),
    # multi-pipe keeps later pipes
    ("ts|a|b|c", "a|b|c"),
    # no pipe -> whole line (not stripped)
    ("  no pipe here", "  no pipe here"),
    # newline removed
    ("head | tail\n", "tail"),
    # empty after pipe
    ("2022-02-28 09:39:11.0 | ", ""),
    ("", ""),
    # every str.isspace() character is stripped, not only ' '
    ("ts |\tERROR [nova.compute] tab", "ERROR [nova.compute] tab"),
    ("ts |\r\x0bINFO y", "INFO y"),
    ("ts |\xa0\u3000 INFO z", "INFO z"),
    ("ts |\t", ""),
    # a non-space character stops the strip
    ("ts |\u3001x", "\u3001x"),
]


def test_ws_is_the_isspace_set():
    assert WS == "".join(c for c in map(chr, range(0x110000)) if c.isspace())


@pytest.mark.parametrize("line,expected", CASES)
def test_python(line, expected):
    assert get_message_py(line) == expected


def test_catalyst(spark):
    df = spark.createDataFrame([(i, line) for i, (line, _) in enumerate(CASES)], "i int, text string")
    got = {r["i"]: r["m"] for r in df.select("i", message_col(F.col("text")).alias("m")).collect()}
    for i, (_, expected) in enumerate(CASES):
        assert got[i] == expected, CASES[i]


def test_duckdb():
    con = duckdb.connect()
    for line, expected in CASES:
        got = con.execute(
            f"SELECT {message_sql_duckdb('text')} FROM (SELECT ? AS text)",
            [line],
        ).fetchone()[0]
        assert got == expected, line


def test_url_join(spark):
    from ci_log_processing_spark.functions.message import url_join_col
    from pyspark.sql import functions as F

    rows = [
        ("https://logs.example/build/42/", "job-output.txt"),
        ("https://logs.example/build/42", "/job-output.txt"),
        ("https://logs.example/build/42/", "/logs/job.log.gz"),
    ]
    df = spark.createDataFrame(rows, "base string, name string")
    got = [
        r["u"]
        for r in df.select(
            url_join_col(F.col("base"), F.col("name")).alias("u")
        ).collect()
    ]
    assert got == [
        "https://logs.example/build/42/job-output.txt",
        "https://logs.example/build/42/job-output.txt",
        "https://logs.example/build/42/logs/job.log.gz",
    ]
