"""Timestamp-cascade golden table.

Cases mirror the reference's table test
(tests/test_logsender.py:1177-1194) and its fixture line classes:
six formats, year fill, the 14-char micro truncation quirk, and
non-matching lines. The pure-Python oracle, the Catalyst expression
and both parse engines must agree on every case; the job fills a
missing year from its batch_ts.
"""

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.functions.timestamps import (
    parse_timestamp_py,
    ts_cascade_col,
    ts_cascade_sql_duckdb,
)
from ci_log_processing_spark.plans.pipeline import (
    full_pipeline,
    parse_transcripts,
)

REF_YEAR = 2024

GOLDEN = [
    # (line, expected datetime or None)
    (
        "2022-03-21T08:39:18.220547Z | Last metadata expiration check",
        datetime.datetime(2022, 3, 21, 8, 39, 18, 220547),
    ),
    (
        "2022-02-28 09:39:09.596 | Job console starting...",
        datetime.datetime(2022, 2, 28, 9, 39, 9, 596000),
    ),
    # 14-char time window truncates micros: 795709 -> 795700
    (
        "Mar 31 04:50:23.795709 nested-virt some log",
        datetime.datetime(REF_YEAR, 3, 31, 4, 50, 23, 795700),
    ),
    (
        "Mar 21 09:33:23 fedora-rax-dfw sudo[2786]: zuul msg",
        datetime.datetime(REF_YEAR, 3, 21, 9, 33, 23),
    ),
    # first 19 iso chars of a multi-pipe ovs line
    (
        "2022-03-23T13:09:08.644Z|00040|connmgr|INFO|br-int: added",
        datetime.datetime(2022, 3, 23, 13, 9, 8),
    ),
    (
        "Friday 25 February 2022  09:27:51 +0000 (0:00:00.056)",
        datetime.datetime(2022, 2, 25, 9, 27, 51),
    ),
    # iso with offset, no fraction -> 19-char pattern
    (
        "2022-03-23T11:46:49+0000 some text",
        datetime.datetime(2022, 3, 23, 11, 46, 49),
    ),
    # a token ends at any str.isspace() character, and the syslog
    # day-time join is any of them
    (
        "2022-03-21T08:39:18.220547Z\xa0| no-break space",
        datetime.datetime(2022, 3, 21, 8, 39, 18, 220547),
    ),
    (
        "2022-03-21T08:39:18.220547Z\x0b| vertical tab",
        datetime.datetime(2022, 3, 21, 8, 39, 18, 220547),
    ),
    (
        "2022-02-28 09:39:09.5\u3000| ideographic space",
        datetime.datetime(2022, 2, 28, 9, 39, 9, 500000),
    ),
    (
        "Mar 31\u300004:50:23.795709 ideographic-joined syslog",
        datetime.datetime(REF_YEAR, 3, 31, 4, 50, 23, 795700),
    ),
    (
        "Mar 21 09:33:23\u2003host em space",
        datetime.datetime(REF_YEAR, 3, 21, 9, 33, 23),
    ),
    # 'SSSSSS' and %f read 1-6 fractional digits as a fraction; a
    # 7th digit fails step 1 and falls through to the 19 iso chars
    (
        "2022-03-25T17:40:37.1Z",
        datetime.datetime(2022, 3, 25, 17, 40, 37, 100000),
    ),
    (
        "2022-03-25T17:40:37.1234567Z y",
        datetime.datetime(2022, 3, 25, 17, 40, 37),
    ),
    (
        "2022-02-28 09:39:09.123456\t| tab",
        datetime.datetime(2022, 2, 28, 9, 39, 9, 123456),
    ),
    (
        "Mar 31\t04:50:23.12345",
        datetime.datetime(REF_YEAR, 3, 31, 4, 50, 23, 123450),
    ),
    ("Mar 31\t04:50:23.7 short frac", None),
    # the regex matches but the parse fails: the cascade falls through
    ("2022-02-30T10:00:00.5Z x", None),
    ("Feb 30 04:50:23.12345 x", None),
    # no timestamp at all
    ('    raise ValueError("boom")', None),
    ("-- Logs begin at Mon 2022-02-28 09:00:00 UTC. --", None),
    ("plain words only", None),
    ("", None),
]


@pytest.mark.parametrize("line,expected", GOLDEN)
def test_python_oracle(line, expected):
    assert parse_timestamp_py(line, REF_YEAR) == expected


def test_catalyst_cascade(spark):
    df = spark.createDataFrame([(line,) for line, _ in GOLDEN], "text string")
    got = (
        df.withColumn("ts", ts_cascade_col(F.col("text"), REF_YEAR))
        .select("text", "ts")
        .collect()
    )
    by_text = {r["text"]: r["ts"] for r in got}
    for line, expected in GOLDEN:
        assert by_text[line] == expected, line


def test_one_regex_evaluation_per_step(spark):
    # each of the six steps extracts its whole candidate once and
    # parses it as extracted, with no fraction padding
    plan = str(ts_cascade_col(F.col("text"), REF_YEAR))
    assert plan.count("regexp_extract(") == 6, plan
    assert "rpad(" not in plan, plan


def test_duckdb():
    con = duckdb.connect()
    sql = f"SELECT {ts_cascade_sql_duckdb('text', REF_YEAR)} FROM (SELECT ? AS text)"
    for line, expected in GOLDEN:
        assert con.execute(sql, [line]).fetchone()[0] == expected, line


@pytest.mark.parametrize("impl", ["native", "arrow"])
def test_parse_engines(spark, impl):
    df = spark.createDataFrame([(line,) for line, _ in GOLDEN], "text string")
    got = parse_transcripts(df, impl=impl).collect()
    by_text = {r["text"]: r["event_ts"] for r in got}
    for line, expected in GOLDEN:
        assert by_text[line] == expected, line


def test_year_from_batch_ts(spark):
    # the reference fills a missing year from its clock
    # (logsender.py:354-356); the job's clock is its batch_ts
    t0 = datetime.datetime(2025, 3, 1)
    df = spark.createDataFrame(
        [("c", 0, "assistant", "Mar 21 09:33:23 host sudo[1]: x", None, t0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    row = full_pipeline(df, spark, batch_ts="2025-03-01 00:00:00").first()
    assert row["event_ts"] == datetime.datetime(2025, 3, 21, 9, 33, 23)
