"""Routing: disjointness, coverage, precedence, drop reasons."""

import datetime

from pyspark.sql import functions as F

from ci_log_processing_spark.plans.pipeline import full_pipeline
from ci_log_processing_spark.sources.transcripts import load_transcripts

SF = "/root/testdata/sf0.001"


def test_sink_partition(spark):
    t = load_transcripts(spark, SF)
    routed = full_pipeline(t, spark)
    total = t.count()
    per_sink = {r["sink"]: r["cnt"] for r in routed.groupBy("sink").agg(F.count("*").alias("cnt")).collect()}
    # coverage: every row lands in exactly one sink
    assert sum(per_sink.values()) == total
    assert set(per_sink) == {"errors", "tool_calls", "agent_turns", "drop_queue"}
    # sink is derived from drop_reason: drop_queue iff a reason is set
    mismatched = routed.filter(
        (F.col("sink") == "drop_queue") != F.col("drop_reason").isNotNull()
    )
    assert mismatched.count() == 0


def test_precedence_and_reasons(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # DEBUG beats errors-severity (skip-debug checked in the scan,
        # before severity is even parsed — reference logsender.py:399)
        ("c1", 0, "assistant", "2022-02-28 09:39:09.5 | ERROR DEBUG both", None, t0),
        ("c1", 1, "assistant", "2022-02-28 09:39:09.5 | ERROR [nova] boom", None, t0),
        ("c1", 2, "tool", "2022-02-28 09:39:09.5 | TOOL bash x", "bash", t0),
        ("c1", 3, "user", "2022-02-28 09:39:09.5 | ", None, t0),
        ("c1", 4, "assistant", "2022-02-28 09:39:09.5 | plain INFO msg", None, t0),
        # tool-role ERROR routes to errors (severity precedence)
        ("c1", 5, "tool", "2022-02-28 09:39:09.5 | CRITICAL [x] y", "bash", t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    routed = full_pipeline(df, spark)
    out = {r["turn_idx"]: (r["sink"], r["drop_reason"]) for r in routed.collect()}
    assert out[0] == ("drop_queue", "debug")
    assert out[1] == ("errors", None)
    assert out[2] == ("tool_calls", None)
    assert out[3] == ("drop_queue", "empty_message")
    assert out[4] == ("agent_turns", None)
    assert out[5] == ("errors", None)


def test_no_metadata_routing(spark):
    # conversations absent from the conv-metadata table go WHOLLY to
    # drop_queue/no_metadata, with highest precedence — even over
    # DEBUG and errors rows (reference logsender.py:136-141: a dir
    # without buildinfo/inventory never routes anywhere)
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("has-meta", 0, "assistant",
         "2022-02-28 09:39:09.5 | ERROR [nova] boom", None, t0),
        ("no-meta", 0, "assistant",
         "2022-02-28 09:39:09.5 | ERROR [nova] boom", None, t0),
        ("no-meta", 1, "assistant",
         "2022-02-28 09:39:09.5 | DEBUG noisy", None, t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    meta = spark.createDataFrame([("has-meta",)], "conv_id string")
    routed = full_pipeline(df, spark, meta=meta)
    out = {
        (r["conv_id"], r["turn_idx"]): (r["sink"], r["drop_reason"])
        for r in routed.collect()
    }
    assert out[("has-meta", 0)] == ("errors", None)
    assert out[("no-meta", 0)] == ("drop_queue", "no_metadata")
    assert out[("no-meta", 1)] == ("drop_queue", "no_metadata")


def test_skip_debug_off(spark):
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("c1", 0, "assistant", "2022-02-28 09:39:09.5 | DEBUG noisy", None, t0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    routed = full_pipeline(df, spark, skip_debug=False)
    assert routed.collect()[0]["sink"] == "agent_turns"
