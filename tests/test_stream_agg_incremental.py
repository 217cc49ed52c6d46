"""Streaming rollup maintenance (streaming/agg_incremental.py):
fold == flat aggregate and replay idempotence of the batch-scoped
partial."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.streaming.agg_incremental import (
    _partial,
    read_rollup,
    run_agg_maintenance,
)


@pytest.fixture()
def work():
    d = tempfile.mkdtemp(prefix="agginc_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _transcripts(spark, n=60):
    return spark.range(n).select(
        F.concat(F.lit("conv-"), (F.col("id") % 5).cast("string")).alias(
            "conv_id"
        ),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.lit("2024-03-01T10:00:00.000000+00:00 host prog[1]: "
                  "INFO sub | msg "),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (
            F.to_timestamp(F.lit("2024-03-01 10:00:00"))
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
    )


def _flat(spark, df):
    return {
        (r.severity, r.window_start): r.cnt
        for r in _partial(df).collect()
    }


def test_fold_equals_flat_aggregate(spark, work):
    t = _transcripts(spark)
    in_dir = os.path.join(work, "in")
    t.repartition(3).write.parquet(in_dir)
    out = run_agg_maintenance(spark, in_dir, os.path.join(work, "out"))
    folded = {(r.severity, r.window_start): r.cnt for r in out.collect()}
    assert folded == _flat(spark, spark.read.parquet(in_dir))
    # three input files -> three batch partial dirs
    agg_dir = os.path.join(work, "out", "agg")
    assert sum(1 for d in os.listdir(agg_dir) if d.startswith("b")) == 3


def test_replayed_batch_overwrites_not_doubles(spark, work):
    t = _transcripts(spark)
    in_dir = os.path.join(work, "in")
    t.repartition(2).write.parquet(in_dir)
    out_dir = os.path.join(work, "out")
    before = {
        (r.severity, r.window_start): r.cnt
        for r in run_agg_maintenance(spark, in_dir, out_dir).collect()
    }
    # simulate an at-least-once replay of batch 0: recompute the same
    # partial and overwrite its directory a second time
    agg_dir = os.path.join(out_dir, "agg")
    _partial(spark.read.parquet(in_dir)).limit(0).unionByName(
        _partial(spark.read.parquet(in_dir))
    ).write.mode("overwrite").parquet(os.path.join(agg_dir, "b0"))
    # the fold changed only if b0's CONTENT changed; replaying the
    # true batch-0 input would rewrite identical content. Here we
    # overwrote with the FULL input's partial, so restore it to
    # prove overwrite (not append) semantics drove the change:
    replay_all = {
        (r.severity, r.window_start): r.cnt
        for r in read_rollup(spark, agg_dir).collect()
    }
    assert sum(replay_all.values()) > sum(before.values())
    # a second identical overwrite is idempotent
    _partial(spark.read.parquet(in_dir)).write.mode(
        "overwrite"
    ).parquet(os.path.join(agg_dir, "b0"))
    again = {
        (r.severity, r.window_start): r.cnt
        for r in read_rollup(spark, agg_dir).collect()
    }
    assert again == replay_all
