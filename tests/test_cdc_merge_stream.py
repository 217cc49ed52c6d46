"""Streaming CDC merge (streaming/cdc_merge.py): final state vs
sequential replay, bucket-granularity rewrite (untouched buckets
keep their old version), replay-exclusion of a crashed attempt's
partial version, and version-boundary time travel."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.streaming.cdc_merge import (
    CDC_BUCKETS,
    _latest_versions,
    bootstrap_snapshot,
    read_snapshot,
    run_cdc_merge,
)


@pytest.fixture()
def work():
    d = tempfile.mkdtemp(prefix="cdcm_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _base(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("base-"), F.col("id").cast("string")).alias(
            "text"
        ),
    )


def _write_batches(spark, ch_dir, batches):
    """each entry: list of (doc_id, op, seq, text) -> one file, in
    order (file mtimes force batch order)."""
    import time

    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "doc_id long, op string, seq long, text string"
        )
        df.coalesce(1).write.mode("append").parquet(ch_dir)
        time.sleep(1.1)  # distinct mtime seconds -> stable order


def test_sequential_merge_and_bucket_rewrite(spark, work):
    snap = os.path.join(work, "snap")
    bootstrap_snapshot(_base(spark), snap)
    v0 = _latest_versions(spark, snap, 1 << 60)
    assert set(v0.values()) == {0}

    ch_dir = os.path.join(work, "ch")
    _write_batches(
        spark,
        ch_dir,
        [
            [(1, "U", 1, "one-v2"), (2, "D", 2, "x")],
            [(1, "U", 3, "one-v3"), (100, "I", 4, "hundred")],
        ],
    )
    out = run_cdc_merge(spark, ch_dir, snap, os.path.join(work, "chk"))
    got = {r.doc_id: r.text for r in out.collect()}
    assert got[1] == "one-v3"
    assert 2 not in got
    assert got[100] == "hundred"
    assert got[5] == "base-5"
    assert len(got) == 40  # 40 - 1 delete + 1 insert

    # bucket-granularity: only buckets touched by some batch moved
    # past version 0
    latest = _latest_versions(spark, snap, 1 << 60)
    assert min(latest.values()) == 0  # some bucket was never touched
    assert max(latest.values()) >= 1


def test_time_travel_at_version_boundaries(spark, work):
    snap = os.path.join(work, "snap")
    bootstrap_snapshot(_base(spark, 10), snap)
    ch_dir = os.path.join(work, "ch")
    _write_batches(
        spark,
        ch_dir,
        [
            [(3, "D", 1, "x")],
            [(3, "I", 2, "three-back")],
        ],
    )
    run_cdc_merge(spark, ch_dir, snap, os.path.join(work, "chk"))
    v0 = {r.doc_id: r.text for r in read_snapshot(spark, snap, 0).collect()}
    assert v0[3] == "base-3" and len(v0) == 10
    v_final = {
        r.doc_id: r.text for r in read_snapshot(spark, snap).collect()
    }
    assert v_final[3] == "three-back" and len(v_final) == 10
    # the two middle states differ in exactly doc 3's presence
    mids = [
        {r.doc_id: r.text
         for r in read_snapshot(spark, snap, v).collect()}
        for v in (1, 2)
    ]
    assert any(3 not in m and len(m) == 9 for m in mids)


def test_replay_excludes_own_partial_version(spark, work):
    snap = os.path.join(work, "snap")
    bootstrap_snapshot(_base(spark, 10), snap)
    # simulate a crashed batch-0 attempt: a partial v1 exists in the
    # bucket doc 0 hashes to, with GARBAGE content; the real batch 0
    # must neither read it (version exclusion) nor leave it behind
    # (delete-then-rename promote)
    b0 = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(0).cast("long")), F.lit(CDC_BUCKETS)).alias(
            "b"
        )
    ).collect()[0].b
    garbage_dir = os.path.join(snap, f"bucket={b0}", "v1")
    spark.createDataFrame(
        [(999, "GARBAGE")], "doc_id long, text string"
    ).write.parquet(garbage_dir)

    ch_dir = os.path.join(work, "ch")
    _write_batches(spark, ch_dir, [[(0, "U", 1, "zero-v2")]])
    out = run_cdc_merge(spark, ch_dir, snap, os.path.join(work, "chk"))
    got = {r.doc_id: r.text for r in out.collect()}
    assert 999 not in got  # garbage replaced, not merged
    assert got[0] == "zero-v2"
    assert len(got) == 10
