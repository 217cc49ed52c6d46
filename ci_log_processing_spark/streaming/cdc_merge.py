"""Streaming CDC merge with BUCKET-granularity rewrite — the
continuously-merged keyed table (Delta/Iceberg MERGE loop) built
from plain parquet + the batch-scoped-version idempotence contract.

apply_cdc (operators/snapshot.py) states the row-granularity merge
property: untouched rows are never rewritten. At 100 TB the property
that actually matters is FILE-granularity: a MERGE must not rewrite
files holding no touched key. This module upgrades the claim: the
snapshot lives as hash buckets (`bucket=<i>/v<version>/`), each
micro-batch rewrites ONLY the buckets its delta touches, and every
rewrite lands in a NEW version directory — nothing is updated in
place.

Versioning / replay contract (foreachBatch is at-least-once):
  * bootstrap writes version 0; batch b writes version b+1, but
    only under TOUCHED buckets — a bucket's latest version trails
    the batch counter and that is by design.
  * a batch READS each touched bucket at its latest version <= b
    (strictly below its own b+1), so a crashed attempt's partial
    v(b+1) directories are invisible to the replay, which re-derives
    the identical merge and overwrites them — the replay rule of
    streaming/partials.py (read only what earlier batches wrote),
    generalized to versions.
  * the merged output is staged under a batch-scoped directory and
    promoted bucket-by-bucket with a delete-then-rename; every
    failure window leaves either the old latest or a complete new
    v(b+1), never a half-visible version.

Scale shape per batch: the delta aggregates to its touched-bucket
set (delta-sized), the read is partition-pruned to touched buckets
at explicit paths (no full-snapshot listing beyond the bucket dirs),
the merge is apply_cdc's delta-window + anti-join, and the write is
one job partitioned by bucket. Cost tracks |touched buckets| x
bucket size, never snapshot size — CDC_BUCKETS is chosen so a bucket
is a few files' worth, exactly like table bucketing.

Time travel falls out: read_snapshot(version=V) picks each bucket's
latest version <= V — every batch boundary is a readable snapshot
(snapshot_asof's seq-prefix law at bucket granularity).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import hadoop_fs
from .partials import drain

CDC_STREAM_SCHEMA = (
    "doc_id long, op string, seq long, text string"
)

_PAYLOAD = ["text"]
# hash buckets of the merged snapshot table
CDC_BUCKETS = 8


def _bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(CDC_BUCKETS))


def _latest_versions(
    spark: SparkSession, snap_dir: str, max_version: int
) -> dict[int, int]:
    """bucket -> latest version <= max_version (Hadoop FS listing,
    object-store safe)."""
    fs, Path = hadoop_fs(spark, snap_dir)
    root = Path(snap_dir)
    out: dict[int, int] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        best = -1
        for vst in fs.listStatus(st.getPath()):
            vn = vst.getPath().getName()
            if vn.startswith("v"):
                v = int(vn[1:])
                if v <= max_version and v > best:
                    best = v
        if best >= 0:
            out[b] = best
    return out


def bootstrap_snapshot(base: DataFrame, snap_dir: str) -> None:
    """Write the initial snapshot as version 0 of every bucket."""
    staged = os.path.join(snap_dir, "_stage_bootstrap")
    (
        base.withColumn("bucket", _bucket(F.col("doc_id")))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    spark = base.sparkSession
    _promote(spark, staged, snap_dir, version=0)


def _promote(
    spark: SparkSession, staged: str, snap_dir: str, version: int
) -> None:
    """Move each staged bucket=<i> dir to bucket=<i>/v<version>.
    delete-then-rename per bucket: a crash leaves either the prior
    latest (rename not reached) or a complete new version (rename
    atomic per directory) — readers at version-1 never see halves."""
    fs, Path = hadoop_fs(spark, snap_dir)
    sroot = Path(staged)
    for st in fs.listStatus(sroot):
        name = st.getPath().getName()
        if not name.startswith("bucket="):
            continue
        dest_dir = Path(os.path.join(snap_dir, name))
        fs.mkdirs(dest_dir)
        dest = Path(os.path.join(snap_dir, name, f"v{version}"))
        if fs.exists(dest):  # failed prior attempt of this batch
            fs.delete(dest, True)
        fs.rename(st.getPath(), dest)
    fs.delete(sroot, True)


def read_snapshot(
    spark: SparkSession,
    snap_dir: str,
    version: int = 1 << 60,
) -> DataFrame:
    """The merged table at a version boundary: each bucket's latest
    version <= `version`, union-read at explicit paths."""
    latest = _latest_versions(spark, snap_dir, version)
    if not latest:
        return spark.createDataFrame(
            [], f"doc_id long, {', '.join(c + ' string' for c in _PAYLOAD)}"
        )
    paths = [
        os.path.join(snap_dir, f"bucket={b}", f"v{v}")
        for b, v in sorted(latest.items())
    ]
    return spark.read.parquet(*paths).select("doc_id", *_PAYLOAD)


def run_cdc_merge(
    spark: SparkSession,
    changes_dir: str,
    snap_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain a CDC change stream (availableNow) into the bucketed
    snapshot; returns the final merged table read back."""
    from ..operators.snapshot import apply_cdc

    def _process(batch: DataFrame, batch_id: int) -> None:
        version = batch_id + 1
        delta = batch.withColumn("bucket", _bucket(F.col("doc_id"))).persist()
        try:
            touched = sorted(
                r.bucket
                for r in delta.select("bucket").distinct().collect()
            )
            if not touched:
                return
            latest = _latest_versions(
                batch.sparkSession, snap_dir, batch_id
            )
            paths = [
                os.path.join(snap_dir, f"bucket={b}", f"v{latest[b]}")
                for b in touched
                if b in latest
            ]
            if paths:
                current = batch.sparkSession.read.parquet(
                    *paths
                ).select("doc_id", *_PAYLOAD)
            else:
                current = batch.sparkSession.createDataFrame(
                    [],
                    "doc_id long, "
                    + ", ".join(c + " string" for c in _PAYLOAD),
                )
            merged = apply_cdc(
                current, delta.select("doc_id", "op", "seq", *_PAYLOAD)
            )
            staged = os.path.join(snap_dir, f"_stage_b{batch_id}")
            (
                merged.withColumn("bucket", _bucket(F.col("doc_id")))
                # key-sorted within each bucket file: parquet zone
                # maps then prune point lookups inside a bucket, the
                # same reason bucketed tables sort on the bucket key
                .sortWithinPartitions("bucket", "doc_id")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staged)
            )
            _promote(batch.sparkSession, staged, snap_dir, version)
        finally:
            delta.unpersist()

    drain(
        spark,
        CDC_STREAM_SCHEMA,
        changes_dir,
        checkpoint_dir,
        _process,
        max_files_per_trigger=1,
    )
    return read_snapshot(spark, snap_dir)
