"""Checkpoint / resume — the reference's sqlite BuildCache
(logscraper.py:227-292: uid+timestamp rows, `contains` dedup before
download, 1-day TTL clean) as a parquet manifest + left-anti join.

A run records every conv_id it fully processed; the next run
anti-joins the input against the manifest so already-processed
conversations are skipped — kill-and-rerun yields identical sink
contents with no duplicates (at-least-once delivery + idempotent
skip, reference logsender.py:550-560 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import hadoop_fs


def _fs_rename(fs, src, dst) -> bool:
    """Single rename seam — every rename in the expiry swap goes
    through here so crash-injection tests can kill the process (by
    raising) between any rename pair and assert recovery."""
    return fs.rename(src, dst)


def read_checkpoint(spark: SparkSession, ckpt_dir: str) -> DataFrame | None:
    """None when no manifest exists yet.

    Existence is probed through the Hadoop FileSystem API, NOT
    os.path.exists: on an HDFS/S3 checkpoint URI the local-path probe
    is always false, which would make every run silently skip the
    anti-join (sink duplication on re-run) and turn expiry into a
    no-op — the same remote-FS trap expire_checkpoint's boolean
    checks guard against. The parquet-read fallback still catches a
    dir that exists but holds no readable footer (e.g. a run killed
    mid-first-write).

    Crash-window recovery: expire_checkpoint's swap renames the live
    manifest to .expire_old before moving the rewritten one in. A
    process killed between those renames leaves ckpt_dir ABSENT with
    the complete pre-expiry manifest at .expire_old — without this
    fallback the next run would read None, skip the anti-join, and
    duplicate sink output. Restoring (rename old -> ckpt_dir) here
    makes the swap recoverable at every kill point; the only cost is
    that the expiry is redone (keep-set filtering is idempotent)."""
    fs, Path = hadoop_fs(spark, ckpt_dir)
    path = Path(ckpt_dir)
    if not fs.exists(path):
        old = Path(ckpt_dir.rstrip("/") + ".expire_old")
        if not (fs.exists(old) and _fs_rename(fs, old, path)):
            return None
    try:
        return spark.read.parquet(ckpt_dir)
    except Exception:
        return None


def filter_unprocessed(
    spark: SparkSession, transcripts: DataFrame, ckpt_dir: str
) -> tuple[DataFrame, int]:
    """Drop conversations already recorded in the checkpoint.

    Returns (remaining transcripts, number of skipped convs).
    The checkpoint side is tiny relative to the fact table, so it is
    broadcast — the anti-join never shuffles the 10^12-turn side.
    """
    ckpt = read_checkpoint(spark, ckpt_dir)
    if ckpt is None:
        return transcripts, 0
    done = ckpt.select("conv_id").distinct()
    n_done = done.count()
    remaining = transcripts.join(F.broadcast(done), "conv_id", "left_anti")
    return remaining, n_done


def write_checkpoint(routed: DataFrame, ckpt_dir: str) -> None:
    """Append the processed conv manifest (conv_id, rows)."""
    manifest = routed.groupBy("conv_id").agg(F.count(F.lit(1)).alias("rows"))
    manifest.write.mode("append").parquet(ckpt_dir)


def expire_checkpoint(
    spark: SparkSession, ckpt_dir: str, keep_conv_ids: DataFrame
) -> None:
    """TTL maintenance analog (BuildCache.clean, logscraper.py:279-284):
    rewrite the manifest keeping only convs still in scope.

    Fully distributed: the kept rows are written executor-side to a
    temp dir which is then atomically swapped in via the Hadoop
    FileSystem API — the manifest never passes through the driver
    (at 100x scale it is millions of convs; a collect() here was a
    driver-OOM maintenance path).
    """
    ckpt = read_checkpoint(spark, ckpt_dir)
    if ckpt is None:
        return
    tmp_dir = ckpt_dir.rstrip("/") + ".expire_tmp"
    (
        ckpt.join(keep_conv_ids, "conv_id", "left_semi")
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    fs, Path = hadoop_fs(spark, ckpt_dir)
    path = Path(ckpt_dir)
    tmp = Path(tmp_dir)
    old = Path(ckpt_dir.rstrip("/") + ".expire_old")
    # Hadoop FS reports failure via boolean returns, not exceptions.
    # Swap order matters: set the OLD manifest aside first, then move
    # the new one in, then delete the old — every failure point leaves
    # a complete manifest on disk (either at ckpt_dir or .expire_old),
    # so a crash mid-swap can never force a full reprocess / duplicate
    # sink output under the at-least-once contract.
    if fs.exists(old) and not fs.delete(old, True):
        raise IOError(f"checkpoint expiry: could not clear {old}")
    if not _fs_rename(fs, path, old):
        raise IOError(
            f"checkpoint expiry: rename {ckpt_dir} -> {old} failed; "
            f"manifest untouched"
        )
    if not _fs_rename(fs, tmp, path):
        # restore the original so the next run still has a manifest
        _fs_rename(fs, old, path)
        raise IOError(
            f"checkpoint expiry: rename {tmp_dir} -> {ckpt_dir} failed; "
            f"original manifest restored"
        )
    fs.delete(old, True)  # best-effort; a leftover .expire_old is inert
