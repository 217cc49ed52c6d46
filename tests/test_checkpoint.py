"""Checkpoint / resume semantics — the reference's BuildCache dedup
(logscraper.py:227-292: builds already in the sqlite cache are never
re-downloaded; goldens tests/test_logscraper.py:635-713) as a
parquet manifest + broadcast anti-join.

The kill-and-rerun contract (SURVEY.md §5): after an interrupted run
that checkpointed only SOME conversations, a re-run processes
exactly the remainder — union of both runs' outputs equals a single
clean run, with no duplicate (conv_id, turn_idx) pairs.
"""

import os

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.checkpoint import (
    expire_checkpoint,
    filter_unprocessed,
    read_checkpoint,
    skip_processed,
    write_checkpoint,
)
from ci_log_processing_spark.plans.pipeline import full_pipeline
from ci_log_processing_spark.sources.transcripts import load_transcripts

SF = "/root/testdata/sf0.001"


def test_kill_and_rerun_no_dupes_no_gaps(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    t = load_transcripts(spark, SF)

    # run 1 "crashes" after processing the convs with even hash:
    # only those land in the checkpoint
    routed_full = full_pipeline(t, spark)
    part1 = routed_full.filter(F.abs(F.xxhash64("conv_id")) % 2 == 0)
    write_checkpoint(part1, ckpt)
    n1 = part1.count()

    # run 2: anti-join must hand back exactly the other convs
    remaining, already = filter_unprocessed(spark, t, ckpt)
    assert already == part1.select("conv_id").distinct().count()
    part2 = full_pipeline(remaining, spark)
    n2 = part2.count()

    total = full_pipeline(t, spark).count()
    assert n1 + n2 == total

    # no conv overlaps between the two runs
    overlap = (
        part1.select("conv_id")
        .distinct()
        .join(part2.select("conv_id").distinct(), "conv_id")
        .count()
    )
    assert overlap == 0

    # union of both runs == clean single run, per (conv_id, turn_idx)
    u = part1.select("conv_id", "turn_idx").unionAll(
        part2.select("conv_id", "turn_idx")
    )
    assert u.count() == u.distinct().count() == total


def test_checkpoint_anti_join_is_broadcast(spark, tmp_path):
    """The 10^12-turn side must never shuffle for the resume check:
    the manifest side is broadcast (logscraper's cache lookup is an
    in-memory set per build, logscraper.py:291-292)."""
    ckpt = str(tmp_path / "ckpt")
    t = load_transcripts(spark, SF)
    write_checkpoint(full_pipeline(t, spark).limit(100), ckpt)
    remaining, _ = filter_unprocessed(spark, t, ckpt)
    plan = remaining._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_skip_processed_runs_no_job(spark, tmp_path):
    """Follow mode's anti-join builds the same frame as
    filter_unprocessed without the manifest count, which is a Spark job
    over the whole manifest on every micro-batch."""
    ckpt = str(tmp_path / "ckpt")
    t = load_transcripts(spark, SF)
    write_checkpoint(full_pipeline(t, spark).limit(100), ckpt)
    manifest = read_checkpoint(spark, ckpt)
    sc = spark.sparkContext
    sc.setJobGroup("skip_processed", "no job expected")
    try:
        remaining = skip_processed(t, manifest)
        assert sc.statusTracker().getJobIdsForGroup("skip_processed") == []
    finally:
        sc.setJobGroup("", "")
    want, _ = filter_unprocessed(spark, t, ckpt)
    assert sorted(remaining.collect()) == sorted(want.collect())
    assert skip_processed(t, None) is t


def test_expire_checkpoint_ttl(spark, tmp_path):
    """TTL maintenance analog (BuildCache.clean, logscraper.py:279-284):
    manifest entries outside the keep-set are dropped; kept convs
    still resume-skip."""
    ckpt = str(tmp_path / "ckpt")
    t = load_transcripts(spark, SF)
    routed = full_pipeline(t, spark)
    write_checkpoint(routed, ckpt)
    keep = routed.select("conv_id").distinct().limit(5)
    expire_checkpoint(spark, ckpt, keep)
    kept = spark.read.parquet(ckpt).select("conv_id").distinct().count()
    assert kept == 5
    _, already = filter_unprocessed(spark, t, ckpt)
    assert already == 5


def test_expire_checkpoint_is_distributed(spark, tmp_path):
    """The TTL rewrite must never collect the manifest to the driver
    (round-1 verdict: millions of convs at 100x scale = driver OOM in
    a maintenance path): exercise it on a manifest bigger than any
    sane collect default, and statically assert no collect in the
    code path."""
    import inspect

    from ci_log_processing_spark.operators import checkpoint as cp

    src = inspect.getsource(cp.expire_checkpoint)
    assert ".collect()" not in src and "toPandas" not in src

    ckpt = str(tmp_path / "big_ckpt")
    n = 200_000
    manifest = spark.range(n).selectExpr(
        "concat('conv-', lpad(cast(id as string), 8, '0')) AS conv_id",
        "id AS rows",
    )
    manifest.write.mode("overwrite").parquet(ckpt)
    keep = spark.range(0, n, 2).selectExpr(
        "concat('conv-', lpad(cast(id as string), 8, '0')) AS conv_id"
    )
    expire_checkpoint(spark, ckpt, keep)
    back = spark.read.parquet(ckpt)
    assert back.count() == n // 2
    # swapped atomically: no temp dir left behind
    import os
    assert not os.path.exists(ckpt + ".expire_tmp")


def test_expire_checkpoint_crash_windows(spark, tmp_path, monkeypatch):
    """Kill the expiry swap at every rename boundary (injected via
    the _fs_rename seam) and assert a COMPLETE manifest is readable
    after each crash — the recoverable-swap contract. Windows:
      A crash at rename 1 (manifest never moved)  -> original intact
      B crash between renames (ckpt_dir absent,
        manifest parked at .expire_old)           -> read_checkpoint
        restores it (without this, the next run anti-joins nothing
        and duplicates sink output)
      C crash after rename 2, before delete(old)  -> new manifest
        live, stale .expire_old cleared by the next expiry
    After every window the expiry is re-run unpatched and must land
    the exact keep-set."""
    import os

    from ci_log_processing_spark.operators import checkpoint as cp

    all_convs = [("a", 1), ("b", 2), ("c", 3)]
    keep = spark.createDataFrame([("a",), ("b",)], "conv_id string")
    real_rename = cp._fs_rename

    class Killed(RuntimeError):
        pass

    def setup(ckpt):
        spark.createDataFrame(
            all_convs, "conv_id string, rows long"
        ).write.mode("overwrite").parquet(ckpt)

    def crash_at(n_before, after_last=False):
        # perform the first n_before renames, then die — either
        # INSTEAD of the next rename, or (after_last) right after the
        # n_before-th rename returns, i.e. before the following
        # non-rename step (window C: before delete(.expire_old))
        calls = {"n": 0}

        def injected(fs, src, dst):
            if calls["n"] == n_before and not after_last:
                raise Killed(f"killed before rename {n_before + 1}")
            calls["n"] += 1
            ok = real_rename(fs, src, dst)
            if after_last and calls["n"] == n_before:
                raise Killed(f"killed after rename {n_before}")
            return ok

        return injected

    def manifest_convs(ckpt):
        df = cp.read_checkpoint(spark, ckpt)
        assert df is not None, "manifest lost after crash"
        return sorted(r["conv_id"] for r in df.select("conv_id").collect())

    for window, inject in (
        ("A", crash_at(0)),
        ("B", crash_at(1)),
        ("C", crash_at(2, after_last=True)),
    ):
        ckpt = str(tmp_path / f"ckpt_{window}")
        setup(ckpt)
        monkeypatch.setattr(cp, "_fs_rename", inject)
        try:
            cp.expire_checkpoint(spark, ckpt, keep)
            raise AssertionError(f"window {window} must hit the injection")
        except Killed:
            pass
        monkeypatch.setattr(cp, "_fs_rename", real_rename)
        # a complete manifest survives the kill: pre-expiry for A/B,
        # post-expiry for C (both renames landed; only delete(old)
        # was lost — the stale .expire_old is inert)
        if window == "C":
            assert os.path.exists(ckpt + ".expire_old")
        expect = ["a", "b"] if window == "C" else ["a", "b", "c"]
        assert manifest_convs(ckpt) == expect, window
        # recovery is idempotent: redo the expiry, keep-set lands
        cp.expire_checkpoint(spark, ckpt, keep)
        assert manifest_convs(ckpt) == ["a", "b"], window
        assert not os.path.exists(ckpt + ".expire_tmp")
        assert not os.path.exists(ckpt + ".expire_old")
