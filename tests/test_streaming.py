"""Follow mode (Structured Streaming) produces the same sink
contents as the batch pipeline — the reference's --follow loop is a
micro-batched run of the same logic (logsender.py:683-687)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.plans.pipeline import RoutingPlan, full_pipeline
from ci_log_processing_spark.sources.transcripts import load_transcripts
from ci_log_processing_spark.streaming.follow import run_follow

SF = "/root/testdata/sf0.001"


def _counts_by(df, col):
    return {
        r[col]: r["cnt"]
        for r in df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .collect()
    }


def test_follow_matches_batch(spark, tmp_path):
    from ci_log_processing_spark.sinks import IcebergTableSink

    t = load_transcripts(spark, SF)
    in_dir = str(tmp_path / "transcripts")
    out_dir = str(tmp_path / "out")
    sinks_dir = os.path.join(out_dir, "sinks")
    # conversations must not straddle files (a conv is the unit of
    # readiness, like the reference's build dirs) — partition by
    # conv_id before writing
    t.repartition(4, "conv_id").write.parquet(in_dir)

    run_follow(spark, in_dir, out_dir)

    batch = full_pipeline(t, spark)
    batch_counts = _counts_by(batch, "sink")
    # follow appends the batch job's one sink table
    # (sinks/sink=<s>/event_date=<d>/), not a per-sink layout
    for sink, expected in batch_counts.items():
        path = os.path.join(sinks_dir, f"sink={sink}")
        got = spark.read.parquet(path).count()
        assert got == expected, (sink, got, expected)

    table = spark.read.parquet(sinks_dir)
    assert _counts_by(table, "drop_reason") == _counts_by(
        batch, "drop_reason"
    )
    assert set(table.columns) == {n for n, _t in IcebergTableSink.COLUMNS}
    # one fan-out write per micro-batch: at most one file per
    # (sink, event_date) that the batch touched
    per_cell = (
        table.withColumn("file", F.input_file_name())
        .groupBy("batch_id", "sink", "event_date")
        .agg(F.countDistinct("file").alias("files"))
    )
    assert per_cell.agg(F.max("files")).first()[0] == 1

    # restart with the same checkpoint: no new files -> no new rows
    run_follow(spark, in_dir, out_dir)
    for sink, expected in batch_counts.items():
        got = spark.read.parquet(
            os.path.join(sinks_dir, f"sink={sink}")
        ).count()
        assert got == expected, ("after-restart", sink, got, expected)


def _meta_without_every_tenth_conv(t):
    convs = t.select("conv_id").distinct()
    return convs.filter(F.abs(F.hash("conv_id")) % 10 != 0)


def _persisted_rdds(spark):
    """Ids of the session's persisted RDDs (earlier tests may leave
    some behind, so callers compare against a snapshot)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_follow_with_meta_matches_batch(spark, tmp_path):
    """The no_metadata rule holds across micro-batches that share one
    persisted presence frame, and the frame is released after the
    drain."""
    t = load_transcripts(spark, SF)
    meta = _meta_without_every_tenth_conv(t)
    in_dir = str(tmp_path / "transcripts")
    out_dir = str(tmp_path / "out")
    t.repartition(10, "conv_id").write.parquet(in_dir)
    files = [f for f in os.listdir(in_dir) if f.endswith(".parquet")]
    assert len(files) >= 9, files

    before = _persisted_rdds(spark)
    q = run_follow(spark, in_dir, out_dir, meta=meta)

    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 2, batches  # maxFilesPerTrigger is 8
    assert _persisted_rdds(spark) == before
    batch = full_pipeline(t, spark, meta=meta)
    table = spark.read.parquet(os.path.join(out_dir, "sinks"))
    for col in ("sink", "drop_reason"):
        assert _counts_by(table, col) == _counts_by(batch, col), col
    assert _counts_by(table, "drop_reason")["no_metadata"] > 0


def test_follow_releases_presence_on_stop_and_error(spark, tmp_path):
    """The persisted presence frame is gone once the query ends:
    after a processingTime query is stopped, and after a micro-batch
    raises (the error still reaches the caller)."""
    t = load_transcripts(spark, SF)
    meta = _meta_without_every_tenth_conv(t)
    in_dir = str(tmp_path / "transcripts")
    t.repartition(2, "conv_id").write.parquet(in_dir)

    before = _persisted_rdds(spark)

    def released(timeout_s=30.0):
        deadline = time.monotonic() + timeout_s
        while _persisted_rdds(spark) != before and time.monotonic() < deadline:
            time.sleep(0.2)
        return _persisted_rdds(spark) == before

    q = run_follow(
        spark, in_dir, str(tmp_path / "polled"), meta=meta,
        processing_time="1 second",
    )
    q.processAllAvailable()
    # the presence frame, while the query runs
    assert len(_persisted_rdds(spark) - before) == 1
    q.stop()
    assert released()

    # a sinks path that is a file makes every micro-batch's write fail
    for name, trigger in (("drained", None), ("failing", "1 second")):
        out_dir = tmp_path / name
        out_dir.mkdir()
        (out_dir / "sinks").write_text("not a directory")
        with pytest.raises(Exception):
            q = run_follow(
                spark, in_dir, str(out_dir), meta=meta, processing_time=trigger
            )
            q.awaitTermination(60)
        assert released(), name


def test_routing_plan_reuse_matches_fresh_pipeline(spark):
    """One RoutingPlan applied to two different frames routes each
    exactly as a fresh full_pipeline call, with and without meta."""
    t = load_transcripts(spark, SF)
    meta = _meta_without_every_tenth_conv(t)
    half = F.abs(F.hash("conv_id")) % 2 == 0
    frames = (t.filter(half), t.filter(~half))
    for m in (None, meta):
        plan = RoutingPlan(spark, meta=m)
        for df in frames:
            reused, fresh = plan(df), full_pipeline(df, spark, meta=m)
            assert reused.columns == fresh.columns
            assert reused.exceptAll(fresh).count() == 0
            assert fresh.exceptAll(reused).count() == 0


def test_watermarked_window_counts(spark, tmp_path):
    """Pure-streaming watermark + windowed agg: every emitted window
    is finalized (end <= final watermark), exactly matches the batch
    aggregate for that window, and late-ish windows near the stream
    head are withheld, never wrong."""
    from ci_log_processing_spark.plans.pipeline import parse_transcripts
    from ci_log_processing_spark.streaming.watermark import (
        streaming_severity_window_counts,
    )

    import datetime
    import time

    t = load_transcripts(spark, SF)
    in_dir = str(tmp_path / "t_in")
    out_dir = str(tmp_path / "t_out")
    # deliver files in EVENT-TIME order with distinct mtimes (the
    # file source triggers micro-batches by mtime): an in-order
    # stream means the 2 h watermark never drops a row, so every
    # finalized window must match the batch aggregate exactly.
    # (With unordered arrival the watermark correctly DROPS late
    # rows — valid semantics, but not a golden-comparable test.)
    bounds = t.approxQuantile("turn_idx", [1.0], 0)  # force t materialized
    lo, hi = t.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 4
    for i in range(4):
        a = lo + i * span
        b = hi + datetime.timedelta(seconds=1) if i == 3 else lo + (i + 1) * span
        (
            t.filter((F.col("ts") >= a) & (F.col("ts") < b))
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
        time.sleep(1.1)  # distinct mtime -> deterministic file order

    got = streaming_severity_window_counts(spark, in_dir, out_dir)
    rows = {
        (r["window_start"], r["severity"]): r["cnt"] for r in got.collect()
    }
    assert rows, "no window finalized — watermark never advanced"

    expected_all = {
        (r["ws"], r["severity"]): r["cnt"]
        for r in parse_transcripts(t)
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "severity"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "severity", "cnt")
        .collect()
    }
    # emitted ⊆ batch and value-identical where emitted
    for k, v in rows.items():
        assert expected_all.get(k) == v, (k, v, expected_all.get(k))

    # append-mode guarantee: a window only ever emits once its end
    # passed the watermark, which never exceeds max(ts) - delay
    wm = hi - datetime.timedelta(hours=2)
    for r in got.collect():
        assert r["window_end"] <= wm, (r["window_end"], wm)


def test_stateful_sessionize_with_eviction(spark, tmp_path):
    """applyInPandasWithState sessionizer: convs accumulate state
    across micro-batches; a conv idle past the timeout is evicted
    with a final summary (stale-dir eviction analog,
    logsender.py:152-160)."""
    import datetime as dt

    from ci_log_processing_spark.streaming.session_state import (
        run_stateful_sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)

    def rows(conv, lo, hi):
        return [
            (conv, i, "assistant", f"line {i}", None,
             t0 + dt.timedelta(seconds=i))
            for i in range(lo, hi)
        ]

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    in_dir = str(tmp_path / "stream_in")
    # file 1: conv A (will go idle) + conv B part 1
    spark.createDataFrame(
        rows("conv-A", 0, 5) + rows("conv-B", 0, 3), schema
    ).coalesce(1).write.parquet(os.path.join(in_dir, "f0"))
    # file 2: conv B part 2 only -> A times out during this batch
    spark.createDataFrame(rows("conv-B", 3, 7), schema).coalesce(
        1
    ).write.parquet(os.path.join(in_dir, "f1"))

    # wait until BOTH convs have idled out (all state drained). The
    # session's shuffle count is raised above the core count so the
    # state store's one-partition-per-core layout is visible.
    key = "spark.sql.shuffle.partitions"
    fixture_parts = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(cores * 2 + 1))
    try:
        out = run_stateful_sessionize(
            spark, in_dir + "/*", str(tmp_path / "stream_out"),
            wait_evictions=2,
        )
        assert spark.conf.get(key) == str(cores * 2 + 1)
    finally:
        spark.conf.set(key, fixture_parts)
    state_dir = tmp_path / "stream_out" / "_sess_ckpt" / "state" / "0"
    parts = [p.name for p in state_dir.iterdir() if p.name.isdigit()]
    assert sorted(map(int, parts)) == list(range(cores))
    rows_out = out.collect()
    evicted = {
        r["conv_id"]: r for r in rows_out if r["status"] == "evicted"
    }
    # final summaries carry the FULL accumulated session
    assert evicted["conv-A"]["turns"] == 5
    assert (
        evicted["conv-A"]["last_us"] - evicted["conv-A"]["first_us"]
        == 4_000_000
    )
    assert evicted["conv-B"]["turns"] == 7
    # running 'active' rows show cross-batch accumulation for B
    b_active = sorted(
        r["turns"] for r in rows_out
        if r["conv_id"] == "conv-B" and r["status"] == "active"
    )
    assert b_active[0] == 3 and b_active[-1] == 7
    # exactly one eviction per conv (state removed on timeout)
    assert sum(1 for r in rows_out if r["status"] == "evicted") == 2


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark across micro-batches: duplicates
    split over separate input files survive exactly once, matching
    batch exact-dedup on the same data."""
    import datetime

    from ci_log_processing_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    mk = lambda i, txt, mins: (  # noqa: E731
        i, txt, base + datetime.timedelta(minutes=mins)
    )
    # file 1 and file 2 share texts 'dup-a' and 'dup-b' (cross-batch
    # duplicates, within the 2h watermark horizon)
    f1 = [mk(1, "dup-a", 0), mk(2, "only-one", 1), mk(3, "dup-b", 2)]
    f2 = [mk(4, "dup-a", 30), mk(5, "dup-b", 40), mk(6, "only-two", 50)]
    in_dir = str(tmp_path / "docs_in")
    schema = "doc_id long, text string, event_ts timestamp"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(in_dir)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    out = streaming_exact_dedup(
        spark, in_dir, str(tmp_path / "dedup_out")
    ).collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["dup-a", "dup-b", "only-one", "only-two"]
    # batch agreement: same distinct-text count
    batch = (
        spark.createDataFrame(f1 + f2, schema)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .count()
    )
    assert len(out) == batch


def test_streaming_session_window_boundary(spark, tmp_path):
    """A session whose end (last event + gap) equals the final
    watermark exactly IS emitted; a later unfinalized session is
    not (streaming/watermark.py streaming_session_counts)."""
    import datetime as dt

    from ci_log_processing_spark.streaming.watermark import (
        streaming_session_counts,
    )

    T = dt.datetime
    rows = [
        ("a", 0, "u", "x", "t", T(2024, 1, 1, 10, 0)),
        # watermark driver: max ts 12:30 - 2 h delay -> wm = 10:30,
        # exactly session a's end; b's own session (ends 13:00) is
        # past the watermark and must NOT be emitted
        ("b", 0, "u", "x", "t", T(2024, 1, 1, 12, 30)),
    ]
    in_dir = str(tmp_path / "sess_in")
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).coalesce(1).write.parquet(in_dir)
    out = streaming_session_counts(
        spark, in_dir, str(tmp_path / "sess_out")
    ).collect()
    assert [(r["conv_id"], r["session_start"], r["session_end"], r["n_turns"]) for r in out] == [
        ("a", T(2024, 1, 1, 10, 0), T(2024, 1, 1, 10, 30), 1)
    ]


def test_streaming_interval_join_bounds(spark, tmp_path):
    """Inclusive [ts - lookback, ts] bounds, per-conversation
    isolation (streaming/stream_join.py)."""
    import datetime as dt

    from ci_log_processing_spark.streaming.stream_join import (
        LOOKBACK_SEC,
        streaming_interval_join,
    )

    T = dt.datetime
    turns = [("a", 0, "u", "x", "t", T(2024, 1, 1, 12, 0))]
    cfgs = [
        ("a", T(2024, 1, 1, 6, 0), "s_lo", 1),    # == ts - LOOKBACK_SEC
        ("a", T(2024, 1, 1, 12, 0), "s_eq", 2),   # == ts
        ("a", T(2024, 1, 1, 5, 59, 59), "s_old", 3),  # 1 s too old
        ("a", T(2024, 1, 1, 12, 0, 1), "s_fut", 4),    # in the future
        ("b", T(2024, 1, 1, 11, 30), "s_otherconv", 5),
    ]
    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        turns,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).coalesce(1).write.parquet(l_dir)
    spark.createDataFrame(
        cfgs, "cfg_conv_id string, cfg_ts timestamp, cfg_state string, cfg_seq long"
    ).coalesce(1).write.parquet(r_dir)
    assert LOOKBACK_SEC == 6 * 3600
    out = streaming_interval_join(spark, l_dir, r_dir, str(tmp_path / "out"))
    assert sorted(r["cfg_state"] for r in out.collect()) == ["s_eq", "s_lo"]


def test_streaming_ingest_curation(spark, tmp_path):
    # two waves with CROSS-BATCH duplicates and a junk doc; the
    # curated corpus must hold each surviving text exactly once and
    # the junk (pure punctuation -> quality ~0.3*punct penalty) none
    import datetime as dt

    from ci_log_processing_spark.streaming.ingest_curate import (
        run_ingest_curation,
    )

    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    good = "the quick brown fox jumps over the lazy dog again and again"
    docs_dir = tmp_path / "in"
    docs_dir.mkdir()
    wave1 = [(1, good + " one", ts), (2, good + " two", ts), (3, "!!! ??? ***", ts)]
    wave2 = [(10, good + " one", ts), (11, good + " three", ts), (12, good + " two", ts)]
    for i, wave in enumerate((wave1, wave2)):
        spark.createDataFrame(
            wave, "doc_id long, text string, event_ts timestamp"
        ).coalesce(1).write.parquet(str(docs_dir / f"wave{i}"))
    # register both waves as separate FILES under one stream dir
    import shutil

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    n = 0
    for i in (0, 1):
        for f in sorted((docs_dir / f"wave{i}").glob("*.parquet")):
            shutil.copy(f, stream_dir / f"w{i}_{n}.parquet")
            n += 1
    out = run_ingest_curation(spark, str(stream_dir), str(tmp_path / "out"))
    pdf = out.toPandas().sort_values("doc_id")
    # one row per distinct surviving text; first arrival wins
    assert sorted(pdf["text"]) == sorted(
        [good + " one", good + " two", good + " three"]
    )
    # WHICH copy of each duplicate survives depends on micro-batch
    # arrival order (file mtime ordering is not guaranteed for files
    # copied in the same millisecond) — accept either, but exactly
    # one per text
    ids = set(pdf["doc_id"])
    assert len(ids) == 3
    assert ids & {1, 10} and ids & {2, 12} and 11 in ids
    # the hash index holds exactly the surviving hashes
    idx = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "out" / "index"))
        .toPandas()
    )
    assert sorted(idx["h"]) == sorted(pdf["h"])
    # replaying the same input against the existing index admits
    # nothing new (content-addressed idempotence)
    out2 = run_ingest_curation(
        spark,
        str(stream_dir),
        str(tmp_path / "out2"),
    )
    assert out2.count() == 3
    from ci_log_processing_spark.operators.dedup import incremental_dedup

    replay = spark.read.parquet(str(stream_dir))
    survivors = incremental_dedup(
        replay.select("doc_id", "text", "event_ts"),
        spark.read.option("recursiveFileLookup", "true").parquet(
            str(tmp_path / "out" / "index")
        ),
    )
    assert survivors.filter("text like 'the quick%'").count() == 0

def test_ingest_curation_replay_after_crash(spark, tmp_path):
    # The at-least-once failure the module docstring promises to
    # survive: a first attempt at batch 0 crashed AFTER its index
    # write (and mid-corpus-write), BEFORE the streaming commit. On
    # restart the engine replays batch 0 with the same batch_id and
    # file set. The replay must see the PRE-batch index — if it read
    # batch 0's own leftover index/b0 hashes, the anti-join would
    # empty the survivor set and the corpus overwrite would destroy
    # the docs (hashes present, docs gone — permanent loss). We
    # build the crashed attempt's exact on-disk state by hand (b0
    # dirs written, no streaming checkpoint), then run the stream.
    import datetime as dt
    import shutil

    from ci_log_processing_spark.operators.dedup import incremental_dedup
    from ci_log_processing_spark.operators.textstats import quality_scores
    from ci_log_processing_spark.streaming.ingest_curate import (
        INGEST_MIN_QUALITY,
        run_ingest_curation,
    )

    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    good = "the quick brown fox jumps over the lazy dog again and again"
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    wave = [(1, good + " one", ts), (2, good + " two", ts), (3, good + " two", ts)]
    tmp_in = tmp_path / "w"
    spark.createDataFrame(
        wave, "doc_id long, text string, event_ts timestamp"
    ).coalesce(1).write.parquet(str(tmp_in))
    # ONE input file => availableNow consumes everything as batch 0
    pq = sorted(tmp_in.glob("*.parquet"))
    assert len(pq) == 1
    shutil.copy(pq[0], stream_dir / "w0.parquet")

    out_dir = tmp_path / "out"
    # --- crashed first attempt: same ops _process runs, writes to
    # the b0 dirs, index write COMPLETE, corpus write PARTIAL (only
    # doc 1 landed), no streaming commit recorded ---
    batch = spark.createDataFrame(
        wave, "doc_id long, text string, event_ts timestamp"
    )
    scored = batch.transform(
        lambda d: quality_scores(d, keep_cols=("text", "event_ts"))
    ).filter(F.col("quality") >= INGEST_MIN_QUALITY)
    fresh = incremental_dedup(
        scored.select("doc_id", "text", "event_ts", "quality"),
        spark.createDataFrame([], "h string"),
    )
    fresh.select("h").write.mode("overwrite").parquet(
        str(out_dir / "index" / "b0")
    )
    fresh.filter("doc_id = 1").write.mode("overwrite").parquet(
        str(out_dir / "corpus" / "b0")
    )

    # --- restart: the stream replays batch 0 over its own leftovers ---
    out = run_ingest_curation(spark, str(stream_dir), str(out_dir))
    pdf = out.toPandas()
    # full recovery: both distinct docs present (intra-batch dup of
    # "two" collapsed), the partial corpus was overwritten, and the
    # index matches the corpus exactly
    assert sorted(pdf["text"]) == [good + " one", good + " two"]
    idx = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(str(out_dir / "index"))
        .toPandas()
    )
    assert sorted(idx["h"]) == sorted(pdf["h"])

def test_neardup_ingestion(spark, tmp_path):
    # wave0 (originals) then wave1 (an exact copy, a near copy, a
    # fresh doc): the copies are dropped against the persisted band
    # index, the fresh doc and all originals survive. Wave order is
    # forced via file mtimes (the file source orders by timestamp).
    import os

    from ci_log_processing_spark.streaming.neardup_ingest import (
        run_neardup_ingestion,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    other = "completely different corpus entry body " * 4
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()

    def write_wave(name, rows, mtime):
        tmp = tmp_path / ("w_" + name)
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(tmp))
        import shutil

        pq = sorted(tmp.glob("*.parquet"))
        assert len(pq) == 1
        dst = stream_dir / (name + ".parquet")
        shutil.copy(pq[0], dst)
        os.utime(dst, (mtime, mtime))

    write_wave("w0", [(1, base), (2, other)], 1_000_000)
    write_wave(
        "w1",
        [
            (100, base),                            # exact dup of 1
            (101, base + " near duplicate tail"),   # near dup of 1
            (102, "fresh unseen content " * 6),     # new
            (103, "fresh unseen content " * 6),     # exact dup IN-batch
        ],
        2_000_000,
    )
    out = run_neardup_ingestion(spark, str(stream_dir), str(tmp_path / "out"))
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 102]
    # replay against the existing output admits nothing new
    out2 = run_neardup_ingestion(spark, str(stream_dir), str(tmp_path / "out"))
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2, 102]
    # the band/shingle index holds exactly the survivors
    sh = spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "out" / "shingles")
    )
    assert sorted(r["doc_id"] for r in sh.collect()) == [1, 2, 102]


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    """Micro-batched register partials, max-merged, must equal the
    single-pass batch sketch over the same rows."""
    from ci_log_processing_spark.operators.aggregate import (
        hll_distinct_convs,
    )
    from ci_log_processing_spark.plans.pipeline import full_pipeline
    from ci_log_processing_spark.sources.transcripts import (
        load_transcripts,
    )
    from ci_log_processing_spark.streaming.hll_stream import (
        run_streaming_hll,
    )

    t = load_transcripts(spark, "/root/testdata/sf0.001")
    in_dir = str(tmp_path / "in")
    t.repartition(5, "conv_id").write.parquet(in_dir)
    streamed = {
        r["sink"]: r["hll_distinct"]
        for r in run_streaming_hll(
            spark, in_dir, str(tmp_path / "out")
        ).collect()
    }
    batch = {
        r["sink"]: r["hll_distinct"]
        for r in hll_distinct_convs(full_pipeline(t, spark)).collect()
    }
    assert streamed == batch
    assert len(streamed) >= 3


def test_streaming_hdr_bridges_gaps_across_idle_batches(spark, tmp_path):
    """Three waves; conv X appears in waves 0 and 2 only. The bridge
    gap for X must come from wave 0's persisted state surviving the
    idle middle batch (latest-per-conv = max batch id), and the
    merged sketch must equal the single-pass batch operator."""
    import os as _os
    import shutil as _shutil
    from datetime import datetime

    from ci_log_processing_spark.operators.aggregate import (
        hdr_latency_percentiles,
    )
    from ci_log_processing_spark.streaming.hdr_stream import (
        run_streaming_hdr,
    )

    def ts(mins):
        return datetime(2024, 1, 1, 0, mins, 0)

    def line(mins):
        # format 2 parses in the cascade -> every segment opens with
        # a parseable ts, satisfying the arrival contract
        return ts(mins).strftime("%Y-%m-%d %H:%M:%S.%f") + " | msg body"

    def rows(conv, idxs):
        return [(conv, i, "assistant", line(10 * i), None, ts(0))
                for i in idxs]

    waves = [
        rows("X", [0, 1]) + rows("Y", [0, 1, 2]),
        rows("Y", [3, 4]),                      # X idle this batch
        rows("X", [2, 3]) + rows("Y", [5]),
    ]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, w in enumerate(waves):
        tmp = str(tmp_path / f"w_{i}")
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(tmp)
        pq = [f for f in _os.listdir(tmp) if f.endswith(".parquet")]
        dst = str(in_dir / f"w{i}.parquet")
        _shutil.copy(_os.path.join(tmp, pq[0]), dst)
        _os.utime(dst, (1_000_000 * (i + 1),) * 2)

    meta = spark.createDataFrame([("X",), ("Y",)], "conv_id string")
    streamed = {
        r["sink"]: r.asDict()
        for r in run_streaming_hdr(
            spark, str(in_dir), str(tmp_path / "out"),
            meta=meta,
        ).collect()
    }
    allrows = spark.createDataFrame(sum(waves, []), schema)
    batch = {
        r["sink"]: r.asDict()
        for r in hdr_latency_percentiles(
            full_pipeline(allrows, spark, meta=meta)
        ).collect()
    }
    assert streamed == batch
    # every turn has a successor except each conv's last: 10 turns,
    # 2 convs -> 8 gaps, of which X's 1->2 and Y's 2->3, 4->5 cross
    # batch boundaries
    assert sum(r["n_gaps"] for r in streamed.values()) == 8


def test_streaming_cms_equals_batch_and_survives_replay(spark, tmp_path):
    """The streamed CMS partial merge must equal the single-pass batch
    sketch (linearity), and a FULL REPLAY (fresh checkpoint, same
    output dir — every batch re-processed) must leave the answer
    unchanged: '+' is not idempotent, so this exercises the
    batch-addressed overwrite bookkeeping, not the algebra."""
    import shutil

    from ci_log_processing_spark.operators.curation import cms_token_counts
    from ci_log_processing_spark.streaming.cms_stream import (
        run_streaming_cms,
    )

    rows = [
        (i, f"tok{i % 7} tok{i % 3} tok{i % 7} filler{i} tok0")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for w, (lo, hi, mt) in enumerate([(0, 30, 1_000_000), (30, 60, 2_000_000)]):
        tmp = str(tmp_path / f"w_{w}")
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(tmp)
        pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = str(in_dir / f"w{w}.parquet")
        shutil.copy(os.path.join(tmp, pq[0]), dst)
        os.utime(dst, (mt, mt))

    out_dir = str(tmp_path / "out")
    got = run_streaming_cms(spark, str(in_dir), out_dir).collect()
    want = cms_token_counts(docs).collect()
    key = lambda r: (r["rank"], r["token"])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    # CMS one-sided error: estimate never undercounts
    assert all(r["inflation"] >= 0 for r in got)

    # full replay: wipe ONLY the checkpoint; both batches re-run and
    # overwrite their own partial dirs — double-merge would inflate
    shutil.rmtree(os.path.join(out_dir, "_stream_ckpt"))
    again = run_streaming_cms(spark, str(in_dir), out_dir).collect()
    assert sorted(again, key=key) == sorted(want, key=key)


def test_streaming_drift_equals_batch_and_survives_replay(spark, tmp_path):
    """The streamed drift (sum-merged per-batch (label, dim)
    partials vs a fixed reference) must equal the single-pass batch
    snapshot_drift over the union of batches, and a FULL REPLAY
    (fresh checkpoint, same output dir) must leave the answer
    unchanged — '+' is not idempotent, so this exercises the
    batch-addressed overwrite bookkeeping."""
    import shutil

    from ci_log_processing_spark.operators.similarity import (
        snapshot_drift,
    )
    from ci_log_processing_spark.streaming.drift_stream import (
        run_streaming_drift,
    )

    schema = "vec_id long, label int, embedding array<float>"
    rows = [
        (i, i % 3, [float(i % 5), float((i * 7) % 11), 1.0])
        for i in range(60)
    ]
    ref_rows = [
        (1000 + i, i % 3, [float(i % 4), 2.0, float((i * 3) % 7)])
        for i in range(30)
    ]
    stream_df = spark.createDataFrame(rows, schema)
    ref_df = spark.createDataFrame(ref_rows, schema)
    ref_dir = str(tmp_path / "ref")
    ref_df.write.parquet(ref_dir)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for w, (lo, hi, mt) in enumerate(
        [(0, 30, 1_000_000), (30, 60, 2_000_000)]
    ):
        tmp = str(tmp_path / f"w_{w}")
        stream_df.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.parquet(tmp)
        pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = str(in_dir / f"w{w}.parquet")
        shutil.copy(os.path.join(tmp, pq[0]), dst)
        os.utime(dst, (mt, mt))

    out_dir = str(tmp_path / "out")
    got = run_streaming_drift(
        spark, str(in_dir), ref_dir, out_dir
    ).collect()
    want = snapshot_drift(
        spark.read.parquet(ref_dir), stream_df
    ).collect()
    key = lambda r: r["label"]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    assert len(got) == 3 and all(r["n_b"] == 20 for r in got)

    # full replay: wipe ONLY the checkpoint; both batches re-run and
    # overwrite their own partial dirs — double-merge would double
    # every centroid sum and shift the cosine/L2
    shutil.rmtree(os.path.join(out_dir, "_stream_ckpt"))
    again = run_streaming_drift(
        spark, str(in_dir), ref_dir, out_dir
    ).collect()
    assert sorted(again, key=key) == sorted(want, key=key)


def test_streaming_templates_equals_batch_and_survives_replay(
    spark, tmp_path
):
    """The merged streamed template table must equal the single-pass
    batch miner (with conv-disjoint waves so n_convs sums exactly),
    first_batch must attribute novelty to the wave that introduced
    the template, and a full replay (fresh checkpoint, same output
    dir) must leave the answer unchanged."""
    import shutil

    from ci_log_processing_spark.operators.aggregate import log_templates
    from ci_log_processing_spark.streaming.template_stream import (
        run_streaming_templates,
    )

    rows = [
        # conv A/B -> wave 0; conv C -> wave 1
        ("A", 0, "added port 808", "agent_turns"),
        ("A", 1, "boot time 14s", "agent_turns"),
        ("B", 0, "added port 9", "agent_turns"),
        ("B", 1, "junk 5", "drop_queue"),
        ("C", 0, "added port 1336", "agent_turns"),
        ("C", 1, "segfault at 0xdead", "errors"),  # novel in wave 1
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, message string, sink string"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for w, (convs, mt) in enumerate(
        [(["A", "B"], 1_000_000), (["C"], 2_000_000)]
    ):
        tmp = str(tmp_path / f"w_{w}")
        turns.filter(F.col("conv_id").isin(convs)).coalesce(
            1
        ).write.parquet(tmp)
        pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = str(in_dir / f"w{w}.parquet")
        shutil.copy(os.path.join(tmp, pq[0]), dst)
        os.utime(dst, (mt, mt))

    out_dir = str(tmp_path / "out")
    got = {
        r.template: r
        for r in run_streaming_templates(
            spark, str(in_dir), out_dir
        ).collect()
    }
    want = {
        r.template: r for r in log_templates(turns).collect()
    }
    assert set(got) == set(want)
    for t, w in want.items():
        g = got[t]
        assert (g.n_msgs, g.n_convs, g.example) == (
            w.n_msgs, w.n_convs, w.example,
        )
    # the template present in both waves first appeared in batch 0;
    # the wave-1-only template is NOVEL in batch 1
    assert got["added port <*>"].first_batch == 0
    assert got["added port <*>"].n_convs == 3
    assert got["segfault at <*>"].first_batch == 1

    # full replay: wipe only the checkpoint; batch-addressed
    # overwrite must keep counts from doubling
    shutil.rmtree(os.path.join(out_dir, "_stream_ckpt"))
    again = {
        r.template: r.n_msgs
        for r in run_streaming_templates(
            spark, str(in_dir), out_dir
        ).collect()
    }
    assert again == {t: r.n_msgs for t, r in want.items()}
