"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; `oracle_sql()` returns the
independent DuckDB re-implementation the driver compares against.

The transcripts input table (BASELINE.json input_hint shape) is
derived deterministically from the events parquet — identical SQL
semantics on both engines (ci_log_processing_spark/sources/
transcripts.py), so no external data is needed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ci_log_processing_spark import oracle  # noqa: E402
from ci_log_processing_spark.operators.aggregate import (  # noqa: E402
    conv_severity_counts,
    hourly_agg,
    sink_counts,
)
from ci_log_processing_spark.plans.pipeline import (  # noqa: E402
    DEFAULT_BATCH_TS,
    DEFAULT_REF_YEAR,
    full_pipeline,
    parse_transcripts,
)
from ci_log_processing_spark.functions.timestamps import ts_cascade_col  # noqa: E402
from ci_log_processing_spark.sources.transcripts import (  # noqa: E402
    load_transcripts,
    text_sql,
)

SINK_COLS = [
    "conv_id", "turn_idx", "role", "tool", "event_ts", "filled_ts",
    "severity", "subsystem", "message", "pipeline", "category",
    "drop_reason",
]


def _routed(spark: SparkSession, sf_dir: str, impl: str = "native") -> DataFrame:
    from ci_log_processing_spark.sources.derived import conv_meta_sql

    t = load_transcripts(spark, sf_dir)  # registers the events view
    meta = spark.sql(conv_meta_sql("spark", "events"))
    return full_pipeline(t, spark, impl=impl, meta=meta)


# --- pipeline queries --------------------------------------------------


PARSE_OUT = [
    "conv_id", "turn_idx", "event_ts", "severity", "subsystem",
    "message", "program", "pid",
]


def q_parse(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return parse_transcripts(t).select(*PARSE_OUT)


def q_parse_pandas(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return parse_transcripts(t, impl="pandas").select(*PARSE_OUT)


def q_ffill(spark, sf_dir):
    from ci_log_processing_spark.operators.ffill import with_filled_ts

    t = parse_transcripts(load_transcripts(spark, sf_dir))
    return with_filled_ts(t, DEFAULT_BATCH_TS).select(
        "conv_id", "turn_idx", "event_ts", "filled_ts"
    )


def q_enrich(spark, sf_dir):
    return _routed(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "pipeline", "category",
        F.concat_ws(",", F.col("tags")).alias("tags_str"),
    )


def q_route(spark, sf_dir):
    return _routed(spark, sf_dir).select(
        "conv_id", "turn_idx", "sink", "drop_reason"
    )


def q_sink_counts(spark, sf_dir):
    return sink_counts(_routed(spark, sf_dir))


def _q_sink_rows(sink):
    def q(spark, sf_dir):
        return (
            _routed(spark, sf_dir)
            .filter(F.col("sink") == sink)
            .select(*SINK_COLS)
        )

    return q


def q_agg_hourly(spark, sf_dir):
    return hourly_agg(_routed(spark, sf_dir))


def q_conv_severity(spark, sf_dir):
    return conv_severity_counts(_routed(spark, sf_dir))


def q_agg_incremental(spark, sf_dir):
    """Incremental aggregate maintenance (operators/aggregate.py
    merge_agg_deltas): split the routed turns into a deterministic
    base/delta partition (hash of conv_id), aggregate each side
    separately, and MERGE the two partial rollups. The oracle is the
    flat recompute over all rows — a hash match proves the monoid
    identity merge(agg(base), agg(delta)) == agg(all)."""
    from ci_log_processing_spark.operators.aggregate import (
        hourly_agg,
        merge_agg_deltas,
    )

    routed = _routed(spark, sf_dir)
    is_delta = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(10)) == 0
    stored = hourly_agg(routed.filter(~is_delta))
    delta = hourly_agg(routed.filter(is_delta))
    return merge_agg_deltas(
        stored, delta, ["sink", "severity", "subsystem", "window_start"]
    )


def q_dq_audit(spark, sf_dir):
    """One-scan data-quality constraint audit (operators/dq.py):
    null text, lang taxonomy ('fr' deliberately excluded so the
    audit exercises a FAILING constraint), n_chars range and
    n_chars==length(text) consistency, plus doc_id uniqueness."""
    from ci_log_processing_spark.operators.dq import (
        document_checks,
        dq_audit,
    )

    docs = _docs(spark, sf_dir)
    return dq_audit(
        docs,
        document_checks(allowed_langs=("en", "de", "es", "zh")),
        unique_key="doc_id",
    )


def q_column_profile(spark, sf_dir):
    """ANALYZE-style column statistics over documents
    (operators/dq.py column_profile): nulls / ndv / min / max per
    column in one Expand-widened scan."""
    from ci_log_processing_spark.operators.dq import column_profile

    return column_profile(
        _docs(spark, sf_dir), ["doc_id", "lang", "source", "n_chars"]
    )


def q_skew_audit(spark, sf_dir):
    """Top-20 heaviest shuffle keys with exact row share
    (operators/skew.py key_skew_audit) — the pre-shuffle planning
    diagnostic, keyed by conv_id over the routed turns."""
    from ci_log_processing_spark.operators.skew import key_skew_audit

    return key_skew_audit(_routed(spark, sf_dir), "conv_id", top_n=20)


def q_agg_rollup(spark, sf_dir):
    """Multi-grain ROLLUP aggregate (operators/aggregate.py
    rollup_hourly) — detail + subtotals + grand total in one pass."""
    from ci_log_processing_spark.operators.aggregate import rollup_hourly

    return rollup_hourly(_routed(spark, sf_dir))


def q_pivot_severity(spark, sf_dir):
    """Hour x severity wide pivot (operators/aggregate.py
    severity_pivot_hourly) — explicit value list, fixed schema."""
    from ci_log_processing_spark.operators.aggregate import (
        severity_pivot_hourly,
    )

    return severity_pivot_hourly(_routed(spark, sf_dir))


def q_session_window(spark, sf_dir):
    """Event-time session windows (operators/aggregate.py
    session_window_agg) — native F.session_window, gap 1800 s."""
    from ci_log_processing_spark.operators.aggregate import (
        session_window_agg,
    )

    return session_window_agg(_routed(spark, sf_dir))


def q_sliding_window(spark, sf_dir):
    """Sliding event-time windows (operators/aggregate.py
    sliding_window_agg) — 1 h windows, 30 min slide."""
    from ci_log_processing_spark.operators.aggregate import (
        sliding_window_agg,
    )

    return sliding_window_agg(_routed(spark, sf_dir))


def q_checkpoint_antijoin(spark, sf_dir):
    routed = _routed(spark, sf_dir)
    processed = (
        routed.select("conv_id")
        .distinct()
        .filter(F.substring("conv_id", 6, 10).cast("int") % 3 == 0)
    )
    return routed.join(F.broadcast(processed), "conv_id", "left_anti").select(
        "conv_id", "turn_idx", "sink"
    )


def q_jobs_semijoin(spark, sf_dir):
    """S3/J4 requested-jobs semi-join (filter_available_jobs,
    logscraper.py:443-454): keep only turns whose tool survives the
    requested ∩ available intersection; broadcast left-semi join so
    the fact side never shuffles."""
    from ci_log_processing_spark.operators.semijoin import (
        available_requested,
        semi_join_requested,
    )

    t = load_transcripts(spark, sf_dir)
    # requested list includes a name the "API" doesn't serve — it
    # must drop out, like the reference's unavailable job names
    surviving = available_requested(
        ["search", "bash", "gearman-worker"], ["bash", "python", "search"]
    )
    requested = spark.createDataFrame(
        [(s,) for s in surviving], "tool string"
    )
    return semi_join_requested(t, requested, key="tool").select(
        "conv_id", "turn_idx", "role", "tool"
    )


def q_dedup_messages(spark, sf_dir):
    return _routed(spark, sf_dir).groupBy("conv_id").agg(
        F.countDistinct("message").alias("distinct_messages")
    )


def q_ts_formats(spark, sf_dir):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    events.createOrReplaceTempView("events")
    e = spark.sql(
        f"SELECT CAST(event_id % 12 AS INT) AS line_class, "
        f"{text_sql('spark')} AS text FROM events"
    )
    p = e.withColumn("event_ts", ts_cascade_col(F.col("text"), DEFAULT_REF_YEAR))
    return p.groupBy("line_class").agg(
        F.count("event_ts").alias("parsed_cnt"),
        F.count(F.lit(1)).alias("total_cnt"),
        F.min("event_ts").alias("min_ts"),
        F.max("event_ts").alias("max_ts"),
    )


def q_iso_format(spark, sf_dir):
    """F3 ISO serialization at the sink boundary: micros iff nonzero
    (logsender.py:419)."""
    from ci_log_processing_spark.functions.timestamps import iso_serialize_col
    from ci_log_processing_spark.operators.ffill import with_filled_ts

    t = with_filled_ts(
        parse_transcripts(load_transcripts(spark, sf_dir)), DEFAULT_BATCH_TS
    )
    return t.select(
        "conv_id",
        "turn_idx",
        iso_serialize_col(F.col("event_ts")).alias("iso_event_ts"),
        iso_serialize_col(F.col("filled_ts")).alias("iso_filled_ts"),
    )


def q_sessionize(spark, sf_dir):
    from pyspark.sql.window import Window

    t = parse_transcripts(load_transcripts(spark, sf_dir))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.withColumn("session_id", F.count("event_ts").over(w))
    return s.groupBy("conv_id", "session_id").agg(
        F.count(F.lit(1)).alias("lines"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
    )


def _events_view(spark, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView("events")


def q_multiline(spark, sf_dir):
    from ci_log_processing_spark.operators.multiline import merge_multiline

    t = parse_transcripts(load_transcripts(spark, sf_dir))
    return merge_multiline(t)


def q_perf_flatten(spark, sf_dir):
    from ci_log_processing_spark.functions.perf_json import flatten_perf_json
    from ci_log_processing_spark.sources.derived import perf_reports_sql

    _events_view(spark, sf_dir)
    pr = spark.sql(perf_reports_sql("spark", "events"))
    return flatten_perf_json(pr)


def q_meta_normalize(spark, sf_dir):
    from ci_log_processing_spark.operators.convmeta import normalize_meta
    from ci_log_processing_spark.sources.derived import conv_meta_sql

    _events_view(spark, sf_dir)
    return normalize_meta(spark.sql(conv_meta_sql("spark", "events")))


def q_subunit(spark, sf_dir):
    from ci_log_processing_spark.operators.subunit import test_durations
    from ci_log_processing_spark.sources.derived import subunit_results_sql

    _events_view(spark, sf_dir)
    return test_durations(spark.sql(subunit_results_sql("spark", "events")))


def q_subunit_binary(spark, sf_dir):
    """S12 full path: synthesize subunit BYTE STREAMS from events
    (Catalyst hex encoder), parse actual bytes with the Arrow pandas
    UDF, explode, and apply the duration quirk. The oracle computes
    the same rows directly from events — so what this gate verifies
    is the binary encode->parse roundtrip. Planted rows exercise the
    P8 broken-file skip and the non-subunit-content skip; neither
    appears in the oracle, so they MUST be dropped."""
    from ci_log_processing_spark.operators.subunit import (
        encode_stream,
        packet_hex_col,
        parse_subunit_stream,
        test_durations,
    )
    from ci_log_processing_spark.sources.derived import subunit_results_sql

    _events_view(spark, sf_dir)
    su = spark.sql(subunit_results_sql("spark", "events"))
    pkt = packet_hex_col(
        F.col("test_name"),
        F.col("test_status"),
        F.unix_micros(F.col("start_ts").cast("timestamp")),
        F.unix_micros(F.col("end_ts").cast("timestamp")),
    )
    streams = (
        su.select(
            "conv_id", F.struct("test_name", pkt.alias("pkt")).alias("sp")
        )
        .groupBy("conv_id")
        .agg(
            F.unhex(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("sp")),
                        lambda x: x["pkt"],
                    ),
                    "",
                )
            ).alias("payload")
        )
        .withColumn("file_name", F.lit("testrepository.subunit"))
    )
    planted = spark.createDataFrame(
        [
            # P8: valid bytes but the hardcoded broken name -> skipped
            (
                "conv-p8-broken",
                "testrepository.subunit.gz",
                bytearray(
                    encode_stream([("test_x", "success", 0, 1_000_000)])
                ),
            ),
            # non-subunit content -> whole file skipped
            (
                "conv-garbage",
                "other.subunit",
                bytearray(b"Non subunit content here"),
            ),
        ],
        "conv_id string, file_name string, payload binary",
    )
    rows = parse_subunit_stream(
        streams.unionByName(planted.select("conv_id", "payload", "file_name"))
    )
    return test_durations(rows)


# --- streaming queries (gate-checked) -----------------------------------


def _collect_in_scratch(
    spark: SparkSession,
    prefix: str,
    run: Callable[[str], DataFrame],
    schema: str,
) -> DataFrame:
    """`run(work)` in a fresh scratch directory `work`; the frame it
    returns is collected before the directory is removed, and its rows
    come back as a frame of `schema`."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        rows = run(work).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _write_wave(df: DataFrame, in_dir: str, name: str, mtime: int) -> None:
    """`df` as the single file `<in_dir>/<name>.parquet` with
    modification time `mtime`: the file source orders micro-batches by
    mtime, so waves written with rising mtimes arrive in that order."""
    tmp = os.path.join(os.path.dirname(in_dir), "w_" + name)
    df.coalesce(1).write.parquet(tmp)
    pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    os.makedirs(in_dir, exist_ok=True)
    dst = os.path.join(in_dir, name + ".parquet")
    shutil.copy(os.path.join(tmp, pq[0]), dst)
    os.utime(dst, (mtime, mtime))


def q_stream_follow(spark, sf_dir):
    """§2.8 follow loop as a GATE-CHECKED query: a deterministic
    subset of conversations (user_id % 29 == 1) is streamed through
    run_follow (availableNow micro-batches, conv-aligned files) and
    the landed sink rows are compared against the batch oracle —
    streaming and batch semantics must be identical
    (reference --follow is literally a re-run loop,
    logsender.py:683-687)."""
    from ci_log_processing_spark.sources.derived import conv_meta_sql
    from ci_log_processing_spark.streaming.follow import run_follow

    t = load_transcripts(spark, sf_dir)
    meta = spark.sql(conv_meta_sql("spark", "events"))
    subset = t.filter(
        F.substring("conv_id", 6, 10).cast("int") % 29 == 1
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        out_dir = os.path.join(work, "out")
        # convs must not straddle files (the conv is the readiness
        # unit, like the reference's build dirs)
        subset.repartition(2, "conv_id").write.parquet(in_dir)
        run_follow(spark, in_dir, out_dir, meta=meta)
        # follow appends the job's one sink table
        return (
            spark.read.parquet(os.path.join(out_dir, "sinks"))
            .select("conv_id", "turn_idx", "sink", "drop_reason")
        )

    return _collect_in_scratch(
        spark, "gate_follow_", _run,
        "conv_id string, turn_idx int, sink string, drop_reason string",
    )


def q_stream_session_evictions(spark, sf_dir):
    """Stateful applyInPandasWithState sessionizer (idle eviction) —
    rows-only gate entry (state timeouts are not SQL-expressible):
    stream 3 convs in 2 conv-aligned files, wait for all evictions,
    return the final (deterministic) evicted summaries."""
    from ci_log_processing_spark.streaming.session_state import (
        run_stateful_sessionize,
    )

    t = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 50 == 1
    )
    n_convs = t.select("conv_id").distinct().count()

    def _run(work):
        in_dir = os.path.join(work, "in")
        t.repartition(2, "conv_id").write.parquet(in_dir)
        out = run_stateful_sessionize(
            spark,
            in_dir,
            os.path.join(work, "out"),
            max_files_per_trigger=1,
            wait_evictions=n_convs,
            eviction_deadline_sec=180.0,  # headroom on loaded machines
        )
        return (
            out.filter(F.col("status") == "evicted")
            .select("conv_id", "turns", "first_us", "last_us")
        )

    return _collect_in_scratch(
        spark, "gate_sess_", _run,
        "conv_id string, turns long, first_us long, last_us long",
    )


def q_stream_watermark_agg(spark, sf_dir):
    """Watermarked windowed aggregate (streaming/watermark.py) as a
    GATE-CHECKED query: the conv subset (user_id % 23 == 1) arrives
    as ONE file — in-order delivery, so the 2 h watermark never drops
    a row — and availableNow's trailing no-data batch flushes every
    window whose end passed the final watermark. Emitted rows must
    therefore equal the batch aggregate restricted to finalized
    windows (the SQL twin)."""
    from ci_log_processing_spark.streaming.watermark import (
        streaming_severity_window_counts,
    )

    sub = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 23 == 1
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        sub.repartition(1).write.parquet(in_dir)
        return streaming_severity_window_counts(
            spark, in_dir, os.path.join(work, "out")
        )

    return _collect_in_scratch(
        spark, "gate_wm_", _run,
        "window_start timestamp, window_end timestamp, "
        "severity string, cnt long",
    )


def q_stream_cdc_merge(spark, sf_dir):
    """Streaming CDC merge with bucket-granularity rewrite
    (streaming/cdc_merge.py): the q_apply_cdc change set (text-only
    payload) arrives as THREE files routed by key hash — every key's
    ops share one batch, so the sequentially-merged snapshot equals
    the global last-writer merge the SQL twin computes."""
    from ci_log_processing_spark.streaming.cdc_merge import (
        bootstrap_snapshot,
        run_cdc_merge,
    )

    docs = _docs(spark, sf_dir)
    changes = _cdc_changes(docs).select("doc_id", "op", "seq", "text")

    def _run(work):
        ch_dir = os.path.join(work, "changes")
        changes.repartition(3, F.col("doc_id")).write.parquet(ch_dir)
        snap = os.path.join(work, "snap")
        bootstrap_snapshot(
            docs.select("doc_id", "text"), snap, n_buckets=8
        )
        return run_cdc_merge(
            spark, ch_dir, snap, os.path.join(work, "chk"),
            n_buckets=8,
        )

    return _collect_in_scratch(
        spark, "gate_cdcm_", _run, "doc_id long, text string"
    )


def q_stream_agg_incremental(spark, sf_dir):
    """Streaming rollup maintenance (streaming/agg_incremental.py):
    the conv subset (user_id % 23 == 7) arrives as THREE files —
    three micro-batches, three batch-scoped partials — and the
    folded rollup must equal the flat batch aggregate (the SQL
    twin), which is the streaming statement of the
    merge_agg_deltas monoid identity."""
    from ci_log_processing_spark.streaming.agg_incremental import (
        run_agg_maintenance,
    )

    sub = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 23 == 7
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        sub.repartition(3).write.parquet(in_dir)
        return run_agg_maintenance(
            spark, in_dir, os.path.join(work, "out")
        )

    return _collect_in_scratch(
        spark, "gate_agginc_", _run,
        "severity string, window_start timestamp, cnt long",
    )


def q_stream_ewma(spark, sf_dir):
    """Streaming EWMA alerting WITHOUT new streaming state
    (streaming/agg_incremental.py + operators/aggregate.py
    ewma_over_counts): the stream maintains mergeable hourly count
    partials (three micro-batches, batch-scoped overwrite), and the
    detector runs over the monoid fold on read — the composition
    must equal the batch detector over the same rows, which is what
    the SQL twin computes flat."""
    from ci_log_processing_spark.operators.aggregate import (
        ewma_over_counts,
    )
    from ci_log_processing_spark.streaming.agg_incremental import (
        run_agg_maintenance,
    )

    sub = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 23 == 11
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        sub.repartition(3).write.parquet(in_dir)
        rollup = run_agg_maintenance(
            spark, in_dir, os.path.join(work, "out")
        )
        return ewma_over_counts(rollup, group_col="severity")

    return _collect_in_scratch(
        spark, "gate_ewmastream_", _run,
        "severity string, window_start timestamp, cnt long, "
        "ewma_milli long, alert boolean",
    )


def q_stream_session_window(spark, sf_dir):
    """Watermarked streaming SESSION windows (streaming/watermark.py
    streaming_session_counts) over the conv subset user_id % 23 == 2,
    streamed as ONE file: the final watermark is max(ts) - 2 h, and a
    session is emitted iff its end (last event + gap) <= watermark —
    verified empirically at the exact boundary. The twin computes the
    same gaps-and-islands sessions in SQL and applies that filter."""
    from ci_log_processing_spark.streaming.watermark import (
        streaming_session_counts,
    )

    sub = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 23 == 2
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        sub.repartition(1).write.parquet(in_dir)
        return streaming_session_counts(
            spark, in_dir, os.path.join(work, "out")
        )

    return _collect_in_scratch(
        spark, "gate_sess_", _run,
        "conv_id string, session_start timestamp, "
        "session_end timestamp, n_turns long, "
        "first_turn int, last_turn int",
    )


def q_stream_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join (streaming/
    stream_join.py) over the conv subset user_id % 23 == 3 on BOTH
    sides, each streamed as one in-order file: inner-join matches are
    emitted as both sides arrive, so the emitted set equals the batch
    join of the same inputs — the SQL twin."""
    from ci_log_processing_spark.sources.derived import config_updates_sql
    from ci_log_processing_spark.streaming.stream_join import (
        streaming_interval_join,
    )

    sub = load_transcripts(spark, sf_dir).filter(
        F.substring("conv_id", 6, 10).cast("int") % 23 == 3
    )
    cfg = (
        spark.sql(config_updates_sql("spark", "events"))
        .withColumnRenamed("conv_id", "cfg_conv_id")
        .filter(F.substring("cfg_conv_id", 6, 10).cast("int") % 23 == 3)
    )

    def _run(work):
        l_dir = os.path.join(work, "l")
        r_dir = os.path.join(work, "r")
        sub.repartition(1).write.parquet(l_dir)
        cfg.select("cfg_conv_id", "cfg_ts", "cfg_state", "cfg_seq").repartition(
            1
        ).write.parquet(r_dir)
        return streaming_interval_join(
            spark, l_dir, r_dir, os.path.join(work, "out"),
            lookback_sec=21600,
        )

    return _collect_in_scratch(
        spark, "gate_ssj_", _run,
        "conv_id string, turn_idx int, cfg_seq long, cfg_state string",
    )


# --- training-data pipeline queries (dedup / similarity / text) ---------


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import exact_dup_groups
    from ci_log_processing_spark.sources.corpus import load_corpus

    return exact_dup_groups(load_corpus(spark, sf_dir))


def q_dedup_exact_apply(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import exact_dedup_keep_first
    from ci_log_processing_spark.sources.corpus import load_corpus

    return exact_dedup_keep_first(load_corpus(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import ngram_jaccard_pairs
    from ci_log_processing_spark.sources.corpus import load_corpus

    return ngram_jaccard_pairs(load_corpus(spark, sf_dir), threshold=0.6)


def q_dedup_minhash_lsh(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import minhash_lsh_pairs
    from ci_log_processing_spark.sources.corpus import load_corpus

    return minhash_lsh_pairs(load_corpus(spark, sf_dir), spark, threshold=0.6)


def q_incremental_minhash_dedup(spark, sf_dir):
    """Ingestion-time NEAR-dup gate: the planted exact/near copies
    (doc_id >= 1000000 in the dedup corpus) arrive as a new batch
    and are deduped against the original docs via the persisted-band
    LSH index shape (operators/dedup.py incremental_minhash_dedup)."""
    from ci_log_processing_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    batch = corpus.filter(F.col("doc_id") >= 1000000)
    index_docs = corpus.filter(F.col("doc_id") < 1000000)
    return incremental_minhash_dedup(
        batch, index_docs, threshold=0.6, candidate_cap=64
    )


def q_dedup_simhash(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import simhash_fingerprints
    from ci_log_processing_spark.sources.corpus import load_corpus

    return simhash_fingerprints(load_corpus(spark, sf_dir))


def q_dedup_simhash_pairs(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import simhash_pairs
    from ci_log_processing_spark.sources.corpus import load_corpus

    return simhash_pairs(load_corpus(spark, sf_dir), max_hamming=3)


def q_dedup_simhash_pairs_capped(spark, sf_dir):
    # cap=16 bites at test scale (mass-duplicate groups concentrate
    # fingerprints); oracle applies the identical sub-split rule
    from ci_log_processing_spark.operators.dedup import simhash_pairs
    from ci_log_processing_spark.sources.corpus import load_corpus

    return simhash_pairs(
        load_corpus(spark, sf_dir), max_hamming=3, bucket_cap=16
    )


def q_dedup_keep_best(spark, sf_dir):
    """Duplicate-component resolution keeping the highest-QUALITY
    doc per cluster (operators/dedup.py dedup_keep_best) instead of
    the lowest id."""
    from ci_log_processing_spark.operators.dedup import dedup_keep_best
    from ci_log_processing_spark.sources.corpus import load_corpus

    return dedup_keep_best(load_corpus(spark, sf_dir), spark, threshold=0.6)


def q_embed_near_dup(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.30)


def q_embed_near_dup_capped(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import (
        embedding_near_dup_pairs_capped,
    )

    # cap 20 < every sf0.01 bucket size (44-59), so sub-splitting is
    # actually exercised in the gate, not just the nsub=1 fast path
    return embedding_near_dup_pairs_capped(
        _emb(spark, sf_dir), threshold=0.30, bucket_cap=20
    )


def q_srp_near_dup(spark, sf_dir):
    """SRP-LSH embedding near-dup (operators/similarity.py
    srp_near_dup_pairs, Charikar 2002): 24-bit random-hyperplane
    signature, 8 bands (recall 0.86 at the 0.30 boundary, Charikar
    collision bound), band-collision candidates, exact cosine
    verify — needs no precomputed cluster column, unlike
    dedup_embedding_cosine's label buckets."""
    from ci_log_processing_spark.operators.similarity import (
        srp_near_dup_pairs,
    )

    return srp_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.30, n_bits=24, bands=8
    )


def q_srp_near_dup_capped(spark, sf_dir):
    """srp_near_dup_pairs with the deterministic hash sub-split on
    hot (band, key) cells — cap 24 is below the largest gate-scale
    cells (up to ~49 rows), so the sub-split path is actually
    exercised, same policy as dedup_embedding_cosine_capped."""
    from ci_log_processing_spark.operators.similarity import (
        srp_near_dup_pairs,
    )

    return srp_near_dup_pairs(
        _emb(spark, sf_dir),
        threshold=0.30,
        n_bits=24,
        bands=8,
        bucket_cap=24,
    )


def q_ann_ivfpq(spark, sf_dir):
    """Composed IVF+PQ ANN (operators/similarity.py ivfpq_ann_topk,
    the IVFADC shape): coarse k-medians inverted lists restrict each
    query to nprobe=2 of 8 lists, PQ/ADC ranks inside the probed
    lists, exact re-rank of the 50-candidate shortlist."""
    from ci_log_processing_spark.operators.similarity import ivfpq_ann_topk

    emb = _emb(spark, sf_dir)
    return ivfpq_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nprobe=2,
        k_coarse=8,
        m=4,
        k_codes=8,
        n_iter=2,
        rerank=50,
    )


def q_contrastive_triplets(spark, sf_dir):
    """Hard-negative contrastive triplet mining (operators/
    similarity.py contrastive_triplets): one SRP-LSH candidate pass
    serves each anchor its best positive (cosine >= 0.35) and its
    hardest in-candidate negative (< 0.35)."""
    from ci_log_processing_spark.operators.similarity import (
        contrastive_triplets,
    )

    return contrastive_triplets(_emb(spark, sf_dir), t_pos=0.35)


def q_ann_brute_force(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q_ann_bucketed(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import bucketed_ann_topk

    emb = _emb(spark, sf_dir)
    return bucketed_ann_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q_ann_pq(spark, sf_dir):
    """PQ/ADC approximate nearest neighbors (operators/similarity.py
    pq_ann_topk, Jégou et al. 2011): per-subspace deterministic
    k-medians codebooks, corpus encoded to m codes, ADC shortlist of
    50 candidates per query, exact-distance re-rank (IVFADC+R)."""
    from ci_log_processing_spark.operators.similarity import pq_ann_topk

    emb = _emb(spark, sf_dir)
    return pq_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        m=4,
        k_codes=8,
        n_iter=2,
        k=10,
        rerank=50,
    )


def q_kmeans_fit(spark, sf_dir):
    """Deterministic k-medians fit (operators/similarity.py
    kmeans_fit) — the IVF coarse-quantizer training loop, fully
    oracle-replayable (seed draw + 3 unrolled Lloyd iterations)."""
    from ci_log_processing_spark.operators.similarity import kmeans_fit

    return kmeans_fit(_emb(spark, sf_dir), k=8, n_iter=3)


def q_semantic_cluster_dedup(spark, sf_dir):
    """SemDeDup-style cluster-then-dedup (operators/similarity.py
    semantic_cluster_dedup): deterministic k-medians clustering as
    the blocking step, keep-lowest-id within cosine threshold."""
    from ci_log_processing_spark.operators.similarity import (
        semantic_cluster_dedup,
    )

    return semantic_cluster_dedup(
        _emb(spark, sf_dir), k=8, n_iter=2, threshold=0.30
    )


# per-source keep rates for the mixture gate query: exercises full
# keep, fractional keeps, full drop, and the default fallback
MIX_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.0}


def q_mixture_sample(spark, sf_dir):
    """Deterministic per-source mixture sampling
    (operators/curation.py mixture_sample)."""
    from ci_log_processing_spark.operators.curation import mixture_sample

    return mixture_sample(_docs(spark, sf_dir), MIX_RATES, default_rate=0.6)


def q_shuffle_index(spark, sf_dir):
    """Global deterministic training-order shuffle without a global
    window (operators/curation.py shuffle_index)."""
    from ci_log_processing_spark.operators.curation import shuffle_index

    return shuffle_index(_docs(spark, sf_dir), shard_size=100)


LANG_RATES = {"en": 1.0, "zh": 0.5, "de": 0.25}


def q_lang_mixture(spark, sf_dir):
    """The same mixture operator keyed on LANGUAGE instead of source
    (operators/curation.py mixture_sample, group_col='lang')."""
    from ci_log_processing_spark.operators.curation import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir), LANG_RATES, default_rate=0.75, group_col="lang"
    )


def q_quality_top_frac(spark, sf_dir):
    """Calibrated per-source quality gate: keep the top 2/5 by score
    (operators/curation.py quality_top_fraction)."""
    from ci_log_processing_spark.operators.curation import (
        quality_top_fraction,
    )
    from ci_log_processing_spark.operators.textstats import quality_scores

    q = quality_scores(_docs(spark, sf_dir), keep_cols=("source",)).select(
        "doc_id", "source", "quality"
    )
    return quality_top_fraction(q, 2, 5)


def q_token_budget(spark, sf_dir):
    """Per-source token-budget sampling in deterministic md5 order
    (operators/curation.py token_budget_sample)."""
    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )

    return token_budget_sample(_docs(spark, sf_dir), 4000).select(
        "doc_id", "source", "n_tok", "cum_tok"
    )


def q_token_budget_soft(spark, sf_dir):
    """Soft-dedup token budget: token_budget_sample runs on integer
    MILLI-token masses from softdedup_weights (exact mode) — a
    cluster of n exact copies costs the per-source budget one
    document's tokens total, however many copies are admitted
    (operators/curation.py softdedup_weights + token_budget_sample
    n_tok_col hook)."""
    from ci_log_processing_spark.operators.curation import (
        softdedup_weights,
        token_budget_sample,
    )

    docs = _docs(spark, sf_dir)
    w = softdedup_weights(docs).select(
        "doc_id", "weighted_tokens_milli"
    )
    joined = docs.select("doc_id", "source").join(w, "doc_id")
    return token_budget_sample(
        joined,
        budget_tokens=600_000,
        n_tok_col="weighted_tokens_milli",
    ).select("doc_id", "source", "n_tok", "cum_tok")


def q_token_budget_bpe(spark, sf_dir):
    """Tokenizer-TRUE per-source token budget: per-doc counts under
    the learned BPE vocabulary (operators/tokenizer.py
    bpe_token_counts) feed token_budget_sample via its n_tok_col
    hook, so the budget bounds what the model will actually see
    rather than the whitespace proxy. Same plan shape as
    cur_token_budget (one group-keyed running-sum exchange) plus the
    encode join; docs with no countable word carry no count row and
    drop out of the inner join on both engines."""
    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )
    from ci_log_processing_spark.operators.tokenizer import (
        bpe_token_counts,
    )

    docs = _docs(spark, sf_dir)
    counts = bpe_token_counts(docs, n_merges=8)
    with_counts = docs.select("doc_id", "source").join(counts, "doc_id")
    return token_budget_sample(
        with_counts, 3000, n_tok_col="n_bpe_tokens"
    ).select("doc_id", "source", "n_tok", "cum_tok")


def q_line_dedup(spark, sf_dir):
    """Corpus-wide repeated-line removal over planted boilerplate
    (operators/textstats.py line_dedup)."""
    from ci_log_processing_spark.operators.textstats import (
        attach_boilerplate,
        line_dedup,
    )

    return line_dedup(attach_boilerplate(_docs(spark, sf_dir)), min_count=3)


def q_ann_ivf_multiprobe(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import (
        ivf_multiprobe_topk,
    )

    emb = _emb(spark, sf_dir)
    return ivf_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2
    )


def _write_docs_and_copies(docs: DataFrame, in_dir: str) -> None:
    """The documents, then exact copies of every doc_id % 10 == 0 (ids
    +1000000), as two files under `in_dir`, each row stamped with an
    `event_ts` inside one hour."""
    ts = F.timestamp_seconds(
        F.lit(1709287200) + (F.col("doc_id") % 3600)
    ).alias("event_ts")
    docs.select("doc_id", "text", ts).coalesce(1).write.parquet(in_dir)
    docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", ts
    ).coalesce(1).write.mode("append").parquet(in_dir)


def q_stream_dedup(spark, sf_dir):
    """Streaming ingest dedup as a GATE-CHECKED query: documents plus
    exact copies (doc_id % 10 == 0, the corpus planting rule) arrive
    in two separate micro-batches; dropDuplicatesWithinWatermark must
    keep each text exactly once. The surviving HASH SET is compared
    against batch SQL (which copy of a pair survives depends on file
    arrival order, so the gate checks the order-insensitive set)."""
    from ci_log_processing_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_docs_and_copies(_docs(spark, sf_dir), in_dir)
        return streaming_exact_dedup(
            spark, in_dir, os.path.join(work, "out")
        ).select("h")

    return _collect_in_scratch(spark, "gate_sdedup_", _run, "h string")


def q_stream_ingest_curation(spark, sf_dir):
    """Composed STREAMING ingest->curate->append pipeline
    (streaming/ingest_curate.py): per micro-batch quality gate +
    dedup against the persisted content-hash index. Input: the
    documents plus exact copies (doc_id % 10 == 0, +1000000 ids)
    across files; survivors are the quality-passing docs, each text
    exactly once. WHICH copy of a duplicate survives is
    arrival-order (micro-batch) dependent — file-source mtime
    ordering is not guaranteed for same-millisecond files — so the
    gate compares the order-INDEPENDENT columns (h, quality), which
    both copies share."""
    from ci_log_processing_spark.streaming.ingest_curate import (
        run_ingest_curation,
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_docs_and_copies(_docs(spark, sf_dir), in_dir)
        return run_ingest_curation(
            spark, in_dir, os.path.join(work, "out"), min_quality=0.45
        ).select("h", "quality")

    return _collect_in_scratch(
        spark, "gate_singest_", _run, "h string, quality double"
    )


def q_stream_neardup(spark, sf_dir):
    """Streaming NEAR-dup ingest (streaming/neardup_ingest.py): the
    originals arrive as micro-batch 0, the planted exact (+1000000,
    doc_id % 10) and near (+2000000, doc_id % 7) copies as batch 1 —
    wave order FORCED via file mtimes (the file source orders by
    modification time), so the survivor set is deterministic and the
    oracle can assume originals-first. Batch 1's copies are dropped
    against batch 0's persisted band index iff banded + verified at
    Jaccard >= 0.6 under the capped candidate rule; output is the
    surviving doc_id set."""
    from ci_log_processing_spark.streaming.neardup_ingest import (
        run_neardup_ingestion,
    )

    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate suffix")).alias(
            "text"
        ),
    )

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_wave(base, in_dir, "w0", 1_000_000)
        _write_wave(exact.unionAll(near), in_dir, "w1", 2_000_000)
        return run_neardup_ingestion(
            spark, in_dir, os.path.join(work, "out"), threshold=0.6
        ).select("doc_id")

    return _collect_in_scratch(spark, "gate_sneardup_", _run, "doc_id long")


def q_stream_cms(spark, sf_dir):
    """Streaming count-min heavy hitters (streaming/cms_stream.py):
    the corpus arrives as TWO micro-batches (odd/even doc_id, so
    every hot token's count straddles the batch boundary), per-batch
    exact-count + CMS-cell partials sum-merge, and the result must
    hash-equal the single-pass DuckDB sketch over all docs — the
    linearity proof, not just plumbing."""
    from ci_log_processing_spark.streaming.cms_stream import (
        run_streaming_cms,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_wave(
            docs.filter(F.col("doc_id") % 2 == 0), in_dir, "w0", 1_000_000
        )
        _write_wave(
            docs.filter(F.col("doc_id") % 2 == 1), in_dir, "w1", 2_000_000
        )
        return run_streaming_cms(spark, in_dir, os.path.join(work, "out"))

    return _collect_in_scratch(
        spark, "gate_scms_", _run,
        "token string, exact_n long, cms_n long, inflation long, rank int",
    )


def q_stream_snapshot_drift(spark, sf_dir):
    """Streaming snapshot-drift monitor (streaming/drift_stream.py):
    the odd-vec_id half of the corpus arrives as TWO micro-batches
    (every label's centroid straddles the batch boundary), per-batch
    (label, dim) sum/count partials sum-merge, and the drift table vs
    the even-vec_id reference must hash-equal the SINGLE-PASS batch
    operator's DuckDB twin (the same oracle sim_snapshot_drift uses)
    — linear-merge correctness, not just plumbing."""
    from ci_log_processing_spark.streaming.drift_stream import (
        run_streaming_drift,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "label", "embedding")

    def _run(work):
        in_dir = os.path.join(work, "in")
        odd = emb.filter(F.col("vec_id") % 2 != 0)
        _write_wave(
            odd.filter(F.col("vec_id") % 4 == 1), in_dir, "w0", 1_000_000
        )
        _write_wave(
            odd.filter(F.col("vec_id") % 4 == 3), in_dir, "w1", 2_000_000
        )
        ref_dir = os.path.join(work, "ref")
        emb.filter(F.col("vec_id") % 2 == 0).write.parquet(ref_dir)
        return run_streaming_drift(
            spark, in_dir, ref_dir, os.path.join(work, "out")
        )

    return _collect_in_scratch(
        spark, "gate_sdrift_", _run,
        "label int, n_a long, n_b long, "
        "centroid_cosine double, centroid_l2 double",
    )


def q_incremental_dedup(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import incremental_dedup
    from ci_log_processing_spark.sources.corpus import load_corpus

    known = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
    )
    incoming = load_corpus(spark, sf_dir)
    return incremental_dedup(incoming, known)


def q_dedup_substring_spans(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import duplicate_spans
    from ci_log_processing_spark.sources.corpus import load_corpus

    return duplicate_spans(load_corpus(spark, sf_dir), k=20)


def q_dedup_components(spark, sf_dir):
    from ci_log_processing_spark.operators.dedup import (
        dedup_pair_edges,
        duplicate_components,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    pairs = dedup_pair_edges(corpus, spark, threshold=0.6)
    return duplicate_components(pairs, corpus.select("doc_id"))


def q_dedup_components_star(spark, sf_dir):
    """Same edge set and same oracle as dedup_components, computed by
    the O(log^2 n) large-star/small-star contraction instead of
    min-label propagation — the gate proves the two algorithms agree
    on real dedup output."""
    from ci_log_processing_spark.operators.dedup import (
        dedup_pair_edges,
        duplicate_components_star,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    pairs = dedup_pair_edges(corpus, spark, threshold=0.6)
    return duplicate_components_star(pairs, corpus.select("doc_id"))


def q_dedup_semantic_apply(spark, sf_dir):
    """SemDeDup-style composition: the generic components operator
    consuming the embedding-cosine near-dup pair stream — one
    operator family (pairs -> clusters -> keepers) serving lexical
    AND semantic dedup."""
    from ci_log_processing_spark.operators.dedup import duplicate_components
    from ci_log_processing_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _emb(spark, sf_dir)
    pairs = embedding_near_dup_pairs(emb, threshold=0.30).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = emb.select(F.col("vec_id").alias("doc_id"))
    return duplicate_components(pairs, nodes).select(
        F.col("doc_id").alias("vec_id"), "component", "is_keeper"
    )


def q_pii_scrub(spark, sf_dir):
    from ci_log_processing_spark.operators.pii import attach_pii, pii_scrub

    return pii_scrub(attach_pii(_docs(spark, sf_dir)))


def q_repetition(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import (
        attach_lines,
        repetition_stats,
    )

    return repetition_stats(attach_lines(_docs(spark, sf_dir)))


def q_token_entropy(spark, sf_dir):
    """Unigram token entropy (operators/textstats.py token_entropy):
    the low-entropy spam signal, deterministic sorted-fold float."""
    from ci_log_processing_spark.operators.textstats import token_entropy

    return token_entropy(_docs(spark, sf_dir))


def q_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality filter (operators/textstats.py
    gopher_rules — Rae et al. 2021 table A1): per-rule 0/1 flags +
    conjunction keep, one zero-shuffle projection."""
    from ci_log_processing_spark.operators.textstats import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def q_gopher_funnel(spark, sf_dir):
    """Filter-attrition funnel over the Gopher rules
    (operators/textstats.py gopher_funnel): isolated-fail count per
    rule + cumulative survivors in fixed stage order."""
    from ci_log_processing_spark.operators.textstats import gopher_funnel

    return gopher_funnel(_docs(spark, sf_dir))


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + domain blocklist + URL-level keep-first
    dedup (operators/urls.py) over the deterministic planted urls."""
    from ci_log_processing_spark.operators.urls import (
        attach_urls,
        url_dedup,
    )

    return url_dedup(attach_urls(_docs(spark, sf_dir))).select(
        "doc_id", "url", "url_norm", "domain"
    )


def q_repetition_arrow(spark, sf_dir):
    """Arrow-batched mapInPandas variant of repetition_stats — same
    output, measured ~6x less per-core compute than the Catalyst
    higher-order fold (BASELINE.md repetition study); verified here
    against the same oracle SQL as text_repetition."""
    from ci_log_processing_spark.operators.textstats import (
        attach_lines,
        repetition_stats_arrow,
    )

    return repetition_stats_arrow(attach_lines(_docs(spark, sf_dir)))


def q_pack_sequences(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), capacity=256)


def q_corpus_diff(spark, sf_dir):
    """Snapshot-to-snapshot corpus delta (operators/snapshot.py):
    hash-below-the-join full outer diff against the deterministically
    derived next snapshot."""
    from ci_log_processing_spark.operators.snapshot import (
        corpus_diff,
        derive_snapshot_b,
    )

    docs = _docs(spark, sf_dir)
    return corpus_diff(docs, derive_snapshot_b(docs))


def q_cdc_chunks(spark, sf_dir):
    """Content-defined-chunking shared-bytes report
    (operators/dedup.py cdc_chunk_stats) — insertion-robust chunk
    dedup, one chunk-hash shuffle."""
    from ci_log_processing_spark.operators.dedup import cdc_chunk_stats

    return cdc_chunk_stats(_docs(spark, sf_dir), window=8, divisor=16)


def q_normalize_text(spark, sf_dir):
    """Unicode NFC + whitespace canonicalization
    (operators/textstats.py normalize_text) over the planted mess —
    the one Arrow-UDF step Spark SQL cannot express natively."""
    from ci_log_processing_spark.operators.textstats import (
        attach_mess,
        normalize_text,
    )

    return normalize_text(attach_mess(_docs(spark, sf_dir)))


EPOCH_WEIGHTS = {"src0": 3.0, "src1": 2.0}


def q_epoch_plan(spark, sf_dir):
    """Multi-epoch up-sampling mixture plan (operators/curation.py
    epoch_plan): one per-source token-sum shuffle, arithmetic on the
    tiny source table."""
    from ci_log_processing_spark.operators.curation import epoch_plan

    return epoch_plan(
        _docs(spark, sf_dir),
        target_tokens=60_000.0,
        weights=EPOCH_WEIGHTS,
        max_epochs=4.0,
    )


def q_overlap_decontaminate(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import (
        overlap_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 31 == 0)
    return overlap_decontaminate(docs, bench, k=5, threshold=0.5)


def q_conv_select(spark, sf_dir):
    """Per-conversation quality roll-up + training-selection flag
    (operators/sft.py conversation_select) — document-level curation
    lifted to the conversation grain over the routed pipeline."""
    from ci_log_processing_spark.operators.sft import conversation_select

    return conversation_select(
        _routed(spark, sf_dir),
        min_turns=5,
        max_error_frac=0.2,
        min_tool_calls=1,
    )


def q_context_windows(spark, sf_dir):
    """Sliding-context SFT example construction (operators/sft.py
    context_windows): previous <=4 visible turns as 'role: message'
    context for every visible assistant turn."""
    from ci_log_processing_spark.operators.sft import context_windows

    return context_windows(_routed(spark, sf_dir), n_context=4)


def q_preference_pairs(spark, sf_dir):
    """Retry-repair preference-pair mining (operators/sft.py
    preference_pairs): every failed tool call paired with the next
    same-tool success in its conversation — transcript-native
    DPO-pair construction over the routed pipeline."""
    from ci_log_processing_spark.operators.sft import preference_pairs

    return preference_pairs(_routed(spark, sf_dir))


def q_softdedup_weights(spark, sf_dir):
    """SoftDeDup duplicate reweighting (operators/curation.py
    softdedup_weights): 1/cluster_size weights over the SAME
    near-dup components the hard-dedup gate uses — soft dedup as a
    composition of the existing pair->components operators."""
    from ci_log_processing_spark.operators.curation import (
        softdedup_weights,
    )
    from ci_log_processing_spark.operators.dedup import (
        dedup_pair_edges,
        duplicate_components,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    pairs = dedup_pair_edges(corpus, spark, threshold=0.6)
    comps = duplicate_components(pairs, corpus.select("doc_id"))
    return softdedup_weights(corpus, clusters=comps)


def q_fuzzy_decontaminate(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import (
        fuzzy_decontaminate,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 31 == 0)
    return fuzzy_decontaminate(corpus, bench, threshold=0.5, k=5)


def q_top_ngrams(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20)


def q_jsonl_quarantine(spark, sf_dir):
    """JSONL ingest with record-level corrupt quarantine: documents
    serialized to JSON lines, every 13th line truncated mid-object;
    the PERMISSIVE reader must parse the rest and flag exactly the
    planted records (fields NULL there) — record-granular analog of
    the reference's broken-file skip (logsender.py:527-529)."""
    from ci_log_processing_spark.sources.jsonl import read_documents_jsonl

    docs = _docs(spark, sf_dir)
    line = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    lines = docs.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.substring(line, 1, F.length(line) - 5),
        )
        .otherwise(line)
        .alias("value")
    )

    def _run(work):
        path = os.path.join(work, "shard")
        lines.coalesce(2).write.text(path)
        return read_documents_jsonl(
            spark,
            path,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).select("doc_id", "is_corrupt")

    return _collect_in_scratch(
        spark, "gate_jsonl_", _run, "doc_id long, is_corrupt boolean"
    )


def q_ks_drift(spark, sf_dir):
    """Two-sample KS drift (operators/dq.py ks_drift) between the
    even- and odd-doc_id slices' n_chars distributions — exact
    integer cross-multiplied CDF max, value-histogram shape (the
    shuffle carries distinct values, never rows)."""
    from ci_log_processing_spark.operators.dq import ks_drift

    docs = _docs(spark, sf_dir)
    return ks_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
    )


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood linkage (operators/linkage.py
    sorted_neighborhood_pairs): rank-window candidate pairs over
    the two-level bucket rank (no global sort), exact levenshtein
    verify — the wide-net multi-pass companion to symspell; the
    oracle affords the plain global row_number the operator
    avoids."""
    from ci_log_processing_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        _docs(spark, sf_dir), window=4, max_dist=2
    )


def q_pack_bfd(spark, sf_dir):
    """Best-fit-decreasing packing (operators/curation.py
    pack_sequences_bfd): the 11/9-OPT density upgrade over next-fit,
    checked against a recursive-CTE oracle carrying the bin-load
    list as value state."""
    from ci_log_processing_spark.operators.curation import (
        pack_sequences_bfd,
    )

    return pack_sequences_bfd(_docs(spark, sf_dir), capacity=256)


def q_bpe_fertility(spark, sf_dir):
    """Per-source tokenizer fertility audit
    (operators/tokenizer.py bpe_fertility): BPE tokens per
    whitespace word + chars per token in exact milli — the vocab
    acceptance metric per mixture slice; rides the existing encode
    join, adds one group aggregate."""
    from ci_log_processing_spark.operators.tokenizer import (
        bpe_fertility,
    )

    return bpe_fertility(_docs(spark, sf_dir), n_merges=8)


def q_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization (operators/pii.py pseudonymize):
    conv_id replaced by a stable salted 64-bit token — joinability
    and group-bys survive, raw ids don't; per-row codegen, zero
    shuffles."""
    from ci_log_processing_spark.operators.pii import pseudonymize

    routed = _routed(spark, sf_dir).select(
        "conv_id", "turn_idx", "sink"
    )
    return pseudonymize(routed, ["conv_id"])


def q_eval_token_f1(spark, sf_dir):
    """SQuAD-style token-overlap F1 at corpus scale
    (operators/textstats.py eval_token_f1): each doc scored against
    its source-neighbor as a synthetic (prediction, reference) pair
    — zero-shuffle per-row multiset-intersection folds."""
    from pyspark.sql.window import Window

    from ci_log_processing_spark.operators.textstats import (
        eval_token_f1,
    )

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            "doc_id",
            "source",
            F.col("text").alias("prediction"),
            F.lead("text").over(w).alias("reference"),
        )
        .filter(F.col("reference").isNotNull())
        .drop("source")
    )
    return eval_token_f1(pairs)


def q_csv_quarantine(spark, sf_dir):
    """CSV ingest with record-level corrupt quarantine
    (sources/jsonl.py read_documents_csv): documents serialized to
    CSV, every 13th line's doc_id poisoned with a non-numeric token
    (type-cast failure — one of CSV's corruption modes; short rows
    are ALSO quarantined, the token-count contract flags both ways
    with parsed prefix fields kept for triage); the PERMISSIVE
    from_csv reader must flag exactly the planted rows."""
    from ci_log_processing_spark.sources.jsonl import read_documents_csv

    docs = _docs(spark, sf_dir)
    line = F.concat_ws(
        ",", "doc_id", "text", "lang", "source", "n_chars"
    )
    poisoned = F.concat_ws(
        ",",
        F.concat(F.lit("x"), F.col("doc_id")),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    lines = docs.select(
        F.when(F.col("doc_id") % 13 == 0, poisoned)
        .otherwise(line)
        .alias("value")
    )

    def _run(work):
        path = os.path.join(work, "shard")
        lines.coalesce(2).write.text(path)
        return read_documents_csv(
            spark,
            path,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).select("doc_id", "is_corrupt")

    return _collect_in_scratch(
        spark, "gate_csv_", _run, "doc_id long, is_corrupt boolean"
    )


def _curation_prefix(spark, sf_dir):
    """The shared head of the q_full_curation chains: C4 line
    cleaning -> heuristic quality >= 0.45 -> exact dedup keep-first,
    over `cleaned` text with `source` passed through (the oracle
    side's od.q_full_curation builds the same head)."""
    from ci_log_processing_spark.operators.dedup import (
        exact_dedup_keep_first,
    )
    from ci_log_processing_spark.operators.textstats import (
        attach_c4_lines,
        c4_line_filter,
        quality_scores,
    )

    cleaned = c4_line_filter(
        attach_c4_lines(_docs(spark, sf_dir)), keep_cols=("source",)
    ).filter("doc_kept")
    scored = quality_scores(
        cleaned, text_col="cleaned", keep_cols=("source", "cleaned")
    )
    survivors = scored.filter(F.col("quality") >= 0.45)
    return exact_dedup_keep_first(
        survivors, text_col="cleaned", keep_cols=("source", "cleaned")
    )


def _model_gate(deduped):
    """The MODEL-quality gate of the v2/v3 chains (hashed-ngram
    linear scorer, zero shuffle): (doc_id, source, cleaned) of the
    docs it keeps."""
    from ci_log_processing_spark.operators.textstats import (
        model_quality_scores,
    )

    return (
        model_quality_scores(
            deduped, text_col="cleaned", keep_cols=("source", "cleaned")
        )
        .filter("model_keep")
        .select("doc_id", "source", "cleaned")
    )


def q_full_curation(spark, sf_dir):
    """Flagship composition for the training-data tier: C4 line
    cleaning -> quality gate -> exact dedup keep-first -> next-fit
    sequence packing, all operator-level (passthrough columns, no
    rejoin). Plan cost: one scan, the dedup window's md5 shuffle,
    and the pack group shuffle — 2 exchanges end to end."""
    from ci_log_processing_spark.operators.curation import pack_sequences

    return pack_sequences(
        _curation_prefix(spark, sf_dir),
        capacity=128,
        group_col="source",
        text_col="cleaned",
    )


def q_full_curation_v2(spark, sf_dir):
    """Round-3 flagship composition: C4 clean -> heuristic quality
    gate -> exact dedup keep-first -> MODEL-quality gate (hashed-
    ngram linear scorer, zero shuffle) -> per-source cap (RefinedWeb
    domain-cap analog) -> next-fit packing. The cap's source-keyed
    window pre-partitions exactly what pack's applyInPandas needs
    and the model gate is per-row, so SIX composed stages still cost
    exactly TWO exchanges (dedup's md5 window + the shared source
    partitioning) — plan-asserted in tests/test_plan_shape.py."""
    from ci_log_processing_spark.operators.curation import (
        cap_per_group,
        pack_sequences,
    )

    modeled = _model_gate(_curation_prefix(spark, sf_dir))
    capped = cap_per_group(modeled, "source", cap=20)
    return pack_sequences(
        capped, capacity=128, group_col="source", text_col="cleaned"
    )


def q_full_curation_v3(spark, sf_dir):
    """Round-3 end-to-end composition: the v2 chain (C4 clean ->
    quality -> exact dedup -> model gate) plus the three new
    training-mix stages — MIXTURE sampling (per-row md5 threshold,
    zero shuffle), per-source cap, next-fit pack, and a final GLOBAL
    shuffle index over the packed samples (two-level bucket rank —
    never a single-partition window). EIGHT composed stages, THREE
    data-sized exchanges: dedup's md5 window, the shared source
    partitioning (cap + pack), and the shuffle's 256-bucket window —
    plan-asserted in tests/test_plan_shape.py."""
    from ci_log_processing_spark.operators.curation import (
        cap_per_group,
        mixture_sample,
        pack_sequences,
        shuffle_index,
    )

    modeled = _model_gate(_curation_prefix(spark, sf_dir))
    mixed = mixture_sample(modeled, MIX_RATES, default_rate=0.6).drop("u32")
    capped = cap_per_group(mixed, "source", cap=20)
    packed = pack_sequences(
        capped, capacity=128, group_col="source", text_col="cleaned"
    )
    return shuffle_index(
        packed,
        shard_size=8,
        payload_cols=("source", "n_tokens", "bin_idx", "offset_in_bin"),
    )


def q_full_curation_v4(spark, sf_dir):
    """Round-4 composition — the SAMPLING-centric curation chain
    built entirely from this round's operators: CCNet perplexity
    bucketing (drop the per-source tail third) -> Bloom-filter
    decontamination (sketch membership, over-flag-safe) -> tau=0.5
    temperature mixture (sqrt keep rates, corpus never shuffles) ->
    Duffield-Lund-Thorup priority sampling (k=20 per source, with
    the w_hat estimator that keeps dropped-mass totals estimable).
    Every admission rule is correctly-rounded IEEE or pure-integer
    math, so the full four-stage survivor set is hash-equal to the
    DuckDB twin."""
    from ci_log_processing_spark.operators.curation import (
        bloom_decontaminate,
        perplexity_buckets,
        priority_sample,
        sqrt_temperature_mixture,
    )
    from ci_log_processing_spark.operators.dedup import _register_persist

    # Each stage's SURVIVOR ID SET is persisted (doc_id only — tiny),
    # because every set is referenced twice (its own derivation + the
    # downstream join): without the persist, lazy re-evaluation fans
    # the perplexity LM lineage out ~8x by the priority stage. The
    # corpus itself is never cached — downstream stages re-scan it
    # and semi-join the id sets, the production shape.
    docs = _docs(spark, sf_dir)
    head = _register_persist(
        perplexity_buckets(docs, 3)
        .filter(F.col("ppl_bucket") <= 1)
        .select("doc_id")
    )
    kept1 = docs.join(head, "doc_id")
    clean = _register_persist(
        bloom_decontaminate(kept1, BLOOM_SNIPPETS)
        .filter(~F.col("bloom_hit"))
        .select("doc_id")
    )
    kept2 = kept1.join(clean, "doc_id")
    admitted = _register_persist(
        sqrt_temperature_mixture(kept2).select("doc_id")
    )
    kept3 = kept2.join(admitted, "doc_id")
    return priority_sample(kept3, k=20)


def q_full_curation_v5(spark, sf_dir):
    """Round-4-restart composition: span-level decontamination
    EXCISION -> DSIR importance selection over the CLEANED corpus ->
    deterministic global training-shuffle order. The excised text
    feeds the DSIR feature model, so the stages compose (cutting a
    span changes the doc's bigram histogram and can change the
    survivor set) — the hash check runs the whole chain end-to-end
    against one DuckDB CTE pipeline.

    The cleaned corpus is persisted between stages here; at 100 TB
    the excision pass is an ETL WRITE (a materialized table) that
    downstream stages re-scan — the cache
    stands in for that boundary, not for a driver-side shortcut."""
    from ci_log_processing_spark.operators.curation import (
        decontaminate_spans,
        dsir_sample,
        shuffle_index,
    )
    from ci_log_processing_spark.operators.dedup import _register_persist

    docs = _docs(spark, sf_dir)
    cleaned = _register_persist(
        decontaminate_spans(docs, SPAN_SNIPPETS, k=3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", F.col("clean_text").alias("text"), "source")
    )
    sel = dsir_sample(
        cleaned,
        cleaned.filter(F.col("source") == "src0"),
        keep_permille=500,
    )
    return shuffle_index(
        sel.select("doc_id", "dsir_bits"),
        shard_size=100,
        payload_cols=("dsir_bits",),
    )


def q_c4_clean(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import (
        attach_c4_lines,
        c4_line_filter,
    )

    return c4_line_filter(attach_c4_lines(_docs(spark, sf_dir)))


def q_chunk_documents(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


CONTAM_SNIPPETS = ["merge batch part", "scan slow fast", "vector table fast"]
# >= 5 tokens each so the Bloom variant's 5-token shingling bites
BLOOM_SNIPPETS = [
    "key agg row scan slow fast",
    "batch window spark order data column",
    "small fast slow filter value",
]


def q_decontaminate(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import decontaminate

    return decontaminate(_docs(spark, sf_dir), CONTAM_SNIPPETS)


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter shingle decontamination (operators/curation.py
    bloom_decontaminate) — sketch membership, engine-exact bits."""
    from ci_log_processing_spark.operators.curation import (
        bloom_decontaminate,
    )

    return bloom_decontaminate(_docs(spark, sf_dir), BLOOM_SNIPPETS)


# k=3 shingles: the synthetic docs' 3-grams repeat corpus-wide (5-grams
# are near-unique), so this set flags dozens of docs and the 5-token
# first snippet yields ADJACENT flagged positions whose islands merge
SPAN_SNIPPETS = [
    "slow hash batch filter value",
    "part filter scan",
    "row column sort",
    "stream table hash",
    "window fast query",
]


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination excision (operators/curation.py
    decontaminate_spans): cut the contaminated k-token spans out,
    keep the document."""
    from ci_log_processing_spark.operators.curation import (
        decontaminate_spans,
    )

    return decontaminate_spans(_docs(spark, sf_dir), SPAN_SNIPPETS, k=3)


def q_priority_sample(spark, sf_dir):
    """Duffield-Lund-Thorup priority sampling, 10 docs per source
    (operators/curation.py priority_sample)."""
    from ci_log_processing_spark.operators.curation import priority_sample

    return priority_sample(_docs(spark, sf_dir), k=10)


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style per-source perplexity tertiles (operators/
    curation.py perplexity_buckets over textstats.unigram_logprob)."""
    from ci_log_processing_spark.operators.curation import (
        perplexity_buckets,
    )

    return perplexity_buckets(_docs(spark, sf_dir), n_buckets=3)


def q_data_card(spark, sf_dir):
    """Per-source corpus data card (operators/curation.py data_card):
    one corpus scan -> volume, token mass, exact p50 length, round-5
    mean quality, exact-dup doc fraction, modal language per
    source."""
    from ci_log_processing_spark.operators.curation import data_card

    return data_card(_docs(spark, sf_dir))


def q_stratified_downsample(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import (
        stratified_downsample,
    )

    d = _docs(spark, sf_dir).withColumn(
        "stratum", (F.col("doc_id") % 7).cast("long")
    )
    return stratified_downsample(d, "stratum", keep_one_in=3).select(
        "doc_id", "stratum"
    )


def q_source_caps(spark, sf_dir):
    """Per-group (domain-cap analog) document cap in deterministic
    pseudo-random md5 order (operators/curation.py cap_per_group)."""
    from ci_log_processing_spark.operators.curation import cap_per_group

    return cap_per_group(_docs(spark, sf_dir), "source", cap=40).select(
        "doc_id", "source"
    )


def q_length_quantiles(spark, sf_dir):
    """Nearest-rank per-source token-length quantiles
    (operators/curation.py length_quantiles) — integer rank math, so
    exact cross-engine parity, unlike interpolating percentiles."""
    from ci_log_processing_spark.operators.curation import length_quantiles

    q = length_quantiles(_docs(spark, sf_dir), "source")
    return q.select(
        "source",
        F.col("p50_tokens").cast("long").alias("p50_tokens"),
        F.col("p90_tokens").cast("long").alias("p90_tokens"),
        F.col("p99_tokens").cast("long").alias("p99_tokens"),
        "n_docs",
    )


def q_token_histogram(spark, sf_dir):
    from ci_log_processing_spark.operators.curation import (
        token_length_histogram,
    )

    return token_length_histogram(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def q_model_quality(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import model_quality_scores

    return model_quality_scores(_docs(spark, sf_dir))


def q_tfidf(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def q_tfidf_pruned(spark, sf_dir):
    """tfidf with the Zipf-head vocabulary cut (max_df_frac=0.5):
    terms in more than half the corpus leave BOTH sides of the
    tf ⋈ df join before it runs — the web-scale prune, oracle in
    lockstep."""
    from ci_log_processing_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3, max_df_frac=0.5)


def q_lang_id(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from ci_log_processing_spark.operators.textstats import fingerprints

    return fingerprints(_docs(spark, sf_dir))


def q_mm_image_features(spark, sf_dir):
    from ci_log_processing_spark.operators.multimodal import (
        attach_media,
        decode_image_features,
    )

    return decode_image_features(attach_media(_docs(spark, sf_dir)))


def q_mm_frame_sample(spark, sf_dir):
    from ci_log_processing_spark.operators.multimodal import (
        attach_media,
        frame_sample,
    )

    return frame_sample(attach_media(_docs(spark, sf_dir)))


def q_mm_audio_chunks(spark, sf_dir):
    from ci_log_processing_spark.operators.multimodal import (
        attach_media,
        audio_chunks,
    )

    return audio_chunks(attach_media(_docs(spark, sf_dir)))


# The oracles recompute every feature straight from `documents`,
# mirroring the container geometry attach_media derives from
# length(text) (multimodal.py:_bmp_geometry/_wav_geometry/
# _y4m_geometry) and slicing the same cycled-text pixel/sample
# stream the synthesiser embeds in the real BMP/WAV/Y4M payloads.
# Document text is ASCII (asserted by the char==byte substr/md5
# equivalence these twins rely on).
MM_AUDIO_ORACLE = """
WITH a AS (
  SELECT doc_id, text, length(text) AS L,
         8000 + (length(text) % 5) * 2000 AS sr,
         64 + (length(text) * 7) % 193 AS ns
  FROM documents WHERE doc_id % 3 = 1
),
d AS (
  SELECT doc_id, sr, ns, 2 * ns AS nb,
         substr(repeat(text, CAST(2 * ns // L + 1 AS INT)),
                1, CAST(2 * ns AS INT)) AS data
  FROM a
),
c AS (
  SELECT doc_id, sr, ns, nb, data,
         unnest(range(least(8, (nb + 31) // 32))) AS ci
  FROM d
),
s AS (
  SELECT doc_id, sr, ns, CAST(ci AS INT) AS chunk_idx,
         CAST(ci * 32 AS BIGINT) AS start_byte,
         substr(data, CAST(ci * 32 + 1 AS INT), 32) AS seg
  FROM c
)
SELECT doc_id,
       CAST(sr AS INT) AS sample_rate,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(ns * 1000000 // sr AS BIGINT) AS duration_us,
       chunk_idx, start_byte,
       CAST(length(seg) AS BIGINT) AS n_bytes,
       coalesce(round(list_aggregate(
         list_transform(range(1, length(seg) + 1),
                        i -> ord(substr(seg, CAST(i AS INT), 1))), 'avg'),
         6), 0.0) AS rms_proxy,
       md5(seg) AS chunk_hash
FROM s
"""


MM_IMAGE_ORACLE = """
WITH g AS (
  SELECT doc_id, text, length(text) AS L,
         4 * (1 + length(text) % 16) AS w,
         1 + (length(text) * 31) % 16 AS h
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(w * h * 3 AS BIGINT) AS n_pixels,
       CAST(54 + w * h * 3 AS BIGINT) AS payload_len,
       md5(substr(repeat(text, CAST(w * h * 3 // L + 1 AS INT)),
                  1, CAST(w * h * 3 AS INT))) AS phash
FROM g
"""

MM_FRAME_ORACLE = """
WITH v AS (
  SELECT doc_id, text, length(text) AS L,
         2 * (2 + length(text) % 8) AS w,
         2 * (2 + (length(text) * 3) % 8) AS h,
         3 + length(text) % 6 AS T
  FROM documents WHERE doc_id % 3 = 2
),
g AS (
  SELECT doc_id, text, L, w, h, T, w * h * 3 // 2 AS fsz,
         length(concat('YUV4MPEG2 W', w, ' H', h, ' F25:1')) + 1 AS hlen
  FROM v
),
f AS (SELECT *, unnest([0, 1, 2, 3]) AS fi FROM g)
SELECT doc_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(fi * T // 4 AS INT) AS src_frame,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(hlen + (fi * T // 4) * (6 + fsz) + 6 AS BIGINT) AS offset,
       md5(substr(repeat(text, CAST(T * fsz // L + 1 AS INT)),
                  CAST((fi * T // 4) * fsz + 1 AS INT),
                  CAST(fsz AS INT))) AS frame_hash
FROM f
"""


# resize twin: same geometry + cycled-text pixel stream; resized
# byte i picks source byte ((y*h div 4)*w + (x*w div 4))*3 + c with
# y = i div 12, x = (i mod 12) div 3, c = i mod 3 — the identical
# all-integer nearest-neighbor indexing resize_images performs on
# the real BMP payload (48 = 4*4*3 output bytes).
MM_RESIZE_ORACLE = """
WITH g AS (
  SELECT doc_id, text, length(text) AS L,
         4 * (1 + length(text) % 16) AS w,
         1 + (length(text) * 31) % 16 AS h
  FROM documents WHERE doc_id % 3 = 0
),
d AS (
  SELECT doc_id, w, h,
         substr(repeat(text, CAST(w * h * 3 // L + 1 AS INT)),
                1, CAST(w * h * 3 AS INT)) AS data
  FROM g
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(4 AS INT) AS new_w,
       CAST(4 AS INT) AS new_h,
       md5(list_aggregate(
         list_transform(range(48), i -> substr(data,
           CAST(((((i // 12) * h // 4) * w
                  + ((i % 12) // 3) * w // 4) * 3
                 + (i % 3) + 1) AS INT), 1)),
         'string_agg', '')) AS resized_hash
FROM d
"""


def q_mm_resize(spark, sf_dir):
    """Nearest-neighbor BMP downsample to 4x4
    (operators/multimodal.py resize_images)."""
    from ci_log_processing_spark.operators.multimodal import (
        attach_media,
        resize_images,
    )

    return resize_images(attach_media(_docs(spark, sf_dir)), 4, 4)


def q_file_tags(spark, sf_dir):
    from ci_log_processing_spark.operators.enrich import with_file_tags

    t = parse_transcripts(load_transcripts(spark, sf_dir))
    return with_file_tags(t).select(
        "conv_id",
        "turn_idx",
        "file_name",
        F.concat_ws(",", F.col("file_tags")).alias("tags_str"),
    )


def q_asof_state(spark, sf_dir):
    """As-of join (operators/asof.py): each turn picks up the latest
    config state flipped at-or-before its ts within the conversation
    (union + one keyed window — never a range join)."""
    from ci_log_processing_spark.operators.asof import asof_join
    from ci_log_processing_spark.sources.derived import config_updates_sql

    t = load_transcripts(spark, sf_dir)  # registers the events view
    cfg = spark.sql(config_updates_sql("spark", "events"))
    out = asof_join(
        t.select("conv_id", "turn_idx", "ts"),
        cfg.withColumnRenamed("cfg_ts", "ts"),
        on=["conv_id"],
        value_cols=["cfg_state"],
        seq_col="cfg_seq",
    )
    return out.select(
        "conv_id", "turn_idx", F.coalesce("cfg_state", F.lit("")).alias("cfg_state")
    )


def q_asof_forward(spark, sf_dir):
    """FORWARD as-of join (operators/asof.py direction='forward'):
    each turn picks up the NEXT config state flipped at-or-after its
    ts — the same union + one keyed window plan scanned in reverse
    time order, checked against DuckDB's native forward ASOF."""
    from ci_log_processing_spark.operators.asof import asof_join
    from ci_log_processing_spark.sources.derived import config_updates_sql

    t = load_transcripts(spark, sf_dir)  # registers the events view
    cfg = spark.sql(config_updates_sql("spark", "events"))
    out = asof_join(
        t.select("conv_id", "turn_idx", "ts"),
        cfg.withColumnRenamed("cfg_ts", "ts"),
        on=["conv_id"],
        value_cols=["cfg_state"],
        seq_col="cfg_seq",
        direction="forward",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.coalesce("cfg_state", F.lit("")).alias("cfg_state"),
    )


def q_range_join_incidents(spark, sf_dir):
    """Binned range join (operators/rangejoin.py): turns x 12 h
    incident windows on the same conversation — equi-join on
    (conv_id, 6 h time bin) + exact containment re-check, never a
    BroadcastNestedLoopJoin."""
    from ci_log_processing_spark.operators.rangejoin import range_join_binned
    from ci_log_processing_spark.sources.derived import incident_windows_sql

    t = load_transcripts(spark, sf_dir)
    inc = spark.sql(incident_windows_sql("spark", "events"))
    out = range_join_binned(
        t.select("conv_id", "turn_idx", "ts"),
        inc,
        keys=["conv_id"],
        point_ts="ts",
        bin_sec=21600,
    )
    return out.select("conv_id", "turn_idx", "incident_id")


def q_error_spike_mad(spark, sf_dir):
    """Robust hourly error-burst detection per subsystem
    (operators/aggregate.py error_spike_hours_mad) — exact-integer
    median/MAD fence, the outlier-immune companion to the z-score
    rule."""
    from ci_log_processing_spark.operators.aggregate import (
        error_spike_hours_mad,
    )

    return error_spike_hours_mad(_routed(spark, sf_dir))


def q_vocab_stats(spark, sf_dir):
    """Per-source vocabulary health report (operators/textstats.py
    vocab_stats): types, tokens, hapax legomena, milli TTR/hapax
    ratios in exact integer division."""
    from ci_log_processing_spark.operators.textstats import vocab_stats

    return vocab_stats(_docs(spark, sf_dir))


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval top-k (operators/retrieval.py):
    whole-bit idf, milli-floored per-term scores, deterministic
    (score DESC, doc_id) ranking; query set = doc_id % 101 == 7."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.retrieval import bm25_topk

    docs = _docs(spark, sf_dir)
    return bm25_topk(
        docs, docs.filter(F.col("doc_id") % 101 == 7), k=5
    )


def q_winnow_pairs(spark, sf_dir):
    """MOSS winnowed-fingerprint near-dup pairs (operators/dedup.py
    winnow_pairs): rightmost-min frame selection, df-cut candidate
    index, exact containment verify."""
    from ci_log_processing_spark.operators.dedup import winnow_pairs

    return winnow_pairs(_docs(spark, sf_dir), overlap_milli=400)


def q_full_curation_v6(spark, sf_dir):
    """Composed curation v6: Unicode/whitespace NORMALIZE (over the
    planted mess) -> exact dedup ON THE NORMALIZED text -> Gopher
    rule gate -> per-source token budget. The point of the
    composition: dedup keyed on canonicalized text collapses
    byte-different same-rendering docs that raw-text dedup misses,
    and every downstream stage (rules, token counts, budget order)
    consumes the canonical form. Stages: one Arrow NFC pass + regex
    chain (zero shuffle), one md5-keyed window, zero-shuffle rule
    flags, one source-keyed budget window."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )
    from ci_log_processing_spark.operators.dedup import (
        exact_dedup_keep_first,
    )
    from ci_log_processing_spark.operators.textstats import (
        attach_mess,
        gopher_rules,
        normalize_text,
    )

    docs = _docs(spark, sf_dir)
    normed = normalize_text(attach_mess(docs))
    nd = normed.select(
        "doc_id", F.col("text_norm").alias("text")
    ).join(docs.select("doc_id", "source"), "doc_id")
    surv = exact_dedup_keep_first(nd, keep_cols=("text", "source")).drop(
        "h"
    )
    # configured rule subset: the synthetic corpus has no English
    # stopwords, so r_stopwords would zero the composition — real
    # pipelines configure the rule set per corpus (Gopher itself
    # tunes thresholds per source); all other rules stay on
    kept = (
        gopher_rules(surv, min_words=40)
        .filter(
            (F.col("r_word_count") == 1)
            & (F.col("r_mean_word_len") == 1)
            & (F.col("r_symbol") == 1)
            & (F.col("r_bullet") == 1)
            & (F.col("r_ellipsis") == 1)
            & (F.col("r_alpha") == 1)
        )
        .select("doc_id")
    )
    sel = surv.join(kept, "doc_id")
    return token_budget_sample(
        sel, budget_tokens=600, seed="v6"
    ).select("doc_id", "source", "n_tok", "cum_tok")


def q_full_curation_v7(spark, sf_dir):
    """Composed curation v7: heuristic quality -> per-source
    QUANTILE-CALIBRATED gate (keep each source's top 20% — the
    cross-source calibration raw thresholds get wrong) -> SoftDeDup
    reweighting of the survivors -> per-source soft token budget.
    Stages: zero-shuffle quality projection, one source-keyed window
    (rank+count), one md5-keyed cluster window, one source-keyed
    budget window."""
    from ci_log_processing_spark.operators.curation import (
        quantile_normalize,
        softdedup_weights,
        token_budget_sample,
    )
    from ci_log_processing_spark.operators.textstats import quality_scores

    docs = _docs(spark, sf_dir)
    qs = quality_scores(docs, keep_cols=("source",))
    qn = quantile_normalize(
        qs.select("doc_id", "source", "quality"), score_col="quality"
    )
    kept = docs.select("doc_id", "source", "text").join(
        qn.filter(F.col("q_milli") >= 800).select("doc_id"), "doc_id"
    )
    w = softdedup_weights(kept).select(
        "doc_id", "weighted_tokens_milli"
    )
    sel = kept.select("doc_id", "source").join(w, "doc_id")
    return token_budget_sample(
        sel,
        budget_tokens=200_000,
        n_tok_col="weighted_tokens_milli",
        seed="v7",
    ).select("doc_id", "source", "n_tok", "cum_tok")


def q_event_funnel(spark, sf_dir):
    """Ordered view->click->purchase funnel over raw events
    (operators/aggregate.py event_funnel)."""
    from ci_log_processing_spark.operators.aggregate import event_funnel

    events = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return event_funnel(events)


def q_k_anon_audit(spark, sf_dir):
    """k-anonymity audit over (source, lang, length-bucket)
    quasi-identifiers (operators/curation.py k_anonymity_audit)."""
    from ci_log_processing_spark.operators.curation import (
        k_anonymity_audit,
    )

    return k_anonymity_audit(_docs(spark, sf_dir), k=5)


def q_tool_cooccurrence(spark, sf_dir):
    """Conversation-grain tool co-occurrence with exact-integer
    association lift (operators/toolgraph.py tool_cooccurrence)."""
    from ci_log_processing_spark.operators.toolgraph import (
        tool_cooccurrence,
    )

    return tool_cooccurrence(_routed(spark, sf_dir))


def q_json_schema_profile(spark, sf_dir):
    """Schema-on-read profile of the events props JSON column
    (operators/convmeta.py json_schema_profile)."""
    from ci_log_processing_spark.operators.convmeta import (
        json_schema_profile,
    )

    events = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return json_schema_profile(events)


def q_cusum_error_drift(spark, sf_dir):
    """CUSUM level-shift detection on per-subsystem hourly error
    counts (operators/aggregate.py cusum_error_drift)."""
    from ci_log_processing_spark.operators.aggregate import (
        cusum_error_drift,
    )

    return cusum_error_drift(_routed(spark, sf_dir))


def q_sessionize_events(spark, sf_dir):
    """Gaps-and-islands sessionization of raw events
    (operators/aggregate.py sessionize_events)."""
    from ci_log_processing_spark.operators.aggregate import (
        sessionize_events,
    )

    events = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return sessionize_events(events, gap_minutes=30)


def q_apply_cdc(spark, sf_dir):
    """MERGE/upsert application (operators/snapshot.py apply_cdc):
    deterministic change set — updates (seq 1), a second-writer
    update on even keys (seq 2), deletes (seq 3, beating the
    updates on shared keys), inserts under fresh keys — applied to
    the documents snapshot; output is the merged snapshot."""
    from ci_log_processing_spark.operators.snapshot import apply_cdc

    docs = _docs(spark, sf_dir)
    payload = ["text", "lang", "source", "n_chars"]
    out = apply_cdc(docs.select("doc_id", *payload), _cdc_changes(docs))
    return out.select("doc_id", "source", "text")


def _cdc_changes(docs):
    """The deterministic change set shared by q_apply_cdc and
    q_snapshot_asof (and mirrored literally in the oracle SQL)."""

    def _ch(cond, op, seq, text_expr, id_expr="doc_id"):
        return docs.filter(cond).select(
            F.expr(id_expr).alias("doc_id"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            F.expr(text_expr).alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    return (
        _ch(F.col("doc_id") % 7 == 0, "U", 1, "upper(text)")
        .unionByName(
            _ch(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 2 == 0),
                "U",
                2,
                "text || ' final'",
            )
        )
        .unionByName(_ch(F.col("doc_id") % 11 == 3, "D", 3, "text"))
        .unionByName(
            _ch(
                F.col("doc_id") % 13 == 5,
                "I",
                1,
                "text || ' v2'",
                id_expr="doc_id + 1000000",
            )
        )
    )


def q_snapshot_asof(spark, sf_dir):
    """Time-travel read (operators/snapshot.py snapshot_asof): the
    SAME change set as q_apply_cdc replayed only through seq <= 2 —
    the seq-3 deletes are not yet visible, the seq-2 second-writer
    updates are."""
    from ci_log_processing_spark.operators.snapshot import snapshot_asof

    docs = _docs(spark, sf_dir)
    payload = ["text", "lang", "source", "n_chars"]
    out = snapshot_asof(
        docs.select("doc_id", *payload), _cdc_changes(docs), as_of_seq=2
    )
    return out.select("doc_id", "source", "text")


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (operators/snapshot.py
    compaction_plan + compaction_summary): documents stand in for
    the file manifest (source = partition, n_chars = bytes); output
    is the per-bin rollup the rewrite scheduler reads."""
    from ci_log_processing_spark.operators.snapshot import (
        compaction_plan,
        compaction_summary,
    )

    docs = _docs(spark, sf_dir)
    return compaction_summary(
        compaction_plan(docs, target_bytes=4096)
    )


def q_html_clean(spark, sf_dir):
    """HTML boilerplate strip (functions/html.py): documents.text is
    deterministically wrapped in tags + entities + a script block
    (identically in the SQL twin), then cleaned back to plain text —
    tags gone, entities decoded (&amp; last), whitespace collapsed."""
    from ci_log_processing_spark.functions.html import html_clean

    docs = _docs(spark, sf_dir)
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><style>p{margin:0}</style></head>'
                  '<body><h1>Doc '),
            F.col("doc_id").cast("string"),
            F.lit("</h1>\n<p>"),
            F.col("text"),
            F.lit(" &amp; more &lt;tail&gt;&nbsp;end</p>"
                  "<script>var x = 1 < 2;</script></body></html>"),
        ).alias("html"),
    )
    return html_clean(wrapped)


def q_merge_stats_refresh(spark, sf_dir):
    """Composed lakehouse write path (operators/snapshot.py +
    operators/dq.py): apply the CDC change set, then refresh the
    column statistics of the MERGED snapshot — the write→ANALYZE
    cycle a real table runs after every MERGE. Proves the ops
    compose: the profile scans the merge's output plan directly, no
    materialization between stages."""
    from ci_log_processing_spark.operators.dq import column_profile
    from ci_log_processing_spark.operators.snapshot import apply_cdc

    docs = _docs(spark, sf_dir)
    payload = ["text", "lang", "source", "n_chars"]
    merged = apply_cdc(
        docs.select("doc_id", *payload), _cdc_changes(docs)
    )
    return column_profile(
        merged, ["doc_id", "lang", "source", "n_chars"]
    )


def q_volume_trend(spark, sf_dir):
    """Per-sink daily volume OLS trend (operators/aggregate.py
    volume_trend): exact-integer slope_milli over observed days —
    the drift-quantifying companion to the spike/MAD/CUSUM
    detectors."""
    from ci_log_processing_spark.operators.aggregate import volume_trend

    return volume_trend(_routed(spark, sf_dir))


def q_chat_lint(spark, sf_dir):
    """Chat-template structural lint (operators/sft.py chat_lint):
    role-alternation violations, orphan tool calls, unanswered
    closings — per-conversation flags over visible turns."""
    from ci_log_processing_spark.operators.sft import chat_lint

    return chat_lint(_routed(spark, sf_dir))


def q_stratified_split(spark, sf_dir):
    """Exact-proportion stratified train/val/test split
    (operators/curation.py stratified_split): per-source md5-rank
    assignment against integer cut-offs."""
    from ci_log_processing_spark.operators.curation import (
        stratified_split,
    )

    return stratified_split(_docs(spark, sf_dir))


def q_skipgram_pairs(spark, sf_dir):
    """Skip-gram co-occurrence pair counts (operators/textstats.py
    skipgram_pairs): word2vec/PMI preprocessing — forward-window
    directed token pairs, one pair-keyed aggregate."""
    from ci_log_processing_spark.operators.textstats import (
        skipgram_pairs,
    )

    return skipgram_pairs(_docs(spark, sf_dir), window=3, min_count=2)


def q_inverted_index(spark, sf_dir):
    """Positional inverted-index build (operators/retrieval.py
    inverted_index): term -> 'doc:p1,p2|doc:p3' posting strings with
    forced ordering. The gate opens the df band wide (the synthetic
    vocabulary is a ~30-term closed set, so every term is a head
    term); the max_df state cap is pytest-exercised."""
    from ci_log_processing_spark.operators.retrieval import (
        inverted_index,
    )

    return inverted_index(
        _docs(spark, sf_dir), min_df=2, max_df=1000000
    )


def q_count_cosine_pairs(spark, sf_dir):
    """Sparse count-vector cosine near-dup pairs
    (operators/dedup.py count_cosine_pairs) over the planted-dup
    corpus: positional 4-gram counts, df-cut candidate gate, exact
    squared integer threshold test at cos >= 0.8."""
    from ci_log_processing_spark.operators.dedup import (
        count_cosine_pairs,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    return count_cosine_pairs(
        load_corpus(spark, sf_dir), threshold_milli=800, df_cut=128,
        ngram=4,
    )


def q_collocations(spark, sf_dir):
    """Collocation lift over the skip-gram pair table
    (operators/textstats.py collocations): exact integral
    lift_milli in decimal128 — PMI's log-free face at the token
    grain."""
    from ci_log_processing_spark.operators.textstats import (
        collocations,
    )

    return collocations(_docs(spark, sf_dir), window=3, min_count=2)


def q_index_incremental(spark, sf_dir):
    """Incremental inverted-index maintenance
    (operators/retrieval.py merge_posting_rows): the oracle indexes
    the WHOLE corpus in one pass; the Spark side indexes two
    doc-disjoint halves separately and merges at the posting grain —
    the hash match proves finalize(rows(even) ∪ rows(odd)) ==
    index(all), the same monoid identity pipe_agg_incremental checks
    for count rollups."""
    from ci_log_processing_spark.operators.retrieval import (
        finalize_index,
        merge_posting_rows,
        posting_rows,
    )

    docs = _docs(spark, sf_dir)
    base = posting_rows(docs.filter(F.col("doc_id") % 2 == 0))
    delta = posting_rows(docs.filter(F.col("doc_id") % 2 == 1))
    return finalize_index(
        merge_posting_rows(base, delta), min_df=2, max_df=1000000
    )


def q_stream_index(spark, sf_dir):
    """Streaming inverted-index maintenance
    (streaming/index_stream.py): the documents arrive as TWO
    micro-batches (odd/even doc_id, so every term's posting list
    straddles the batch boundary), each batch writes its
    posting-grain partial, and the served index must hash-equal the
    ONE-PASS inverted_index oracle over all docs — the disjoint-
    union merge identity, not just plumbing."""
    from ci_log_processing_spark.streaming.index_stream import (
        run_index_maintenance,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_wave(
            docs.filter(F.col("doc_id") % 2 == 0), in_dir, "w0", 1_000_000
        )
        _write_wave(
            docs.filter(F.col("doc_id") % 2 == 1), in_dir, "w1", 2_000_000
        )
        return run_index_maintenance(
            spark, in_dir, os.path.join(work, "out"),
            min_df=2, max_df=1000000,
        )

    return _collect_in_scratch(
        spark, "gate_sidx_", _run,
        "term string, df long, n_occurrences long, postings string",
    )


def q_mm_ahash_pairs(spark, sf_dir):
    """Image near-dup pairs (operators/multimodal.py image_ahash +
    ahash_near_dup_pairs): the image docs plus planted EXACT copies
    (+3M, hamming 0) and single-character NOISY copies (+6M — same
    geometry, ~1/L of the pixel bytes moved, a few aHash bits flip)
    run through the real BMP decode -> integer aHash -> banded
    Hamming plan; the oracle recomputes the hashes from the cycled
    text bytes in SQL and compares ALL pairs (banding at
    max_hamming <= n_bands - 1 is total-recall, so the sets must
    hash-equal)."""
    from ci_log_processing_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        attach_media,
        image_ahash,
    )

    imgs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text", "source")
    )
    noisy_text = F.concat(
        F.expr("substring(text, 1, length(text) - 1)"), F.lit("x")
    )
    corpus = imgs.unionByName(
        imgs.select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            "text",
            "source",
        )
    ).unionByName(
        imgs.select(
            (F.col("doc_id") + 6000000).alias("doc_id"),
            noisy_text.alias("text"),
            "source",
        )
    )
    ah = image_ahash(attach_media(corpus))
    return ahash_near_dup_pairs(ah, max_hamming=7, n_bands=8)


def q_phrase_merge(spark, sf_dir):
    """Greedy phrase merging (operators/textstats.py phrase_merge):
    adjacent-pair collocations above a lift cut become a_b tokens,
    greedy left-to-right via the gaps-and-islands closed form — the
    word2phrase pass after skipgram -> collocations."""
    from ci_log_processing_spark.operators.textstats import (
        collocations,
        phrase_merge,
    )

    docs = _docs(spark, sf_dir)
    phrases = collocations(docs, window=1, min_count=5).filter(
        F.col("lift_milli") >= 1450
    )
    return phrase_merge(docs, phrases)


def q_sft_examples(spark, sf_dir):
    """Composed SFT export: chat_lint AND conversation_select gate
    the conversations (structural validity x quality), then
    context_windows builds the sliding-context examples — the
    transcript-native end-to-end SFT construction, three operators
    composing on the one conv-keyed exchange."""
    from ci_log_processing_spark.operators.sft import (
        chat_lint,
        context_windows,
        conversation_select,
    )

    routed = _routed(spark, sf_dir)
    # lint policy for THIS corpus: roles alternate freely in the
    # derived transcripts (every conversation has repeats), so the
    # composition gates on the discriminating flags — no orphan
    # tool calls, closes on an assistant turn
    lint_ok = (
        chat_lint(routed)
        .filter(
            (F.col("n_tool_wo_assistant") == 0)
            & (F.col("ends_role") == "assistant")
        )
        .select("conv_id")
    )
    sel = conversation_select(routed).filter("selected").select(
        "conv_id"
    )
    keep = lint_ok.join(sel, "conv_id")
    kept = routed.join(F.broadcast(keep), "conv_id", "left_semi")
    return context_windows(kept)


def q_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval reciprocal-rank fusion
    (operators/retrieval.py rrf_fuse): BM25 over the documents and
    brute-force cosine over the embeddings, ranked over the SAME
    query id set, fused by the exact integer 1/(k0+rank) rule — the
    score-calibration-free combiner every hybrid search stack
    runs."""
    from ci_log_processing_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )
    from ci_log_processing_spark.operators.similarity import (
        brute_force_topk,
    )

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    lex = bm25_topk(
        docs, docs.filter(F.col("doc_id") % 101 == 7), k=10
    )
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") % 101 == 7), k=10
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([lex.select("qid", "doc_id", "rank"), dense])


def q_length_batches(spark, sf_dir):
    """Length-bucketed training-batch construction
    (operators/curation.py length_batches): per-source length-DESC
    chunking with an exact integer padding-waste share per batch."""
    from ci_log_processing_spark.operators.curation import (
        length_batches,
    )

    return length_batches(_docs(spark, sf_dir))


def q_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals from the config-update stream
    (operators/enrich.py scd2_intervals)."""
    from ci_log_processing_spark.operators.enrich import scd2_intervals
    from ci_log_processing_spark.sources.derived import config_updates_sql

    _events_view(spark, sf_dir)
    cfg = spark.sql(config_updates_sql("spark", "events"))
    return scd2_intervals(cfg)


def q_hashed_features(spark, sf_dir):
    """Feature-hashing doc vectors in sparse long format
    (operators/textstats.py hashed_features)."""
    from ci_log_processing_spark.operators.textstats import (
        hashed_features,
    )

    return hashed_features(_docs(spark, sf_dir), dim=64)


def q_dedup_threshold_curve(spark, sf_dir):
    """MinHash threshold sensitivity curve (operators/dedup.py
    dedup_threshold_curve) — one estimate pass, pair/doc counts per
    candidate cutoff."""
    from ci_log_processing_spark.operators.dedup import (
        dedup_threshold_curve,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    return dedup_threshold_curve(load_corpus(spark, sf_dir))


def q_slo_burn_alert(spark, sf_dir):
    """Multi-window SLO burn-rate alert (operators/aggregate.py
    slo_burn_alert)."""
    from ci_log_processing_spark.operators.aggregate import slo_burn_alert

    return slo_burn_alert(_routed(spark, sf_dir), slo_milli=50)


def q_tool_arg_outcomes(spark, sf_dir):
    """Per-(tool, argument) failure attribution (operators/
    aggregate.py tool_arg_outcomes) — args= payload extraction +
    next-turn outcome in the shared conv window."""
    from ci_log_processing_spark.operators.aggregate import (
        tool_arg_outcomes,
    )

    return tool_arg_outcomes(_routed(spark, sf_dir))


def q_rl_trajectories(spark, sf_dir):
    """Per-conversation RL trajectory export (operators/sft.py
    rl_trajectories): ordered step strings + exact-integer terminal
    reward."""
    from ci_log_processing_spark.operators.sft import rl_trajectories

    return rl_trajectories(_routed(spark, sf_dir))


def q_quantile_norm(spark, sf_dir):
    """Per-source quantile normalization of the heuristic quality
    score (operators/curation.py quantile_normalize) — the
    cross-source score calibration table."""
    from ci_log_processing_spark.operators.curation import (
        quantile_normalize,
    )
    from ci_log_processing_spark.operators.textstats import quality_scores

    qs = quality_scores(_docs(spark, sf_dir), keep_cols=("source",))
    return quantile_normalize(
        qs.select("doc_id", "source", "quality"), score_col="quality"
    )


def q_cross_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication matrix (operators/dedup.py
    cross_source_dup_matrix) over the ngram-jaccard pair table —
    the per-(source_a, source_b) mixture-overlap diagnostic."""
    from ci_log_processing_spark.operators.dedup import (
        cross_source_dup_matrix,
        ngram_jaccard_pairs,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.6)
    return cross_source_dup_matrix(pairs, _docs(spark, sf_dir))


def q_zorder_audit(spark, sf_dir):
    """Z-order vs linear layout file-skipping audit
    (operators/layout.py zorder_layout_audit) on documents with
    x=n_chars, y=doc_id and a fixed probe rectangle."""
    from ci_log_processing_spark.operators.layout import (
        zorder_layout_audit,
    )

    return zorder_layout_audit(
        _docs(spark, sf_dir),
        "n_chars",
        "doc_id",
        bits=8,
        bucket_bits=6,
        probe=(150, 300, 100, 250),
    )


def q_log_templates(spark, sf_dir):
    """Drain-style log template mining over routed visible turns
    (operators/aggregate.py log_templates)."""
    from ci_log_processing_spark.operators.aggregate import log_templates

    return log_templates(_routed(spark, sf_dir))


def q_conv_dedup(spark, sf_dir):
    """Conversation-level exact dedup by ordered-turn fingerprint
    (operators/dedup.py conv_dedup)."""
    from ci_log_processing_spark.operators.dedup import conv_dedup

    return conv_dedup(_routed(spark, sf_dir))


def q_stream_templates(spark, sf_dir):
    """Streaming template monitor (streaming/template_stream.py):
    routed turns arrive as TWO conv-disjoint micro-batches (waves
    split by ascii parity of the conv_id's last char, so per-conv
    counts stay mergeable), per-batch template partials sum-merge,
    and the merged table must hash-equal the single-pass miner plus
    the first-seen-batch attribution column."""
    from ci_log_processing_spark.streaming.template_stream import (
        run_streaming_templates,
    )

    turns = _routed(spark, sf_dir).select(
        "conv_id", "turn_idx", "message", "sink"
    )
    parity = F.ascii(F.substring(F.col("conv_id"), -1, 1)) % 2

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_wave(turns.filter(parity == 0), in_dir, "w0", 1_000_000)
        _write_wave(turns.filter(parity == 1), in_dir, "w1", 2_000_000)
        return run_streaming_templates(
            spark, in_dir, os.path.join(work, "out")
        )

    return _collect_in_scratch(
        spark, "gate_stmpl_", _run,
        "template string, n_msgs long, n_convs long, example string, "
        "first_batch long",
    )


def q_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle over the raw events table
    (operators/aggregate.py retention_cohorts)."""
    from ci_log_processing_spark.operators.aggregate import (
        retention_cohorts,
    )

    events = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    out = retention_cohorts(events, horizon_days=90)
    # date -> ISO string for the driver's stringified value compare
    # (pandas renders a DuckDB DATE as a midnight timestamp)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
    )


# --- driver contract ----------------------------------------------------


def q_error_spike(spark, sf_dir):
    """Hourly error-burst detection per subsystem (operators/
    aggregate.py error_spike_hours) — exact-integer z-score rule."""
    from ci_log_processing_spark.operators.aggregate import (
        error_spike_hours,
    )

    return error_spike_hours(_routed(spark, sf_dir))


def q_turn_latency(spark, sf_dir):
    """Per-sink exact discrete inter-turn latency percentiles
    (operators/aggregate.py turn_latency_percentiles),
    value-histogram shape."""
    from ci_log_processing_spark.operators.aggregate import (
        turn_latency_percentiles,
    )

    return turn_latency_percentiles(_routed(spark, sf_dir))


def q_hll_distinct(spark, sf_dir):
    """Distinct conversations per sink via the deterministic
    from-scratch HyperLogLog sketch (operators/aggregate.py
    hll_distinct_convs), exact count alongside."""
    from ci_log_processing_spark.operators.aggregate import (
        hll_distinct_convs,
    )

    return hll_distinct_convs(_routed(spark, sf_dir))


def q_agent_loops(spark, sf_dir):
    """Agent retry-loop detection: maximal runs of consecutive
    identical (tool, message) turns per conversation (operators/
    aggregate.py agent_loop_runs) — gaps-and-islands inside the
    pipeline's conv_id partitioning, one exchange total."""
    from ci_log_processing_spark.operators.aggregate import (
        agent_loop_runs,
    )

    return agent_loop_runs(_routed(spark, sf_dir), min_run=2)


def q_tool_outcomes(spark, sf_dir):
    """Per-tool next-turn outcome attribution (operators/
    aggregate.py tool_outcomes) — lead() inside the conv
    partitioning + one tool-keyed aggregate."""
    from ci_log_processing_spark.operators.aggregate import (
        tool_outcomes,
    )

    return tool_outcomes(_routed(spark, sf_dir))


def q_conv_funnel(spark, sf_dir):
    """Per-conversation milestone funnel (operators/aggregate.py
    conversation_funnel) — one conditional aggregate per conv."""
    from ci_log_processing_spark.operators.aggregate import (
        conversation_funnel,
    )

    return conversation_funnel(_routed(spark, sf_dir))


def q_turn_transitions(spark, sf_dir):
    """First-order ROLE-transition Markov counts over every routed
    turn (operators/aggregate.py turn_transition_matrix) — the
    dialogue-structure chain; exact-rational probabilities rounded
    once. (The derived transcripts carry a single tool value, so the
    role chain is the informative instance of the operator.)"""
    from ci_log_processing_spark.operators.aggregate import (
        turn_transition_matrix,
    )

    return turn_transition_matrix(
        _routed(spark, sf_dir), state_col="role", sink=None
    )


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer-merge training (operators/tokenizer.py
    bpe_merges, Sennrich et al. 2016): ONE corpus-sized word-freq
    aggregate, then 8 merge rounds over the vocabulary-sized word
    table (pair count -> deterministic argmax -> boundary-framed
    literal replace). All-integer; the oracle unrolls the same 8
    rounds as CTEs — hash-exact."""
    from ci_log_processing_spark.operators.tokenizer import bpe_merges

    return bpe_merges(_docs(spark, sf_dir), n_merges=8)


def q_bpe_token_counts(spark, sf_dir):
    """Per-doc token counts under the learned BPE vocab
    (operators/tokenizer.py bpe_token_counts): encoding is
    explode(words) ⋈ trained word table + one doc-keyed sum — the
    merge loop never touches the corpus twice."""
    from ci_log_processing_spark.operators.tokenizer import (
        bpe_token_counts,
    )

    return bpe_token_counts(_docs(spark, sf_dir), n_merges=8)


def q_bpe_token_counts_arrow(spark, sf_dir):
    """Arrow closure-dict encode (operators/tokenizer.py
    bpe_token_counts_arrow): the trained vocab ships to the workers
    as the tokenizer-model dict — one zero-shuffle mapInPandas pass,
    same oracle as the join variant."""
    from ci_log_processing_spark.operators.tokenizer import (
        bpe_token_counts_arrow,
    )

    return bpe_token_counts_arrow(_docs(spark, sf_dir), n_merges=8)


def q_tool_pagerank(spark, sf_dir):
    """Weighted PageRank over the tool→next-tool transition graph
    (operators/toolgraph.py): corpus-sized edge extraction inside
    the existing conv_id partitioning; model-sized (≤ n_tools²)
    integer power iteration. flow divides before the edge multiply
    so the in-edge sum is order-independent int64 — hash-exact vs
    the unrolled 5-round SQL twin."""
    from ci_log_processing_spark.operators.toolgraph import (
        tool_pagerank,
    )

    return tool_pagerank(_routed(spark, sf_dir), n_iter=5)


def q_cms_tokens(spark, sf_dir):
    """Count-min-sketch token frequency estimates for the exact
    top-20 tokens (operators/curation.py cms_token_counts) — the
    mergeable fixed-size frequency summary, overestimate bound
    asserted row-by-row via `inflation`."""
    from ci_log_processing_spark.operators.curation import (
        cms_token_counts,
    )

    return cms_token_counts(_docs(spark, sf_dir))


def q_curriculum_order(spark, sf_dir):
    """Curriculum training order: stage by 64-token length bands
    (capped at 3), deterministic shuffle within each stage, dense
    global index via the two-level bucket rank (operators/
    curation.py curriculum_order)."""
    from ci_log_processing_spark.operators.curation import (
        curriculum_order,
    )
    from ci_log_processing_spark.operators.dedup import tokens_col

    docs = _docs(spark, sf_dir).withColumn(
        "stage",
        F.least(
            F.floor(F.size(tokens_col(F.col("text"))) / 64), F.lit(3)
        ).cast("int"),
    )
    return curriculum_order(docs)


def q_text_nb_quality(spark, sf_dir):
    """CCNet-style in-engine NB quality classifier
    (operators/textstats.py nb_quality_classifier): weak labels =
    source membership (the wiki-vs-crawl setup of Wenzek et al.
    2020), integer bit-quantized LLR, oracle-exact."""
    from ci_log_processing_spark.operators.textstats import (
        nb_quality_classifier,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "label",
        F.col("source").isin("src0", "src1", "src2").cast("int"),
    )
    return nb_quality_classifier(docs)


def q_text_unigram(spark, sf_dir):
    """Unigram-LM surprisal quality score (operators/textstats.py
    unigram_logprob) — integer bit-quantized, oracle-exact."""
    from ci_log_processing_spark.operators.textstats import (
        unigram_logprob,
    )

    return unigram_logprob(_docs(spark, sf_dir))


def q_text_bigram(spark, sf_dir):
    """Stupid-Backoff bigram-LM score (operators/textstats.py
    bigram_logprob) — pruned count table, flat backoff penalty,
    integer bit-quantized."""
    from ci_log_processing_spark.operators.textstats import (
        bigram_logprob,
    )

    return bigram_logprob(_docs(spark, sf_dir))


def q_leakage_split(spark, sf_dir):
    """Group-hash held-out split with shingle-overlap quarantine
    (operators/curation.py leakage_safe_split)."""
    from ci_log_processing_spark.operators.curation import (
        leakage_safe_split,
    )

    return leakage_safe_split(_docs(spark, sf_dir))


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-bigram importance weights (operators/curation.py
    dsir_importance), target = the 'src0' docs."""
    from ci_log_processing_spark.operators.curation import dsir_importance

    docs = _docs(spark, sf_dir)
    return dsir_importance(docs, docs.filter(F.col("source") == "src0"))


def q_dsir_sample(spark, sf_dir):
    """DSIR top-fraction selection via the distributed
    histogram-threshold (operators/curation.py dsir_sample) — the
    oracle's global window proves the equivalence."""
    from ci_log_processing_spark.operators.curation import dsir_sample

    docs = _docs(spark, sf_dir)
    return dsir_sample(
        docs, docs.filter(F.col("source") == "src0"), keep_permille=250
    )


def q_dedup_minhash_estimate(spark, sf_dir):
    """Signature-estimated near-dup pairs (operators/dedup.py
    minhash_estimate_pairs) — the verify-free LSH tail."""
    from ci_log_processing_spark.operators.dedup import (
        minhash_estimate_pairs,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    return minhash_estimate_pairs(load_corpus(spark, sf_dir), 0.5)


def q_knn_graph(spark, sf_dir):
    """Cluster-blocked kNN graph over the corpus embeddings
    (operators/similarity.py knn_graph)."""
    from ci_log_processing_spark.operators.similarity import knn_graph

    return knn_graph(_emb(spark, sf_dir), k_nn=5, k_clusters=8, n_iter=2)


def q_embed_diversity(spark, sf_dir):
    """Per-label semantic-diversity audit (operators/similarity.py
    embedding_diversity) — pair-free mean pairwise squared distance
    via 2n*S2 - 2*||S1||^2; two aggregates, no self-join."""
    from ci_log_processing_spark.operators.similarity import (
        embedding_diversity,
    )

    return embedding_diversity(_emb(spark, sf_dir))


def q_snapshot_drift(spark, sf_dir):
    """Per-label embedding distribution-shift audit between two
    corpus snapshots (operators/similarity.py snapshot_drift):
    vec_id parity stands in for the two snapshot reads; centroid
    cosine + L2 per label, one (label, dim)-keyed exchange."""
    from ci_log_processing_spark.operators.similarity import (
        snapshot_drift,
    )

    emb = _emb(spark, sf_dir)
    return snapshot_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 != 0),
    )


def q_tool_latency(spark, sf_dir):
    """Per-tool response-latency percentiles: gap from each
    tool_calls turn to the NEXT visible turn of the conversation
    (drop_queue excluded before the window, like tool_outcomes),
    exact discrete p50/p95/p99 via the value-histogram shape
    (operators/aggregate.py turn_latency_percentiles)."""
    from ci_log_processing_spark.operators.aggregate import (
        turn_latency_percentiles,
    )

    return turn_latency_percentiles(
        _routed(spark, sf_dir).filter(F.col("sink") != "drop_queue"),
        group_col="tool",
        where_sink="tool_calls",
    )


def q_tool_health(spark, sf_dir):
    """Composed per-tool health table: call volume + next-turn error
    fraction + response-latency p50/p95 in one row per tool
    (operators/aggregate.py tool_health) — the dashboard join the
    reference does in OpenSearch."""
    from ci_log_processing_spark.operators.aggregate import tool_health

    return tool_health(_routed(spark, sf_dir))


def q_latency_hdr(spark, sf_dir):
    """Mergeable HDR-style log-histogram latency percentiles
    (operators/aggregate.py hdr_latency_percentiles) — the bounded-
    state approximate twin of pipe_latency_pctl; bucket state per
    group <= 64 << sub_bits at any corpus size."""
    from ci_log_processing_spark.operators.aggregate import (
        hdr_latency_percentiles,
    )

    return hdr_latency_percentiles(_routed(spark, sf_dir), sub_bits=4)


def q_stream_hll(spark, sf_dir):
    """Streaming HLL over micro-batches (streaming/hll_stream.py):
    per-batch register PARTIALS merged by max must equal the
    single-pass batch sketch — the mergeable-sketch property, gate-
    checked against the same DuckDB twin minus the exact column."""
    from ci_log_processing_spark.sources.derived import conv_meta_sql
    from ci_log_processing_spark.streaming.hll_stream import (
        run_streaming_hll,
    )

    t = load_transcripts(spark, sf_dir)
    meta = spark.sql(conv_meta_sql("spark", "events"))

    def _run(work):
        in_dir = os.path.join(work, "in")
        # whole conversations per file (the readiness unit), several
        # files so availableNow actually produces multiple batches
        t.repartition(6, "conv_id").write.parquet(in_dir)
        return run_streaming_hll(
            spark, in_dir, os.path.join(work, "out"), meta=meta
        )

    return _collect_in_scratch(
        spark, "gate_shll_", _run, "sink string, hll_distinct double"
    )


def q_stream_hdr(spark, sf_dir):
    """Streaming HDR latency sketch with cross-batch gap bridging
    (streaming/hdr_stream.py): every conversation is SPLIT across
    two micro-batches — wave 0 carries turns below the conv's split
    point, wave 1 the rest, order forced via file mtimes — and the
    streamed sketch must still hash-equal the single-pass batch twin
    (oracle.q_hdr_latency). The split point is each conv's first
    turn_idx >= 40 whose timestamp PARSES, which is the module's
    documented arrival contract: a segment opening with a parseable
    ts makes the per-batch forward-fill and preamble routing
    byte-identical to the global run, so the only cross-batch
    information is the bridge gap the persisted state carries."""
    from ci_log_processing_spark.plans.pipeline import DEFAULT_REF_YEAR
    from ci_log_processing_spark.sources.derived import conv_meta_sql
    from ci_log_processing_spark.streaming.hdr_stream import (
        run_streaming_hdr,
    )

    t = load_transcripts(spark, sf_dir)
    meta = spark.sql(conv_meta_sql("spark", "events"))
    ok = (
        ts_cascade_col(F.col("text"), DEFAULT_REF_YEAR).isNotNull()
        & (F.col("turn_idx") >= 40)
    )
    split = (
        t.withColumn("_cand", F.when(ok, F.col("turn_idx")))
        .groupBy("conv_id")
        .agg(F.min("_cand").alias("_split"))
    )
    tt = t.join(split, "conv_id", "left")
    w0 = tt.filter(
        F.col("turn_idx") < F.coalesce(F.col("_split"), F.lit(1 << 30))
    ).drop("_split")
    w1 = tt.filter(
        F.col("turn_idx") >= F.coalesce(F.col("_split"), F.lit(1 << 30))
    ).drop("_split")

    def _run(work):
        in_dir = os.path.join(work, "in")
        _write_wave(w0, in_dir, "w0", 1_000_000)
        _write_wave(w1, in_dir, "w1", 2_000_000)
        return run_streaming_hdr(
            spark, in_dir, os.path.join(work, "out"), sub_bits=4, meta=meta
        )

    return _collect_in_scratch(
        spark, "gate_shdr_", _run,
        "sink string, n_gaps long, p50_ms_lb long, p95_ms_lb long, "
        "p99_ms_lb long",
    )


def q_temperature_mixture(spark, sf_dir):
    """tau=0.5 temperature mixture rebalancing (operators/curation.py
    sqrt_temperature_mixture)."""
    from ci_log_processing_spark.operators.curation import (
        sqrt_temperature_mixture,
    )

    return sqrt_temperature_mixture(_docs(spark, sf_dir))


def q_knn_graph_multiprobe(spark, sf_dir):
    """kNN graph with the source side probing its 2 nearest cells
    (operators/similarity.py knn_graph nprobe=2) — the recall-boosted
    variant; corpus vectors stay in their argmin cell."""
    from ci_log_processing_spark.operators.similarity import knn_graph

    return knn_graph(
        _emb(spark, sf_dir), k_nn=5, k_clusters=8, n_iter=2, nprobe=2
    )


def q_cluster_cards(spark, sf_dir):
    """Duplicate-cluster audit cards (operators/dedup.py
    cluster_cards): per multi-doc cluster — size, keeper, exact byte
    savings of the apply step; one component-keyed aggregate over
    the components output."""
    from ci_log_processing_spark.operators.dedup import (
        cluster_cards,
        dedup_pair_edges,
        duplicate_components,
    )
    from ci_log_processing_spark.sources.corpus import load_corpus

    corpus = load_corpus(spark, sf_dir)
    pairs = dedup_pair_edges(corpus, spark, threshold=0.6)
    comp = duplicate_components(pairs, corpus.select("doc_id"))
    return cluster_cards(comp, corpus)


def q_ewma_alerts(spark, sf_dir):
    """EWMA control chart on hourly sink volumes
    (operators/aggregate.py ewma_alerts): geometric alpha=1/2
    smoothing in exact int64 (2^(i-1) weights over the lag frame,
    renormalized by 2^m - 1), doubled-baseline alert — the fourth
    anomaly detector next to z, MAD, and CUSUM."""
    from ci_log_processing_spark.operators.aggregate import ewma_alerts

    return ewma_alerts(_routed(spark, sf_dir))


def q_agg_cube(spark, sf_dir):
    """Full CUBE over (sink, severity, hour)
    (operators/aggregate.py cube_hourly): all 2^3 grouping sets in
    one pass, grouping_id disambiguating subtotal NULLs — the
    slice-any-way companion to pipe_agg_rollup."""
    from ci_log_processing_spark.operators.aggregate import cube_hourly

    return cube_hourly(_routed(spark, sf_dir))


def q_salted_join(spark, sf_dir):
    """Hot-key salted join (operators/skew.py salted_join): the
    deterministic-plan skew scatter — fact salt from row-content
    h32, dim replicated n_salts ways, join on (key, salt). The gate
    proves row equality with the plain join (the oracle IS the
    unsalted join); the plan difference is asserted in
    tests/test_plan_shape.py."""
    from ci_log_processing_spark.operators.skew import salted_join

    routed = _routed(spark, sf_dir).select(
        "conv_id", "turn_idx", "sink"
    )
    dim = routed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_conv_turns")
    )
    return salted_join(routed, dim, "conv_id", n_salts=8)


def q_source_keyness(spark, sf_dir):
    """Per-source distinctive-term chi-square keyness
    (operators/textstats.py source_keyness): the data-card "what
    characterizes this slice" audit — one corpus aggregate, then
    vocab-sized joins and a per-source rank window; chi2 follows
    the BM25 pinned-double-chain + floor-to-milli rule."""
    from ci_log_processing_spark.operators.textstats import (
        source_keyness,
    )

    return source_keyness(_docs(spark, sf_dir), k=5)


def q_render_chat(spark, sf_dir):
    """ChatML template rendering (operators/sft.py render_chat):
    one conv-keyed aggregate collapsing visible turns into the
    single training string the trainer tokenizes; in-conversation
    order from array_sort over (turn_idx, ...) structs."""
    from ci_log_processing_spark.operators.sft import render_chat

    return render_chat(_routed(spark, sf_dir), template="chatml")


def q_watermark(spark, sf_dir):
    """Greenlist watermark detection (operators/textstats.py
    watermark_scores): Kirchenbauer-style prev-token-keyed green
    partition, sqrt-free integer z-test — the synthetic-text
    screening pass, zero-shuffle per-row fold."""
    from ci_log_processing_spark.operators.textstats import (
        watermark_scores,
    )

    return watermark_scores(_docs(spark, sf_dir))


def q_kcenter_select(spark, sf_dir):
    """Greedy k-center coreset selection (operators/similarity.py
    kcenter_select): farthest-point traversal with the coverage
    radius certificate; unrolled-CTE oracle replays the identical
    deterministic rounds."""
    from ci_log_processing_spark.operators.similarity import (
        kcenter_select,
    )

    return kcenter_select(_emb(spark, sf_dir), k=6)


def q_mm_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over real Y4M payloads
    (operators/multimodal.py scene_cuts): per-frame Y-plane mean
    luma in integer milli, lag delta, threshold flag — only the Y
    plane is read (2/3 of chroma bytes skipped), the production
    shot-scan shape."""
    from ci_log_processing_spark.operators.multimodal import (
        attach_media,
        scene_cuts,
    )

    return scene_cuts(attach_media(_docs(spark, sf_dir)))


def q_reliability_iso(spark, sf_dir):
    """Reliability table + EXACT isotonic calibration of the NB
    quality gate (operators/calibrate.py reliability_isotonic):
    corpus work is one bin aggregate; the isotonic fit is the O(B^3)
    minimax closed form over the <= 8-row bin table — no PAVA sweep,
    no iteration, integer micro units end to end."""
    from ci_log_processing_spark.operators.calibrate import (
        reliability_isotonic,
    )
    from ci_log_processing_spark.operators.textstats import (
        nb_quality_classifier,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "label",
        F.col("source").isin("src0", "src1", "src2").cast("int"),
    )
    return reliability_isotonic(nb_quality_classifier(docs), n_bins=8)


def q_symspell_pairs(spark, sf_dir):
    """Edit-distance near-dup key pairs via SymSpell
    delete-neighborhood blocking (operators/linkage.py
    symspell_pairs) — the short-string similarity axis MinHash
    saturates on. The oracle is DELIBERATELY a different algorithm
    (brute-force all-pairs Levenshtein with a length-band
    prefilter), so the gate proves the blocking's total recall."""
    from ci_log_processing_spark.operators.linkage import symspell_pairs

    return symspell_pairs(_docs(spark, sf_dir), max_dist=1)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse -> enrich -> route -> hourly aggregate."""
    return q_agg_hourly(spark, "/root/testdata/sf0.001")


def _latest_driver_rounds() -> dict[str, int]:
    """query -> freshest round whose committed CORRECTNESS_r<N>.json
    (beside this file) has it fully green: rows, schema and hash."""
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                ):
                    latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_rotation(d: dict) -> dict:
    """The driver checks a budget of queries per round, in this order:
    queries never fully green first, then the rest by ascending
    freshest green round; ties (and everything, with no artifacts
    present) keep registry order."""
    latest = _latest_driver_rounds()
    return {k: d[k] for k in sorted(d, key=lambda k: latest.get(k, 0))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs: dict[str, Callable] = {
        "pipe_parse": q_parse,
        "pipe_parse_pandas_udf": q_parse_pandas,
        "pipe_ffill": q_ffill,
        "pipe_enrich": q_enrich,
        "pipe_route": q_route,
        "pipe_sink_counts": q_sink_counts,
        "pipe_agg_hourly": q_agg_hourly,
        "pipe_agg_rollup": q_agg_rollup,
        "pipe_pivot_severity": q_pivot_severity,
        "pipe_error_spike": q_error_spike,
        "pipe_latency_pctl": q_turn_latency,
        "pipe_hll_distinct": q_hll_distinct,
        "pipe_agent_loops": q_agent_loops,
        "pipe_tool_outcomes": q_tool_outcomes,
        "pipe_tool_latency": q_tool_latency,
        "pipe_latency_hdr": q_latency_hdr,
        "pipe_tool_health": q_tool_health,
        "pipe_conv_funnel": q_conv_funnel,
        "pipe_turn_transitions": q_turn_transitions,
        "pipe_session_window": q_session_window,
        "pipe_sliding_window": q_sliding_window,
        "pipe_conv_severity": q_conv_severity,
        "pipe_checkpoint_antijoin": q_checkpoint_antijoin,
        "pipe_jobs_semijoin": q_jobs_semijoin,
        "pipe_dedup_messages": q_dedup_messages,
        "pipe_ts_formats": q_ts_formats,
        "pipe_iso_format": q_iso_format,
        "pipe_sessionize": q_sessionize,
        "pipe_multiline": q_multiline,
        "pipe_perf_flatten": q_perf_flatten,
        "pipe_meta_normalize": q_meta_normalize,
        "pipe_subunit_durations": q_subunit,
        "pipe_subunit_binary": q_subunit_binary,
        "pipe_file_tags": q_file_tags,
    }
    for sink in ("errors", "tool_calls", "agent_turns", "drop_queue"):
        qs[f"pipe_sink_{sink}"] = _q_sink_rows(sink)
    qs["op_asof_state"] = q_asof_state
    qs["op_asof_forward"] = q_asof_forward
    qs["op_range_join_incidents"] = q_range_join_incidents
    qs["stream_follow_route"] = q_stream_follow
    qs["stream_hll_distinct"] = q_stream_hll
    qs["stream_cms_heavy"] = q_stream_cms
    qs["stream_snapshot_drift"] = q_stream_snapshot_drift
    qs["stream_latency_hdr"] = q_stream_hdr
    qs["stream_session_evictions"] = q_stream_session_evictions
    qs["stream_dedup_exact"] = q_stream_dedup
    qs["stream_session_window"] = q_stream_session_window
    qs["stream_agg_incremental"] = q_stream_agg_incremental
    qs["stream_ewma_alerts"] = q_stream_ewma
    qs["stream_cdc_merge"] = q_stream_cdc_merge
    qs["stream_interval_join"] = q_stream_interval_join
    qs["stream_watermark_agg"] = q_stream_watermark_agg
    qs["stream_ingest_curation"] = q_stream_ingest_curation
    qs["stream_neardup_ingest"] = q_stream_neardup
    qs.update(
        {
            "dedup_exact": q_dedup_exact,
            "dedup_exact_apply": q_dedup_exact_apply,
            "dedup_substring_spans": q_dedup_substring_spans,
            "dedup_incremental": q_incremental_dedup,
            "dedup_incremental_minhash": q_incremental_minhash_dedup,
            "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
            "dedup_minhash_lsh": q_dedup_minhash_lsh,
            "dedup_minhash_estimate": q_dedup_minhash_estimate,
            "dedup_simhash": q_dedup_simhash,
            "dedup_simhash_pairs": q_dedup_simhash_pairs,
            "dedup_simhash_pairs_capped": q_dedup_simhash_pairs_capped,
            "dedup_components": q_dedup_components,
            "dedup_components_star": q_dedup_components_star,
            "dedup_semantic_apply": q_dedup_semantic_apply,
            "dedup_keep_best": q_dedup_keep_best,
            "dedup_embedding_cosine": q_embed_near_dup,
            "dedup_embedding_cosine_capped": q_embed_near_dup_capped,
            "dedup_embedding_srp": q_srp_near_dup,
            "dedup_embedding_srp_capped": q_srp_near_dup_capped,
            "cur_contrastive_triplets": q_contrastive_triplets,
            "sim_ann_ivfpq": q_ann_ivfpq,
            "sim_ann_brute_force": q_ann_brute_force,
            "sim_ann_bucketed": q_ann_bucketed,
            "sim_ann_ivf_multiprobe": q_ann_ivf_multiprobe,
            "sim_ann_pq": q_ann_pq,
            "sim_kmeans_fit": q_kmeans_fit,
            "sim_knn_graph": q_knn_graph,
            "sim_embed_diversity": q_embed_diversity,
            "sim_snapshot_drift": q_snapshot_drift,
            "sim_knn_graph_multiprobe": q_knn_graph_multiprobe,
            "dedup_semantic_cluster": q_semantic_cluster_dedup,
            "cur_mixture_sample": q_mixture_sample,
            "cur_lang_mixture": q_lang_mixture,
            "cur_quality_top_frac": q_quality_top_frac,
            "cur_token_budget": q_token_budget,
            "cur_token_budget_bpe": q_token_budget_bpe,
            "cur_token_budget_soft": q_token_budget_soft,
            "cur_shuffle_index": q_shuffle_index,
            "text_line_dedup": q_line_dedup,
            "cur_decontaminate": q_decontaminate,
            "cur_bloom_decontaminate": q_bloom_decontaminate,
            "cur_decontaminate_spans": q_decontaminate_spans,
            "cur_priority_sample": q_priority_sample,
            "cur_temperature_mixture": q_temperature_mixture,
            "cur_full_curation_v4": q_full_curation_v4,
            "cur_full_curation_v5": q_full_curation_v5,
            "cur_cms_tokens": q_cms_tokens,
            "cur_curriculum_order": q_curriculum_order,
            "cur_perplexity_buckets": q_perplexity_buckets,
            "cur_overlap_decontaminate": q_overlap_decontaminate,
            "cur_fuzzy_decontaminate": q_fuzzy_decontaminate,
            "cur_conv_select": q_conv_select,
            "cur_context_windows": q_context_windows,
            "cur_preference_pairs": q_preference_pairs,
            "cur_softdedup_weights": q_softdedup_weights,
            "cur_stratified_downsample": q_stratified_downsample,
            "cur_data_card": q_data_card,
            "cur_source_caps": q_source_caps,
            "cur_length_quantiles": q_length_quantiles,
            "cur_token_histogram": q_token_histogram,
            "cur_pack_sequences": q_pack_sequences,
            "cur_top_ngrams": q_top_ngrams,
            "cur_chunk_documents": q_chunk_documents,
            "cur_full_curation": q_full_curation,
            "cur_full_curation_v2": q_full_curation_v2,
            "cur_full_curation_v3": q_full_curation_v3,
            "src_jsonl_quarantine": q_jsonl_quarantine,
            "src_csv_quarantine": q_csv_quarantine,
            "text_eval_f1": q_eval_token_f1,
            "pipe_pseudonymize": q_pseudonymize,
            "text_bpe_fertility": q_bpe_fertility,
            "cur_pack_bfd": q_pack_bfd,
            "dedup_sorted_neighborhood": q_sorted_neighborhood,
            "cur_ks_drift": q_ks_drift,
            "text_c4_clean": q_c4_clean,
            "text_token_counts": q_token_counts,
            "text_pii_scrub": q_pii_scrub,
            "text_repetition": q_repetition,
            "text_repetition_arrow": q_repetition_arrow,
            "cur_url_dedup": q_url_dedup,
            "text_entropy": q_token_entropy,
            "text_bpe_merges": q_bpe_merges,
            "text_bpe_token_counts": q_bpe_token_counts,
            "text_bpe_token_counts_arrow": q_bpe_token_counts_arrow,
            "pipe_tool_pagerank": q_tool_pagerank,
            "text_unigram_logprob": q_text_unigram,
            "text_nb_quality": q_text_nb_quality,
            "text_bigram_logprob": q_text_bigram,
            "cur_leakage_split": q_leakage_split,
            "cur_dsir_weights": q_dsir_weights,
            "cur_dsir_sample": q_dsir_sample,
            "text_quality": q_quality,
            "text_gopher_rules": q_gopher_rules,
            "cur_gopher_funnel": q_gopher_funnel,
            "text_model_quality": q_model_quality,
            "text_tfidf": q_tfidf,
            "text_tfidf_pruned": q_tfidf_pruned,
            "text_lang_id": q_lang_id,
            "text_fingerprint": q_fingerprint,
            "mm_image_features": q_mm_image_features,
            "mm_frame_sample": q_mm_frame_sample,
            "mm_audio_chunks": q_mm_audio_chunks,
            "cur_corpus_diff": q_corpus_diff,
            "dedup_cdc_chunks": q_cdc_chunks,
            "text_normalize": q_normalize_text,
            "cur_epoch_plan": q_epoch_plan,
            "pipe_error_spike_mad": q_error_spike_mad,
            "text_vocab_stats": q_vocab_stats,
            "ret_bm25_topk": q_bm25_topk,
            "dedup_winnow_pairs": q_winnow_pairs,
            "cur_full_curation_v6": q_full_curation_v6,
            "pipe_tool_arg_outcomes": q_tool_arg_outcomes,
            "cur_rl_trajectories": q_rl_trajectories,
            "cur_quantile_norm": q_quantile_norm,
            "dedup_cross_source_matrix": q_cross_source_dup_matrix,
            "cur_zorder_audit": q_zorder_audit,
            "evt_retention_cohorts": q_retention_cohorts,
            "pipe_log_templates": q_log_templates,
            "pipe_conv_dedup": q_conv_dedup,
            "stream_template_novelty": q_stream_templates,
            "cur_full_curation_v7": q_full_curation_v7,
            "evt_funnel_steps": q_event_funnel,
            "cur_k_anon_audit": q_k_anon_audit,
            "pipe_tool_cooccurrence": q_tool_cooccurrence,
            "evt_json_schema_profile": q_json_schema_profile,
            "pipe_cusum_drift": q_cusum_error_drift,
            "evt_sessionize": q_sessionize_events,
            "mm_resize": q_mm_resize,
            "dedup_threshold_curve": q_dedup_threshold_curve,
            "pipe_slo_burn": q_slo_burn_alert,
            "text_hashed_features": q_hashed_features,
            "cur_apply_cdc": q_apply_cdc,
            "pipe_scd2_intervals": q_scd2_intervals,
            "pipe_agg_incremental": q_agg_incremental,
            "cur_dq_audit": q_dq_audit,
            "pipe_skew_audit": q_skew_audit,
            "cur_snapshot_asof": q_snapshot_asof,
            "cur_compaction_plan": q_compaction_plan,
            "cur_column_profile": q_column_profile,
            "cur_merge_stats_refresh": q_merge_stats_refresh,
            "text_html_clean": q_html_clean,
            "pipe_volume_trend": q_volume_trend,
            "cur_chat_lint": q_chat_lint,
            "cur_stratified_split": q_stratified_split,
            "cur_length_batches": q_length_batches,
            "text_skipgram_pairs": q_skipgram_pairs,
            "ret_inverted_index": q_inverted_index,
            "dedup_count_cosine": q_count_cosine_pairs,
            "text_collocations": q_collocations,
            "ret_index_incremental": q_index_incremental,
            "stream_index_maintenance": q_stream_index,
            "mm_ahash_pairs": q_mm_ahash_pairs,
            "text_phrase_merge": q_phrase_merge,
            "cur_sft_examples": q_sft_examples,
            "ret_rrf_fusion": q_rrf_fusion,
            "dedup_symspell_pairs": q_symspell_pairs,
            "cur_reliability_iso": q_reliability_iso,
            "mm_scene_cuts": q_mm_scene_cuts,
            "sim_kcenter_select": q_kcenter_select,
            "text_watermark": q_watermark,
            "cur_render_chat": q_render_chat,
            "text_source_keyness": q_source_keyness,
            "pipe_agg_cube": q_agg_cube,
            "op_salted_join": q_salted_join,
            "pipe_ewma_alerts": q_ewma_alerts,
            "dedup_cluster_cards": q_cluster_cards,
        }
    )

    def _release_then(fn):
        # Several operators persist() intermediates referenced by
        # their returned plan (registered in dedup._PERSIST_REGISTRY).
        # The driver runs all gate queries in ONE session; releasing
        # the PREVIOUS query's persists at the start of the next
        # (it has been fully consumed by then) keeps a 50-query run
        # from accumulating cached DataFrames. Unpersisted plans
        # recompute, so this is memory hygiene, never a wrong answer.
        def wrapped(spark, sf_dir):
            from ci_log_processing_spark.operators.dedup import (
                release_persisted,
            )

            release_persisted()
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", "gate_query")
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # tools/make_catalog.py unwraps this
        return wrapped

    qs = {k: _release_then(v) for k, v in qs.items()}
    return _driver_rotation(qs)


def oracle_sql() -> dict[str, str]:
    sqls = {
        "pipe_parse": oracle.q_parse(),
        "pipe_parse_pandas_udf": oracle.q_parse(),
        "pipe_ffill": oracle.q_ffill(),
        "pipe_enrich": oracle.q_enrich(),
        "pipe_route": oracle.q_route(),
        "pipe_sink_counts": oracle.q_sink_counts(),
        "pipe_agg_hourly": oracle.q_agg_hourly(),
        "pipe_agg_rollup": oracle.q_agg_rollup(),
        "pipe_pivot_severity": oracle.q_pivot_severity(),
        "pipe_session_window": oracle.q_session_window(),
        "pipe_sliding_window": oracle.q_sliding_window(),
        "pipe_conv_severity": oracle.q_conv_severity(),
        "pipe_checkpoint_antijoin": oracle.q_checkpoint_antijoin(),
        "pipe_jobs_semijoin": oracle.q_jobs_semijoin(),
        "pipe_dedup_messages": oracle.q_dedup_messages(),
        "pipe_ts_formats": oracle.q_ts_formats(),
        "pipe_iso_format": oracle.q_iso_format(),
        "pipe_sessionize": oracle.q_sessionize(),
        "pipe_multiline": oracle.q_multiline(),
        "pipe_perf_flatten": oracle.q_perf_flatten(),
        "pipe_meta_normalize": oracle.q_meta_normalize(),
        "pipe_subunit_durations": oracle.q_subunit(),
        # the oracle never touches bytes — it recomputes the expected
        # rows straight from events, so this checks the roundtrip
        "pipe_subunit_binary": oracle.q_subunit(),
        "pipe_file_tags": oracle.q_file_tags(),
        "pipe_error_spike": oracle.q_error_spike(),
        "pipe_latency_pctl": oracle.q_turn_latency(),
        "pipe_hll_distinct": oracle.q_hll_distinct(),
        "pipe_agent_loops": oracle.q_agent_loops(min_run=2),
        "pipe_tool_outcomes": oracle.q_tool_outcomes(),
        "pipe_tool_latency": oracle.q_turn_latency(
            group_col="tool",
            where_sink="tool_calls",
            pre_where="sink <> 'drop_queue'",
        ),
        "pipe_latency_hdr": oracle.q_hdr_latency(sub_bits=4),
        "pipe_tool_health": oracle.q_tool_health(),
        "pipe_tool_pagerank": oracle.q_tool_pagerank(5),
        "pipe_conv_funnel": oracle.q_conv_funnel(),
        "pipe_turn_transitions": oracle.q_turn_transitions(
            state_col="role", sink=None
        ),
    }
    for sink in ("errors", "tool_calls", "agent_turns", "drop_queue"):
        sqls[f"pipe_sink_{sink}"] = oracle.q_sink_rows(sink)
    # streaming twins: identical semantics to the batch pipeline on
    # the same deterministic conv subsets
    sqls["op_asof_state"] = oracle.q_asof_state()
    sqls["op_asof_forward"] = oracle.q_asof_forward()
    sqls["op_range_join_incidents"] = oracle.q_range_join_incidents()
    sqls["stream_follow_route"] = oracle.q_stream_follow()
    sqls["stream_hll_distinct"] = oracle.q_hll_distinct(include_exact=False)
    sqls["stream_latency_hdr"] = oracle.q_hdr_latency(sub_bits=4)
    sqls["stream_session_window"] = oracle.q_stream_session_window()
    sqls["stream_agg_incremental"] = oracle.q_stream_agg_incremental()
    sqls["stream_ewma_alerts"] = oracle.q_stream_ewma()
    sqls["stream_interval_join"] = oracle.q_stream_interval_join()
    sqls["stream_session_evictions"] = oracle.q_stream_session_evictions()
    # order-insensitive survivor set: one row per distinct text hash
    sqls["stream_dedup_exact"] = (
        "SELECT md5(text) AS h FROM documents GROUP BY 1"
    )
    sqls["stream_watermark_agg"] = oracle.q_stream_watermark_agg()
    from ci_log_processing_spark.oracle_data import (
        q_stream_ingest_curation as _qsic,
    )

    sqls["stream_ingest_curation"] = _qsic(0.45)
    from ci_log_processing_spark import oracle_data as od

    sqls["stream_cdc_merge"] = od.q_stream_cdc_merge()
    from ci_log_processing_spark.operators.curation import (
        bloom_bits as _bloom_bits,
    )

    sqls.update(
        {
            "dedup_exact": od.q_dedup_exact(),
            "dedup_exact_apply": od.q_dedup_exact_apply(),
            "dedup_substring_spans": od.q_dedup_substring_spans(20),
            "dedup_incremental": od.q_incremental_dedup(),
            "dedup_incremental_minhash": od.q_incremental_minhash_dedup(
                threshold=0.6, candidate_cap=64
            ),
            "stream_neardup_ingest": od.q_stream_neardup(
                threshold=0.6, candidate_cap=64
            ),
            # the streamed CMS must equal the SINGLE-PASS sketch:
            # same oracle as the batch entry, different engine path
            "stream_cms_heavy": od.q_cms_token_counts(),
            # the streamed drift must equal the single-pass batch op,
            # so it shares sim_snapshot_drift's oracle verbatim
            "stream_snapshot_drift": od.q_snapshot_drift(),
            "dedup_ngram_jaccard": od.q_dedup_ngram_jaccard(0.6),
            "dedup_minhash_lsh": od.q_dedup_minhash_lsh(0.6),
            "dedup_minhash_estimate": od.q_dedup_minhash_estimate(0.5),
            "dedup_simhash": od.q_dedup_simhash(),
            "dedup_simhash_pairs": od.q_dedup_simhash_pairs(3),
            "dedup_simhash_pairs_capped": od.q_dedup_simhash_pairs(
                3, bucket_cap=16
            ),
            "dedup_components": od.q_dedup_components(0.6),
            "dedup_components_star": od.q_dedup_components(0.6),
            "dedup_semantic_apply": od.q_dedup_semantic_apply(0.30),
            "dedup_keep_best": od.q_dedup_keep_best(0.6),
            "dedup_embedding_cosine": od.q_embed_near_dup(0.30),
            "dedup_embedding_cosine_capped": od.q_embed_near_dup_capped(
                0.30, 20
            ),
            "sim_ann_brute_force": od.q_ann_brute_force(10, 5),
            "sim_ann_bucketed": od.q_ann_bucketed(10, 5),
            "sim_ann_ivf_multiprobe": od.q_ann_ivf_multiprobe(10, 5, 2),
            "sim_ann_pq": od.q_pq_ann(4, 8, 2, 64, 5, 10, rerank=50),
            "dedup_embedding_srp": od.q_srp_near_dup(0.30, 24, 8, 64),
            "dedup_embedding_srp_capped": od.q_srp_near_dup(
                0.30, 24, 8, 64, bucket_cap=24
            ),
            "cur_contrastive_triplets": od.q_contrastive_triplets(
                0.35, 24, 8, 64
            ),
            "sim_ann_ivfpq": od.q_ivfpq_ann(
                8, 4, 8, 2, 64, 5, 10, nprobe=2, rerank=50
            ),
            "sim_kmeans_fit": od.q_kmeans_fit(8, 3),
            "sim_knn_graph": od.q_knn_graph(5, 8, 2),
            "sim_embed_diversity": od.q_embedding_diversity(),
            "sim_snapshot_drift": od.q_snapshot_drift(),
            "sim_knn_graph_multiprobe": od.q_knn_graph(5, 8, 2, 2),
            "dedup_semantic_cluster": od.q_semantic_cluster_dedup(
                8, 2, 0.30
            ),
            "cur_mixture_sample": od.q_mixture_sample(
                MIX_RATES, default_rate=0.6
            ),
            "cur_lang_mixture": od.q_mixture_sample(
                LANG_RATES, default_rate=0.75, group_col="lang"
            ),
            "cur_quality_top_frac": od.q_quality_top_frac(2, 5),
            "cur_token_budget": od.q_token_budget(4000),
            "cur_token_budget_bpe": od.q_token_budget_bpe(3000, 8),
            "cur_token_budget_soft": od.q_token_budget_soft(600_000),
            "cur_shuffle_index": od.q_shuffle_index(100),
            "text_line_dedup": od.q_line_dedup(3),
            "cur_decontaminate": od.q_decontaminate(CONTAM_SNIPPETS),
            "cur_bloom_decontaminate": od.q_bloom_decontaminate(
                _bloom_bits(BLOOM_SNIPPETS)
            ),
            "cur_decontaminate_spans": od.q_decontaminate_spans(
                SPAN_SNIPPETS, k=3
            ),
            "cur_priority_sample": od.q_priority_sample(10),
            "cur_temperature_mixture": od.q_sqrt_temperature_mixture(),
            "cur_cms_tokens": od.q_cms_token_counts(),
            "cur_curriculum_order": od.q_curriculum_order(),
            "cur_full_curation_v4": od.q_full_curation_v4(
                _bloom_bits(BLOOM_SNIPPETS), 20
            ),
            "cur_full_curation_v5": od.q_full_curation_v5(
                SPAN_SNIPPETS, k=3, keep_permille=500
            ),
            "cur_perplexity_buckets": od.q_perplexity_buckets(3),
            "cur_overlap_decontaminate": od.q_overlap_decontaminate(0.5),
            "cur_fuzzy_decontaminate": od.q_fuzzy_decontaminate(0.5),
            "cur_conv_select": oracle.q_conversation_select(5, 0.2, 1),
            "cur_context_windows": oracle.q_context_windows(4),
            "cur_preference_pairs": oracle.q_preference_pairs(),
            "cur_softdedup_weights": od.q_softdedup_weights(0.6),
            "cur_stratified_downsample": od.q_stratified_downsample(3),
            "cur_data_card": od.q_data_card(),
            "cur_source_caps": od.q_source_caps(40),
            "cur_length_quantiles": od.q_length_quantiles(),
            "cur_token_histogram": od.q_token_histogram(16),
            "cur_pack_sequences": od.q_pack_sequences(256),
            "cur_top_ngrams": od.q_top_ngrams(20),
            "cur_chunk_documents": od.q_chunk_documents(64, 16),
            "cur_full_curation": od.q_full_curation(0.45, 128),
            "cur_full_curation_v2": od.q_full_curation(
                0.45, 128, model_gate=True, source_cap=20
            ),
            "cur_full_curation_v3": od.q_full_curation(
                0.45,
                128,
                model_gate=True,
                source_cap=20,
                mixture=MIX_RATES,
                mixture_default=0.6,
                shuffle_shard=8,
            ),
            "src_jsonl_quarantine": (
                "SELECT doc_id, FALSE AS is_corrupt FROM documents "
                "WHERE doc_id % 13 != 0 "
                "UNION ALL "
                "SELECT NULL AS doc_id, TRUE AS is_corrupt FROM documents "
                "WHERE doc_id % 13 = 0"
            ),
            "text_eval_f1": od.q_eval_token_f1(),
            "pipe_pseudonymize": oracle.q_pseudonymize(),
            "text_bpe_fertility": od.q_bpe_fertility(n_merges=8),
            "cur_pack_bfd": od.q_pack_bfd(capacity=256),
            "dedup_sorted_neighborhood": od.q_sorted_neighborhood(
                window=4, max_dist=2
            ),
            "cur_ks_drift": od.q_ks_drift(),
            "src_csv_quarantine": (
                "SELECT doc_id, FALSE AS is_corrupt FROM documents "
                "WHERE doc_id % 13 != 0 "
                "UNION ALL "
                "SELECT NULL AS doc_id, TRUE AS is_corrupt FROM documents "
                "WHERE doc_id % 13 = 0"
            ),
            "text_c4_clean": od.q_c4_clean(),
            "text_token_counts": od.q_token_counts(),
            "text_pii_scrub": od.q_pii_scrub(),
            "text_repetition": od.q_repetition(),
            "text_repetition_arrow": od.q_repetition(),
            "cur_url_dedup": od.q_url_dedup(),
            "text_entropy": od.q_token_entropy(),
            "text_bpe_merges": od.q_bpe_merges(8),
            "text_bpe_token_counts": od.q_bpe_token_counts(8),
            "text_bpe_token_counts_arrow": od.q_bpe_token_counts(8),
            "text_unigram_logprob": od.q_unigram_logprob(),
            "text_nb_quality": od.q_nb_quality(),
            "text_bigram_logprob": od.q_bigram_logprob(),
            "cur_leakage_split": od.q_leakage_safe_split(),
            "cur_dsir_weights": od.q_dsir_weights(),
            "cur_dsir_sample": od.q_dsir_sample(),
            "text_quality": od.q_quality(),
            "text_gopher_rules": od.q_gopher_rules(),
            "cur_gopher_funnel": od.q_gopher_funnel(),
            "text_model_quality": od.q_model_quality(),
            "text_tfidf": od.q_tfidf_top_terms(3),
            "text_tfidf_pruned": od.q_tfidf_top_terms(3, max_df_frac=0.5),
            "text_lang_id": od.q_lang_id(),
            "text_fingerprint": od.q_fingerprint(),
            "mm_image_features": MM_IMAGE_ORACLE,
            "mm_frame_sample": MM_FRAME_ORACLE,
            "mm_audio_chunks": MM_AUDIO_ORACLE,
            "cur_corpus_diff": od.q_corpus_diff(),
            "dedup_cdc_chunks": od.q_cdc_chunks(window=8, divisor=16),
            "text_normalize": od.q_normalize(),
            "cur_epoch_plan": od.q_epoch_plan(
                60_000.0, EPOCH_WEIGHTS, max_epochs=4.0
            ),
            "pipe_error_spike_mad": oracle.q_error_spike_mad(),
            "pipe_tool_arg_outcomes": oracle.q_tool_arg_outcomes(),
            "cur_rl_trajectories": oracle.q_rl_trajectories(),
            "cur_quantile_norm": od.q_quantile_norm(),
            "dedup_cross_source_matrix": od.q_cross_source_dup_matrix(
                0.6
            ),
            "cur_zorder_audit": od.q_zorder_audit(
                "n_chars", bits=8, bucket_bits=6, probe=(150, 300, 100, 250)
            ),
            "evt_retention_cohorts": oracle.q_retention_cohorts(90),
            "pipe_log_templates": oracle.q_log_templates(),
            "pipe_conv_dedup": oracle.q_conv_dedup(),
            "stream_template_novelty": oracle.q_stream_templates(),
            "cur_full_curation_v7": od.q_full_curation_v7(
                budget_milli=200_000, cut_milli=800, seed="v7"
            ),
            "evt_funnel_steps": od.q_event_funnel(),
            "cur_k_anon_audit": od.q_k_anon_audit(k=5, bucket_width=100),
            "pipe_tool_cooccurrence": oracle.q_tool_cooccurrence(),
            "evt_json_schema_profile": oracle.q_json_schema_profile(),
            "pipe_cusum_drift": oracle.q_cusum_error_drift(),
            "evt_sessionize": oracle.q_sessionize_events(30),
            "mm_resize": MM_RESIZE_ORACLE,
            "dedup_threshold_curve": od.q_dedup_threshold_curve(),
            "pipe_slo_burn": oracle.q_slo_burn_alert(slo_milli=50),
            "text_hashed_features": od.q_hashed_features(dim=64),
            "cur_apply_cdc": od.q_apply_cdc(),
            "pipe_scd2_intervals": oracle.q_scd2_intervals(),
            "pipe_agg_incremental": oracle.q_agg_incremental(),
            "cur_dq_audit": od.q_dq_audit(),
            "pipe_skew_audit": oracle.q_skew_audit(top_n=20),
            "cur_snapshot_asof": od.q_snapshot_asof(as_of_seq=2),
            "cur_column_profile": od.q_column_profile(),
            "cur_merge_stats_refresh": od.q_merge_stats_refresh(),
            "text_html_clean": od.q_html_clean(),
            "cur_compaction_plan": od.q_compaction_plan(
                target_bytes=4096
            ),
            "text_vocab_stats": od.q_vocab_stats(),
            "ret_bm25_topk": od.q_bm25_topk(k=5),
            "dedup_winnow_pairs": od.q_winnow_pairs(overlap_milli=400),
            "cur_full_curation_v6": od.q_full_curation_v6(
                budget=600, min_words=40, seed="v6"
            ),
            "pipe_volume_trend": oracle.q_volume_trend(),
            "cur_chat_lint": oracle.q_chat_lint(),
            "cur_stratified_split": od.q_stratified_split(),
            "cur_length_batches": od.q_length_batches(),
            "text_skipgram_pairs": od.q_skipgram_pairs(
                window=3, min_count=2
            ),
            "ret_inverted_index": od.q_inverted_index(
                min_df=2, max_df=1000000
            ),
            "dedup_count_cosine": od.q_count_cosine_pairs(
                threshold_milli=800, df_cut=128, ngram=4
            ),
            "text_collocations": od.q_collocations(
                window=3, min_count=2
            ),
            # identical SQL to the one-pass index: the Spark side
            # merges two doc-disjoint batches at the posting grain
            "ret_index_incremental": od.q_inverted_index(
                min_df=2, max_df=1000000
            ),
            # the STREAMED index folds per-batch posting partials and
            # must equal the same one-pass oracle
            "stream_index_maintenance": od.q_inverted_index(
                min_df=2, max_df=1000000
            ),
            "mm_ahash_pairs": od.q_mm_ahash_pairs(max_hamming=7),
            "text_phrase_merge": od.q_phrase_merge(
                min_count=5, lift_cut=1450
            ),
            "cur_sft_examples": oracle.q_sft_examples(),
            "ret_rrf_fusion": od.q_rrf_fusion(k=10, k0=60),
            "dedup_symspell_pairs": od.q_symspell_pairs(max_dist=1),
            "cur_reliability_iso": od.q_reliability_isotonic(n_bins=8),
            "mm_scene_cuts": od.q_scene_cuts(threshold_milli=4000),
            "sim_kcenter_select": od.q_kcenter_select(k=6),
            "text_watermark": od.q_watermark_scores(z2_thresh=4),
            "cur_render_chat": oracle.q_render_chat("chatml"),
            "text_source_keyness": od.q_source_keyness(k=5),
            "pipe_agg_cube": oracle.q_agg_cube(),
            "op_salted_join": oracle.q_salted_join(),
            "pipe_ewma_alerts": oracle.q_ewma_alerts(window=16, slack=5),
            "dedup_cluster_cards": od.q_cluster_cards(threshold=0.6),
        }
    )
    return _driver_rotation(sqls)

