"""Watermarked streaming aggregates — the reference's late/
incomplete-data policy (build dirs wait for sentinel files, evicted
after 12 h idle: logsender.py:152-160, 193-196) expressed as
Structured Streaming event-time semantics.

Where `follow.run_follow` replays the whole batch pipeline per
micro-batch (foreachBatch, because the ffill window needs
conversation order), this module is the PURE streaming DAG for the
aggregate tier: parse (stateless, no ffill) -> watermark on event
time -> windowed count -> append-mode sink. A window is emitted
exactly once, when the watermark (max event time seen minus the
allowed lateness) passes its end — the streaming analog of "this
build dir is ready / too old" — and later-than-watermark turns are
dropped from the aggregate, the analog of the reference's stale-dir
eviction.

No shuffle beyond the single groupBy(window, severity); state store
size is bounded by (windows in flight x severities), independent of
input volume — this is what makes it viable at 10^12 turns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..plans.pipeline import parse_transcripts
from .follow import TRANSCRIPT_SCHEMA


def streaming_severity_window_counts(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
) -> DataFrame:
    """Run the watermarked windowed count over a transcript directory
    (availableNow trigger: drain existing files, then stop) and
    return the emitted result read back from the sink.

    Append mode == emit-once-per-finalized-window: rows arrive only
    for windows whose end <= watermark, so re-reading the sink never
    shows a partially aggregated window.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(transcripts_dir)
    )
    parsed = parse_transcripts(stream)  # stateless exprs only — no ffill
    agg = (
        parsed.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "severity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "severity",
            "cnt",
        )
    )
    sink = os.path.join(output_dir, "severity_windows")
    q = (
        agg.writeStream.outputMode("append")
        .option(
            "checkpointLocation", os.path.join(output_dir, "_wm_ckpt")
        )
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(sink)
    except AnalysisException:  # no window finalized -> sink path absent
        return spark.createDataFrame(
            [],
            "window_start timestamp, window_end timestamp, "
            "severity string, cnt long",
        )


def streaming_session_counts(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
) -> DataFrame:
    """Watermarked SESSION windows over the raw transcript stream —
    the same F.session_window operator as the batch
    session_window_agg (operators/aggregate.py), so batch and
    streaming share one session definition. Append mode: a session
    is emitted exactly once, when the watermark passes its end (no
    in-watermark event can extend it past that point); state per
    conversation is bounded by sessions still mergeable.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(transcripts_dir)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), "1800 seconds").alias("w"),
            "conv_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )
    sink = os.path.join(output_dir, "sessions")
    q = (
        agg.writeStream.outputMode("append")
        .option(
            "checkpointLocation", os.path.join(output_dir, "_sess_ckpt")
        )
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(sink)
    except AnalysisException:  # no session finalized -> sink path absent
        return spark.createDataFrame(
            [],
            "conv_id string, session_start timestamp, "
            "session_end timestamp, n_turns long, "
            "first_turn int, last_turn int",
        )
