"""Traced replay of the job's calls, charged to one layer at a time.

The replay runs in one in-process session built by `session.get_spark`
with the job's config plus Spark's event log. Every span sets a job
group, so the folded event log charges task time, GC, shuffle and spill
to the span that caused it.

Lazy layers are forced one prefix at a time with a `noop` write:
scan, the checkpoint anti-join, `repartition_by_conv`,
`parse_transcripts`, the two ffill calls, `with_enrichment` and the
meta join + `with_sink`. A layer's self time is its prefix's time minus
the previous prefix's. The eager calls (`ParquetDirSink.append`, the
`hourly_agg` write, the metrics write, `write_checkpoint`,
`sink_counts`) are timed directly; the append recomputes the routed
prefix, so the sink layer's self time is the append minus that prefix.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from . import eventlog

# the layer calls the replay makes; the self-test swaps one for a delayed copy
def default_calls() -> dict:
    from ci_log_processing_spark.operators.checkpoint import filter_unprocessed, write_checkpoint
    from ci_log_processing_spark.operators.enrich import with_enrichment
    from ci_log_processing_spark.operators.ffill import with_filled_ts, with_prior_ts_count
    from ci_log_processing_spark.operators.route import with_sink
    from ci_log_processing_spark.operators.skew import repartition_by_conv
    from ci_log_processing_spark.plans.pipeline import parse_transcripts

    return {
        "filter_unprocessed": filter_unprocessed,
        "repartition_by_conv": repartition_by_conv,
        "parse_transcripts": parse_transcripts,
        "with_filled_ts": with_filled_ts,
        "with_prior_ts_count": with_prior_ts_count,
        "with_enrichment": with_enrichment,
        "with_sink": with_sink,
        "write_checkpoint": write_checkpoint,
    }


class Spans:
    """In-memory spans; each one is also the Spark job group of the
    jobs it starts. No span starts after `deadline` (a perf_counter
    time)."""

    def __init__(self, spark, deadline: float | None = None):
        self.sc = spark.sparkContext
        self.deadline = deadline
        self.rows: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.deadline is not None and time.perf_counter() > self.deadline:
            raise TimeoutError(f"span {name} would start after the deadline")
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.rows.append({"name": name, "start": t0, "end": time.perf_counter()})
            self.sc.setJobGroup("(none)", "outside spans")

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def count(self, name: str) -> int:
        return len(self.durations(name))

    def wall(self) -> float:
        return max(r["end"] for r in self.rows) - min(r["start"] for r in self.rows)


def session(master: str, log_dir: str):
    from ci_log_processing_spark.session import get_spark

    os.makedirs(log_dir, exist_ok=True)
    return get_spark(
        master=master,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_and_fold(spark, log_dir: str) -> dict:
    app_id = spark.sparkContext.applicationId
    spark.stop()
    return eventlog.fold(eventlog.find_log(log_dir, app_id))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _chain(spark, remaining, meta, batch_ts: str, calls: dict, observations=None) -> list:
    """[(layer, df)] for the lazy layers after the checkpoint anti-join,
    mirroring `plans.pipeline.full_pipeline`. With `observations`, the
    parse, ffill and route frames also count their outcomes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.route import SINKS

    from .metrics import DROP_REASONS

    def observed(df, name, *exprs):
        if observations is None:
            return df
        obs = observations[name] = Observation(name)
        return df.observe(obs, *exprs)

    c = calls
    out = []
    df = c["repartition_by_conv"](remaining, spark)
    out.append(("operators.skew", df))
    df = c["parse_transcripts"](df)
    df = observed(df, "parse", F.count_if(F.col("event_ts").isNull()).alias("event_ts_null"))
    out.append(("plans.pipeline.parse", df))
    df = c["with_prior_ts_count"](c["with_filled_ts"](df, batch_ts))
    fallback = F.col("filled_ts") == F.lit(batch_ts).cast("timestamp")
    df = observed(df, "ffill", F.count_if(fallback).alias("batch_ts_fallback"))
    out.append(("operators.ffill", df))
    df = c["with_enrichment"](df, spark)
    out.append(("operators.enrich", df))
    present = meta.select("conv_id").distinct().withColumn("_has_meta", F.lit(True))
    df = df.join(F.broadcast(present), "conv_id", "left")
    df = c["with_sink"](df, has_metadata=F.coalesce(F.col("_has_meta"), F.lit(False))).drop("_has_meta")
    counts = [F.count_if(F.col("sink") == s).alias(f"rows.{s}") for s in SINKS]
    counts += [F.count_if(F.col("drop_reason") == r).alias(f"drop.{r}") for r in DROP_REASONS]
    df = observed(df, "route", *counts)
    out.append(("operators.route", df))
    return out


def routed_prefixes(spark, spans: Spans, transcripts, meta, ckpt_dir: str, batch_ts: str,
                    calls: dict, repeat: int, warmup: bool = True):
    """Warm up once with the observed chain, then force each lazy prefix
    `repeat` times. Returns (routed df, observed counts, skipped convs).
    Without `warmup`, only the scan is forced first (in a JVM an earlier
    replay has warmed) and nothing is counted."""
    with spans.span("operators.checkpoint.read.probe"):
        remaining, skipped = calls["filter_unprocessed"](spark, transcripts, ckpt_dir)
    observations = {}
    with spans.span("warmup"):
        _noop(_chain(spark, remaining, meta, batch_ts, calls, observations)[-1][1] if warmup else transcripts)
    observed = {k: v for o in observations.values() for k, v in o.get.items()}
    prefixes = [("sources", transcripts), ("operators.checkpoint.read", remaining)]
    prefixes += _chain(spark, remaining, meta, batch_ts, calls)
    for layer, df in prefixes:
        for _ in range(repeat):
            with spans.span(layer):
                _noop(df)
    return prefixes[-1][1], observed, skipped


def replay_job(spark, spans: Spans, transcripts_dir: str, meta_path: str, out_dir: str,
               batch_ts: str, calls: dict | None = None, repeat: int = 3, full: bool = True) -> dict:
    """The job's calls (`plans/job.py`, repartition write strategy).
    Without `full`, it skips the warm-up pass and stops after the sink
    append: what the 1 -> N speedups need, and no more."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.aggregate import hourly_agg, sink_counts
    from ci_log_processing_spark.sinks import ParquetDirSink

    calls = calls or default_calls()
    transcripts = spark.read.parquet(transcripts_dir)
    meta = spark.read.parquet(meta_path)
    ckpt_dir = os.path.join(out_dir, "checkpoint")
    routed, observed, skipped = routed_prefixes(spark, spans, transcripts, meta, ckpt_dir, batch_ts, calls, repeat,
                                                warmup=full)

    batch_id = batch_ts.replace(" ", "T").replace(":", "-")
    sinks_dir = os.path.join(out_dir, "sinks")
    w = (
        routed.withColumn("src_partition", F.spark_partition_id())
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("event_date", F.to_date("filled_ts"))
        .drop("text", "ts", "prior_ts_count")
    )
    obs = Observation("routed_rows")
    w = w.observe(obs, F.count(F.lit(1)).alias("n")).repartition(F.col("sink"), F.col("event_date"))
    with spans.span("sinks"):
        table = ParquetDirSink(sinks_dir)
        table.ensure(spark)
        table.append(w)
    rows = obs.get["n"]
    counts = {}
    if rows > 0 and full:
        written = spark.read.parquet(sinks_dir).filter(F.col("batch_id") == batch_id)
        with spans.span("operators.aggregate"):
            hourly_agg(written).withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                os.path.join(out_dir, "agg_hourly"))
        with spans.span("plans.job.metrics"):
            written.groupBy("src_partition", "sink").agg(
                F.count(F.lit(1)).alias("rows"), F.countDistinct("conv_id").alias("convs")
            ).withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                os.path.join(out_dir, "metrics"))
        with spans.span("operators.checkpoint.write"):
            calls["write_checkpoint"](written, ckpt_dir)
        with spans.span("operators.aggregate"):
            counts = {r["sink"]: r["cnt"] for r in sink_counts(written).collect()}
    return {"rows": rows, "sinks": counts, "skipped_already_processed": skipped,
            "observed": observed, "batch_id": batch_id}


def resume_probe(spark, spans: Spans, transcripts_dir: str, out_dir: str, calls: dict | None = None,
                 repeat: int = 3) -> dict:
    """The checkpoint read of a rerun of the batch a replay wrote:
    `filter_unprocessed` against its checkpoint, then the remaining frame
    forced `repeat` times. Returns the skipped convs and the probe's
    seconds (the call plus the median forced read)."""
    calls = calls or default_calls()
    transcripts = spark.read.parquet(transcripts_dir)
    with spans.span("resume.filter"):
        remaining, skipped = calls["filter_unprocessed"](spark, transcripts, os.path.join(out_dir, "checkpoint"))
    for _ in range(repeat):
        with spans.span("resume.read"):
            _noop(remaining)
    return {"skipped": skipped, "seconds": spans.total("resume.filter") + spans.median("resume.read")}


def replay_microbatch(spark, spans: Spans, files: list[str], meta_path: str, out_dir: str,
                      batch_ts: str, calls: dict | None = None, repeat: int = 3) -> dict:
    """One follow micro-batch (`streaming/follow.py` process_batch) over
    `files`: the routed prefixes, then persist + one write per sink +
    the hourly aggregate."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.aggregate import hourly_agg
    from ci_log_processing_spark.operators.route import SINKS
    from ci_log_processing_spark.streaming.follow import TRANSCRIPT_SCHEMA

    calls = calls or default_calls()
    transcripts = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*files)
    meta = spark.read.parquet(meta_path)
    ckpt_dir = os.path.join(out_dir, "checkpoint")  # follow keeps none: the anti-join is a no-op
    routed, observed, _ = routed_prefixes(spark, spans, transcripts, meta, ckpt_dir, batch_ts, calls, repeat)
    routed = routed.withColumn("batch_id", F.lit(0)).persist()
    try:
        with spans.span("sinks"):
            for sink in SINKS:
                routed.filter(F.col("sink") == sink).withColumn(
                    "event_date", F.to_date("filled_ts")
                ).write.mode("append").partitionBy("event_date").parquet(os.path.join(out_dir, "sinks", sink))
        with spans.span("operators.aggregate"):
            hourly_agg(routed).withColumn("batch_id", F.lit(0)).write.mode("append").parquet(
                os.path.join(out_dir, "agg_hourly"))
    finally:
        routed.unpersist()
    return {"observed": observed}


def self_times(spans: Spans) -> dict:
    """Self seconds per layer: differences of median prefix times for the
    lazy layers, the eager span minus the recomputed routed prefix for
    the sinks, and the eager spans themselves for the rest."""
    from .metrics import LAZY_LAYERS

    out, prev = {}, 0.0
    for layer in LAZY_LAYERS:
        t = spans.median(layer)
        out[layer] = t - prev
        prev = t
    out["operators.checkpoint.read"] += spans.total("operators.checkpoint.read.probe")
    out["sinks"] = spans.total("sinks") - prev
    for eager in ("operators.aggregate", "plans.job.metrics", "operators.checkpoint.write"):
        out[eager] = spans.total(eager)
    return out


def folded_layers(groups: dict, spans: Spans, input_bytes: int) -> dict:
    """Event-log metrics per layer. Prefix groups hold `repeat` runs of
    their prefix, so they are averaged, then differenced like times."""
    def g(name, key):
        n = max(spans.count(name), 1)
        return groups.get(name, {}).get(key, 0) / n

    return {
        # Spark's input metrics undercount vectorized parquet reads, so
        # this is the bytes of the files the full-width scan covers
        "sources.bytes_read": input_bytes,
        "operators.skew.shuffle_bytes": g("operators.skew", "shuffle_write_bytes"),
        "operators.skew.partition_skew": eventlog.partition_skew(groups.get("operators.skew")),
        "plans.pipeline.parse.gc_s": g("plans.pipeline.parse", "gc_s") - g("operators.skew", "gc_s"),
        "operators.ffill.spill_bytes": g("operators.ffill", "spill_bytes") - g("plans.pipeline.parse", "spill_bytes"),
        "sinks.shuffle_bytes": g("sinks", "shuffle_write_bytes") - g("operators.route", "shuffle_write_bytes"),
        "sinks.task_skew": eventlog.task_skew(groups.get("sinks")),
        "operators.aggregate.rows_reread": groups.get("operators.aggregate", {}).get("input_records", 0),
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0
