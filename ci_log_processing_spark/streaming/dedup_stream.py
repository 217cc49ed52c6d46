"""Streaming ingest dedup: drop exact-duplicate documents as they
arrive, with bounded state.

The batch tier dedups a materialized corpus (operators/dedup.py);
an ingest pipeline needs the same guarantee ON THE STREAM — a doc
seen twice across micro-batches must survive exactly once. Spark's
`dropDuplicatesWithinWatermark` keeps one state-store entry per key
and EVICTS keys once the watermark passes their event time + delay,
so state is bounded by (arrival rate x watermark horizon), not by
corpus size — the property that makes streaming dedup viable on an
unbounded 10^12-doc feed. The trade is the standard one: a
duplicate arriving later than the watermark horizon is a fresh key
again (exactly the reference's stale-dir eviction trade,
logsender.py:152-160 — old state cannot be held forever).

Keyed on md5(text) like exact_dup_groups, so the streaming and
batch tiers agree on what "duplicate" means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_STREAM_SCHEMA = (
    "doc_id long, text string, event_ts timestamp"
)


def streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
) -> DataFrame:
    """Drain `docs_dir` with an availableNow trigger, keep the first
    arrival of every md5(text) within the watermark horizon, write
    survivors to `output_dir`, and return them read back.

    Append-mode + state eviction: each surviving doc is emitted
    exactly once; duplicate keys inside the horizon are dropped
    regardless of which micro-batch they land in.
    """
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    survivors = (
        stream.withColumn("h", F.md5(F.col("text").cast("binary")))
        .withWatermark("event_ts", "2 hours")
        .dropDuplicatesWithinWatermark(["h"])
    )
    q = (
        survivors.writeStream.format("parquet")
        .option("path", f"{output_dir}/data")
        .option("checkpointLocation", f"{output_dir}/chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(DOC_STREAM_SCHEMA + ", h string").parquet(
        f"{output_dir}/data"
    )
