"""Streaming inter-turn latency sketch: per-micro-batch HDR bucket
partials plus a persisted per-conversation "last turn" state that
bridges gaps ACROSS micro-batches — the piece a naive per-batch
histogram silently drops when a conversation continues in a later
scraper pass (the reference's follow loop revisits live build dirs
for exactly this reason, logscraper.py follow mode).

Per micro-batch (foreachBatch, like follow.py/hll_stream.py):

  1. apply the stream's one RoutingPlan to the arriving segment;
  2. INTRA-batch gaps: the same conv-keyed lead() window the batch
     operator uses;
  3. BRIDGE gaps: join each conversation's FIRST routed turn of this
     batch against the persisted state's latest "last turn" row for
     that conversation — gap from the previous segment's tail to this
     segment's head, attributed to the previous turn's sink (the gap
     belongs to the turn it starts at, exactly as in the window);
  4. quantize intra + bridge gaps with the shared HDR bucket math
     (operators/aggregate.py hdr_bucket_counts) and write the counts
     to `buckets/b<batch_id>` (mode overwrite);
  5. write each conversation's new last-turn row to
     `state/b<batch_id>` (mode overwrite).

Replay safety is the batch-addressed partial pattern
(streaming/partials.py): a replayed batch overwrites its OWN two
partials, and the state read at step 3 only unions partials with
id < batch_id,
so a half-written failed attempt can neither double-count buckets
nor poison the state it reads. Count partials sum-merge, so the
final estimate is one groupBy over the union of bucket files.

Batch-parity contract (asserted by the gate, stream_latency_hdr ==
the batch DuckDB twin): segments must arrive in turn order and each
segment must open with a turn whose timestamp PARSES. Under that
contract the per-batch pipeline's forward-fill and preamble routing
are byte-identical to the global batch run (every fill inside a
segment resolves within the segment), so intra + bridge gaps equal
the single-pass gap set exactly. Segments opening with unparseable
timestamps would fill from the batch default rather than the prior
segment's tail — the same documented arrival contract as follow.py,
one notch looser (conversations may SPAN batches; only the split
point is constrained).

State size: one row per conversation ever seen — the same O(live
convs) bound as session_state.py, kept in cheap parquet instead of
the state store because the final merge wants ALL partials anyway.
At 10^12 turns the state dirs would be compacted periodically
(latest-per-conv is idempotent), the same TTL discipline as
operators/checkpoint.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.aggregate import (
    hdr_bucket_counts,
    hdr_percentiles_from_buckets,
)
from ..plans.pipeline import RoutingPlan
from .follow import TRANSCRIPT_SCHEMA
from .partials import drain, read_partials, write_partial

_STATE_SCHEMA = (
    "conv_id string, turn_idx int, filled_ts timestamp, sink string, "
    "batch long"
)
_BUCKETS_SCHEMA = "sink string, bucket long, c long"


def run_streaming_hdr(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
    meta=None,
) -> DataFrame:
    """Drain `transcripts_dir` (availableNow), accumulating HDR
    bucket partials with cross-batch gap bridging, and return the
    merged per-sink percentile sketch — hash-equal to the single-pass
    batch operator under the arrival contract above."""
    buckets_dir = os.path.join(output_dir, "buckets")
    state_dir = os.path.join(output_dir, "state")

    plan = RoutingPlan(spark, meta=meta)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        routed = plan(batch_df)
        turns = routed.select(
            "conv_id", "turn_idx", "sink", "filled_ts"
        ).persist()
        wc = Window.partitionBy("conv_id").orderBy("turn_idx")
        intra = (
            turns.withColumn("_next_ts", F.lead("filled_ts").over(wc))
            .filter(F.col("_next_ts").isNotNull())
            .select(
                "sink",
                (
                    F.unix_millis("_next_ts")
                    - F.unix_millis("filled_ts")
                ).alias("gap_ms"),
            )
        )
        # first and last routed turn per conv in THIS batch — group
        # rows only (one per conversation)
        edge = turns.groupBy("conv_id").agg(
            F.min_by(
                F.struct("turn_idx", "filled_ts"), F.col("turn_idx")
            ).alias("first"),
            F.max_by(
                F.struct("turn_idx", "filled_ts", "sink"),
                F.col("turn_idx"),
            ).alias("last"),
        ).persist()

        # state of batches strictly before this one: a replay never
        # reads its own failed attempt (streaming/partials.py)
        latest = (
            read_partials(spark, state_dir, _STATE_SCHEMA, before=batch_id)
            .groupBy("conv_id")
            .agg(
                F.max_by(
                    F.struct("turn_idx", "filled_ts", "sink"),
                    F.col("batch"),
                ).alias("prev")
            )
        )
        bridge = edge.join(latest, "conv_id").select(
            F.col("prev.sink").alias("sink"),
            (
                F.unix_millis("first.filled_ts")
                - F.unix_millis("prev.filled_ts")
            ).alias("gap_ms"),
        )
        write_partial(
            hdr_bucket_counts(intra.unionAll(bridge)),
            buckets_dir,
            batch_id,
        )
        write_partial(
            edge.select(
                "conv_id",
                F.col("last.turn_idx").alias("turn_idx"),
                F.col("last.filled_ts").alias("filled_ts"),
                F.col("last.sink").alias("sink"),
                F.lit(batch_id).alias("batch"),
            ),
            state_dir,
            batch_id,
        )
        turns.unpersist()
        edge.unpersist()

    drain(
        spark,
        TRANSCRIPT_SCHEMA,
        transcripts_dir,
        os.path.join(output_dir, "_stream_ckpt"),
        process_batch,
        max_files_per_trigger=1,
    )
    merged = (
        read_partials(spark, buckets_dir, _BUCKETS_SCHEMA)
        .groupBy("sink", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    return hdr_percentiles_from_buckets(merged)
