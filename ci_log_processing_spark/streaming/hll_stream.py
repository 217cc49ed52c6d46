"""Streaming distinct-conversation counting via mergeable
HyperLogLog partials — the sketch pattern that replaces
COUNT(DISTINCT) when the stream never ends and the key set never
fits in state.

Per micro-batch: run the batch pipeline (foreachBatch, same
rationale as follow.py — the ffill window is conversation-ordered
and a conversation's turns arrive together), reduce the batch to
its (sink, j, mj) register PARTIALS, and write them to a
batch-addressed partial (`registers/b<batch_id>`, mode overwrite;
streaming/partials.py). The estimate is computed from the union of
all partial files.

Crash/replay safety comes from the algebra, not bookkeeping:
register max() is associative, commutative and IDEMPOTENT, so a
replayed batch overwriting (or even double-writing) its partials
cannot change the merged registers — unlike a count, a re-added
partial is absorbed, never double-counted. This is the property
that makes HLL the production answer for streaming cardinality
(merge across micro-batches, days, or datacenters with no
coordination), and the gate proves it: the streamed estimate is
hash-equal to the single-pass batch sketch over the same rows.

State: ZERO rows in the streaming state store — the sketch lives in
the sink as <= 64 rows per (sink, batch). At 10^12 turns the
per-batch partial is still <= sinks x 64 rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import hll_estimate, hll_partial_registers
from ..plans.pipeline import full_pipeline
from .follow import TRANSCRIPT_SCHEMA
from .partials import drain, read_partials, write_partial

_REGISTERS_SCHEMA = "sink string, j long, mj int"


def run_streaming_hll(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
    max_files_per_trigger: int = 2,
    meta=None,
) -> DataFrame:
    """Drain `transcripts_dir` (availableNow), accumulating per-batch
    HLL register partials, and return the merged per-sink estimate
    (sink, hll_distinct) read back from the register sink."""
    regs_dir = os.path.join(output_dir, "registers")

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        routed = full_pipeline(batch_df, spark, meta=meta)
        # overwrite the batch's own subdir: a replayed batch lands in
        # the same place, and max-merge absorbs it either way
        write_partial(hll_partial_registers(routed), regs_dir, batch_id)

    drain(
        spark,
        TRANSCRIPT_SCHEMA,
        transcripts_dir,
        os.path.join(output_dir, "_stream_ckpt"),
        process_batch,
        max_files_per_trigger,
    )
    partials = read_partials(spark, regs_dir, _REGISTERS_SCHEMA)
    return hll_estimate(partials).select(
        "sink", F.col("hll_distinct").cast("double").alias("hll_distinct")
    )
