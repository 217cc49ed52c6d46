"""Streaming log-template monitor: per-batch template partials with
first-seen-batch attribution — the "new template just appeared"
alert an SRE wires to a pager, and the streaming face of the batch
log_templates miner (operators/aggregate.py).

Per micro-batch (foreachBatch, availableNow): mask + aggregate the
batch's VISIBLE turns to (template, n_msgs, n_convs, example) with
the batch id attached, and OVERWRITE the batch-addressed partial
`tmpl/b<batch_id>` (streaming/partials.py) — the linear-merge
replay-safety pattern shared with cms_stream.py/drift_stream.py: counts are
summed, sum is not idempotent, so a replayed batch must REPLACE its
contribution, not add to it.

Merge legality is the design constraint the CALLER owns: n_msgs,
min(example) and min(first_batch) merge linearly for any batch
split, but n_convs sums correctly only when each conversation lands
wholly inside one batch (the deployment reality — a follow-loop
ships whole conversation logs; the gate splits waves by conv hash
for the same reason). State: ZERO rows in the streaming state
store; each partial is template-cardinality-sized (thousands of
rows at 10^12 turns).

first_batch = min(batch_id) over the batches that saw the template:
a template whose first_batch equals the CURRENT batch is novel —
the monitor's alert condition, and the column the batch miner
cannot produce.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .partials import drain, read_partials, write_partial

TURN_STREAM_SCHEMA = (
    "conv_id string, turn_idx int, message string, sink string"
)
_TEMPLATE_SCHEMA = (
    "template string, n_msgs long, n_convs long, example string, "
    "first_batch long"
)


def _template_partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """The batch miner: same mask + aggregate as
    operators.aggregate.log_templates, plus the batch id."""
    vis = batch_df.filter(F.col("sink") != "drop_queue")
    template = F.regexp_replace(F.col("message"), r"\S*[0-9]\S*", "<*>")
    return (
        vis.select(
            template.alias("template"),
            F.col("message").alias("_m"),
            "conv_id",
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("_m").alias("example"),
            F.min(F.lit(batch_id).cast("long")).alias("first_batch"),
        )
    )


def run_streaming_templates(
    spark: SparkSession,
    turns_dir: str,
    output_dir: str,
) -> DataFrame:
    """Drain `turns_dir` (availableNow), accumulating per-batch
    template partials, and return the merged template table with
    first-seen-batch attribution: (template, n_msgs, n_convs,
    example, first_batch). With conv-disjoint batches the merged
    counts hash-equal the single-pass batch miner."""
    tmpl_dir = os.path.join(output_dir, "tmpl")

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        write_partial(
            _template_partial(batch_df, batch_id), tmpl_dir, batch_id
        )

    drain(
        spark,
        TURN_STREAM_SCHEMA,
        turns_dir,
        os.path.join(output_dir, "_stream_ckpt"),
        process_batch,
        max_files_per_trigger=1,
    )
    return (
        read_partials(spark, tmpl_dir, _TEMPLATE_SCHEMA)
        .groupBy("template")
        .agg(
            F.sum("n_msgs").alias("n_msgs"),
            F.sum("n_convs").alias("n_convs"),
            F.min("example").alias("example"),
            F.min("first_batch").alias("first_batch"),
        )
    )
