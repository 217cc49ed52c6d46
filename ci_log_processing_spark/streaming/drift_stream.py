"""Streaming embedding snapshot-drift monitor — the distribution-
shift twin of cms_stream.py's frequency sketch: the live corpus
arrives as micro-batches and its per-group centroid is accumulated
from MERGEABLE per-batch partials, then compared against a FIXED
reference snapshot with exactly the batch operator's math
(operators/similarity.py snapshot_drift).

Per micro-batch (foreachBatch, availableNow): the batch's embeddings
posexplode to (label, dim) cells and reduce to per-cell partials
(sum of values + row count) written to a batch-addressed partial
(`dims/b<batch_id>`, mode overwrite; streaming/partials.py). The
final answer sum-merges all partials into the streamed snapshot's per-dim sums,
derives the reference side's identical partials batch-side, and
finishes with the same centroid cosine / L2 / round-5 arithmetic as
snapshot_drift — so the streamed result hash-equals the single-pass
batch operator over the union of all batches (the gate splits the
stream side across two micro-batches and compares against the
SAME DuckDB twin sim_snapshot_drift uses).

Algebra and replay: per-dim sums and counts are LINEAR — '+' merges
partials exactly, which is why the streamed centroid equals the
single-pass one (up to float reassociation, absorbed by the tier's
round-5 convention exactly as the batch op absorbs Spark-vs-DuckDB
summation order) — but '+' is NOT idempotent, so replay safety comes
from bookkeeping: each batch OVERWRITES its own addressed
subdirectory and a replayed batch replaces rather than doubles its
contribution (the cms_stream/ingest_curate pattern, the documented
contrast with hll_stream's idempotent max-merge).

State: ZERO rows in the streaming state store; each batch's partial
is <= labels x dim rows (KB-sized at ANY corpus size — the same
volume-independence claim the batch operator's exchange makes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .partials import drain, read_partials, write_partial

EMB_STREAM_SCHEMA = "vec_id long, label int, embedding array<float>"
_DIMS_SCHEMA = "label int, _pos int, sv double, n long"


def _dim_partials(df: DataFrame) -> DataFrame:
    """(label, dim) -> (sum of values, row count): the mergeable
    partial. Float values cast to double BEFORE summing, the batch
    operator's convention."""
    return (
        df.select(
            "label",
            F.posexplode(
                F.transform(
                    F.col("embedding"), lambda x: x.cast("double")
                )
            ).alias("_pos", "_val"),
        )
        .groupBy("label", "_pos")
        .agg(
            F.sum("_val").alias("sv"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def run_streaming_drift(
    spark: SparkSession,
    emb_dir: str,
    ref_dir: str,
    output_dir: str,
) -> DataFrame:
    """Drain `emb_dir` (availableNow), accumulating per-batch
    (label, dim) sum/count partials; return the drift table of the
    accumulated stream (side B) against the reference snapshot at
    `ref_dir` (side A) — identical schema, values, and group-presence
    rule to snapshot_drift(ref, union_of_batches)."""
    dims_dir = os.path.join(output_dir, "dims")

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        write_partial(_dim_partials(batch_df), dims_dir, batch_id)

    drain(
        spark,
        EMB_STREAM_SCHEMA,
        emb_dir,
        os.path.join(output_dir, "_stream_ckpt"),
        process_batch,
        max_files_per_trigger=1,
    )
    b_dims = (
        read_partials(spark, dims_dir, _DIMS_SCHEMA)
        .groupBy("label", "_pos")
        .agg(F.sum("sv").alias("sb"), F.sum("n").alias("nb"))
    )
    a_dims = _dim_partials(spark.read.parquet(ref_dir)).select(
        "label", "_pos", F.col("sv").alias("sa"), F.col("n").alias("na")
    )
    # full outer join so a label present in only one snapshot keeps
    # its rows (count 0 on the other side), exactly like the batch
    # operator's union + conditional sums; such labels are then
    # dropped by the same n_a/n_b > 0 rule.
    merged = a_dims.join(b_dims, ["label", "_pos"], "full").select(
        "label",
        "_pos",
        "sa",
        "sb",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    ca = F.col("sa") / F.col("na").cast("double")
    cb = F.col("sb") / F.col("nb").cast("double")
    cent = merged.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(ca * cb).alias("_dot"),
        F.sum(ca * ca).alias("_qa"),
        F.sum(cb * cb).alias("_qb"),
        F.sum((ca - cb) * (ca - cb)).alias("_d2"),
    )
    return cent.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("_dot") / F.sqrt(F.col("_qa") * F.col("_qb")), 5
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("_d2")), 5).alias("centroid_l2"),
    )
