"""Streaming heavy hitters via mergeable count-min partials — the
frequency twin of hll_stream.py's cardinality sketch.

Per micro-batch (foreachBatch, availableNow): reduce the batch to its
exact per-token counts AND its CMS cell partials, and write BOTH to
batch-addressed partials (`counts/b<batch_id>`, `cells/b<batch_id>`,
mode overwrite; streaming/partials.py). The final answer merges all
partials: token counts sum, cells sum, then the shared
curation.cms_estimate finish (heap top-k + min-over-depth-cells).

The algebra contrast with the HLL stream is the point of keeping
both in the engine:

* HLL registers are max-merged — max is IDEMPOTENT, so a replayed
  batch is absorbed even if it double-writes.
* CMS cells (and exact counts) are LINEAR — '+' merges partials
  exactly (that linearity is WHY the streamed sketch equals the
  single-pass batch sketch bit-for-bit), but '+' is NOT idempotent,
  so replay safety must come from bookkeeping instead: each batch
  OVERWRITES its own addressed subdirectory, and a replayed batch
  replaces rather than duplicates its contribution (the
  ingest_curate.py pattern).

State: ZERO rows in the streaming state store; the per-batch partial
is <= (distinct tokens in batch) + depth*width rows in the sink. At
10^12 turns the cells partial is still exactly depth*width rows per
batch; the exact-counts partial is vocabulary-sized, kept only to
answer the candidate set exactly (drop it and answer top-k from the
sketch alone when even the vocabulary is too big to keep).

The gate (stream_cms_heavy) splits the corpus across micro-batches so
every hot token's count straddles batches, and asserts the streamed
result hash-equals the SINGLE-PASS DuckDB sketch — merge correctness,
not just plumbing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import CMS_SEED, cms_cell_array, cms_estimate
from ..operators.dedup import tokens_col
from .neardup_ingest import DOC_STREAM_SCHEMA
from .partials import drain, read_partials, write_partial

_COUNTS_SCHEMA = "token string, exact_n long"
_CELLS_SCHEMA = "i int, cell int, cell_n long"


def run_streaming_cms(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
    candidates_k: int = 20,
    width: int = 512,
    depth: int = 4,
) -> DataFrame:
    """Drain `docs_dir` (availableNow), accumulating per-batch exact
    token counts and CMS cell partials, and return the merged top-k
    heavy-hitter table — identical schema and values to the batch
    cms_token_counts over the union of all batches."""
    counts_dir = os.path.join(output_dir, "counts")
    cells_dir = os.path.join(output_dir, "cells")
    cells = cms_cell_array(width, depth, CMS_SEED)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            F.explode(tokens_col(F.col("text"))).alias("token")
        ).filter(F.col("token") != "")
        exact = toks.groupBy("token").agg(
            F.count(F.lit(1)).alias("exact_n")
        )
        # one aggregate feeds both partials; batch-sized, not
        # corpus-sized, so a plain in-batch persist is safe
        exact.persist()
        try:
            write_partial(exact, counts_dir, batch_id)
            write_partial(
                exact.select(
                    "exact_n", F.posexplode(cells).alias("i", "cell")
                )
                .groupBy("i", "cell")
                .agg(F.sum("exact_n").alias("cell_n")),
                cells_dir,
                batch_id,
            )
        finally:
            exact.unpersist()

    drain(
        spark,
        DOC_STREAM_SCHEMA,
        docs_dir,
        os.path.join(output_dir, "_stream_ckpt"),
        process_batch,
        max_files_per_trigger=1,
    )
    exact = (
        read_partials(spark, counts_dir, _COUNTS_SCHEMA)
        .groupBy("token")
        .agg(F.sum("exact_n").alias("exact_n"))
    )
    sketch = (
        read_partials(spark, cells_dir, _CELLS_SCHEMA)
        .groupBy("i", "cell")
        .agg(F.sum("cell_n").alias("cell_n"))
    )
    return cms_estimate(exact, sketch, candidates_k, width, depth, CMS_SEED)
