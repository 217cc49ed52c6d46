"""Streaming inverted-index maintenance: each micro-batch writes ITS
OWN posting-grain partial to `index/b<batch_id>/`, and the served
index is finalize_index over the union of all partials —
retrieval.merge_posting_rows lifted to the stream tier.

This completes the batch-scoped-partial algebra triple the streaming
tier documents (each op states WHY its merge is replay-safe):

  * hll_stream     — idempotent MAX-merge (replay is free);
  * cms_stream / drift_stream / agg_incremental — LINEAR sum-merge
    (replay safety from batch-addressed overwrite);
  * THIS — DISJOINT-UNION merge: posting rows are keyed (term,
    doc_id) with doc-LOCAL positions, the file source's checkpointed
    offsets make batches doc-disjoint, so partials never overlap and
    the fold is plain union (no re-aggregation of overlapping cells
    at all). Replay safety is still batch-addressed overwrite: a
    replayed batch recomputes the identical posting rows and
    REPLACES its own directory.

Unlike ingest_curate's dedup index there is no cross-batch READ at
write time (a batch's postings don't depend on what is already
indexed), so there is nothing to exclude on replay — the simple end
of the spectrum, stated so the contrast with the dedup gate's
`before=batch_id` read (streaming/partials.py) is explicit.

Scale shape per batch: posting_rows' zero-shuffle posexplode + one
(term, doc)-keyed partial+final aggregate over the BATCH, never the
already-indexed corpus. The serve-time finalize folds partial-sized
inputs. There is no compaction, so the fold width grows with the
batch count; a crash-safe compaction belongs to the batch commit
(write, then promote before the stream commits).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.retrieval import finalize_index, posting_rows
from .partials import drain, read_partials, write_partial

INDEX_STREAM_SCHEMA = "doc_id long, text string"
_POSTINGS_SCHEMA = (
    "term string, doc_id long, _plist array<int>, _n_occ long"
)


def read_index(
    spark: SparkSession,
    index_dir: str,
    min_df: int = 1,
    max_df: int = 64,
) -> DataFrame:
    """The served index: finalize over the union of batch partials.
    Doc-disjoint batches make the union itself the merge — the df
    band and posting serialization run on the folded grain."""
    td = read_partials(spark, index_dir, _POSTINGS_SCHEMA)
    return finalize_index(td, min_df=min_df, max_df=max_df)


def run_index_maintenance(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    min_df: int = 1,
    max_df: int = 64,
) -> DataFrame:
    """Drain `docs_dir` (availableNow); each micro-batch writes its
    posting-grain partial to <out>/index/b<batch_id> (overwrite —
    the batch-addressed replay contract). Returns the served index,
    which must hash-equal the ONE-PASS inverted_index over the same
    documents (the gate's oracle): the disjoint-union identity
    finalize(rows(b0) ∪ rows(b1) ∪ ...) == index(all)."""
    index_dir = os.path.join(out_dir, "index")

    def _process(batch: DataFrame, batch_id: int) -> None:
        write_partial(posting_rows(batch), index_dir, batch_id)

    drain(
        spark,
        INDEX_STREAM_SCHEMA,
        docs_dir,
        os.path.join(out_dir, "chk"),
        _process,
        max_files_per_trigger=1,
    )
    return read_index(spark, index_dir, min_df=min_df, max_df=max_df)
