"""Streaming ingest -> curate -> append: the composed micro-batch
pipeline a training corpus actually runs at the lakehouse edge —
every arriving batch is quality-gated, deduplicated against the
PERSISTED content-hash index (not just in-stream state), and
appended to the curated corpus together with its new hashes.

Why foreachBatch and not dropDuplicatesWithinWatermark
(streaming/dedup_stream.py): the watermark variant bounds state by
evicting old keys, so a duplicate arriving after the horizon is
re-admitted. A TRAINING corpus cannot re-admit — seen-once is
forever — so the dedup key set must live on disk, not in the state
store. foreachBatch gives each micro-batch a plain DataFrame to run
the batch-tier operators on (quality_scores + incremental_dedup),
with the streaming engine still providing source tracking, trigger
scheduling, and checkpointed progress.

Failure semantics, stated exactly: foreachBatch is at-least-once —
a batch may replay after a crash mid-write. Two independent appends
(corpus, then index) would break under replay in BOTH orders: crash
between them re-admits the batch's docs (duplicate corpus rows) or
loses them (hashes committed, docs absent). So each batch writes
batch-addressed partials (`b<batch_id>/` under corpus and index,
OVERWRITE; layout and replay rule in streaming/partials.py): the
file source replays a failed batch with the identical file set (its
offsets are checkpointed before _process runs), and the anti-join
reads only the index partials of batches BEFORE this one (a failed
attempt may have left its hashes in its own b<batch_id>/; including
them would empty the survivor set and the overwrite would destroy
the docs; after a full replay with a fresh checkpoint, later
batches' hashes would do the same) — so the replay sees exactly
the pre-batch index, re-derives the identical survivor set, and the
overwrite replaces any partial output instead of appending beside
it. Batch-level idempotence from plain parquet,
no transactional table needed (Iceberg/Delta would collapse this to
a snapshot commit).

Scale shape per batch: quality gate is per-row (zero shuffle);
incremental_dedup is one intra-batch window + one anti-join whose
build side is the index scan — ONE column (the 32-hex h) read off
disk, broadcast while small, hash-joined on h at scale. Nothing
corpus-sized is held in executor state between batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .partials import drain, read_partials, write_partial

DOC_STREAM_SCHEMA = "doc_id long, text string, event_ts timestamp"

_INDEX_SCHEMA = "h string"
_CORPUS_SCHEMA = (
    "h string, doc_id long, text string, event_ts timestamp, "
    "quality double"
)
# lowest quality score a streamed document needs to be kept
INGEST_MIN_QUALITY = 0.45


def run_ingest_curation(
    spark: SparkSession, docs_dir: str, out_dir: str
) -> DataFrame:
    """Drain `docs_dir` with an availableNow trigger; per batch:
    quality-gate, dedup against <out>/index, append survivors to
    <out>/corpus and their hashes to <out>/index. Returns the
    curated corpus read back."""
    from ..operators.dedup import incremental_dedup
    from ..operators.textstats import quality_scores

    corpus_dir = os.path.join(out_dir, "corpus")
    index_dir = os.path.join(out_dir, "index")

    def _process(batch: DataFrame, batch_id: int) -> None:
        scored = quality_scores(
            batch, keep_cols=("text", "event_ts")
        ).filter(F.col("quality") >= INGEST_MIN_QUALITY)
        fresh = incremental_dedup(
            scored.select("doc_id", "text", "event_ts", "quality"),
            read_partials(
                batch.sparkSession, index_dir, _INDEX_SCHEMA, before=batch_id
            ),
        )
        # persist ONCE so corpus and index writes share the compute;
        # released before the batch returns. Batch-scoped OVERWRITE
        # dirs make a replayed batch replace its own partial output
        # (see module docstring) instead of appending duplicates.
        fresh.persist()
        try:
            write_partial(fresh, corpus_dir, batch_id)
            write_partial(fresh.select("h"), index_dir, batch_id)
        finally:
            fresh.unpersist()

    drain(
        spark,
        DOC_STREAM_SCHEMA,
        docs_dir,
        os.path.join(out_dir, "chk"),
        _process,
        max_files_per_trigger=1,
    )
    return read_partials(spark, corpus_dir, _CORPUS_SCHEMA)
