"""Streaming NEAR-duplicate ingest: every arriving micro-batch is
deduplicated against the PERSISTED LSH band index before being
appended to the corpus — the near-dup analog of
streaming/ingest_curate.py's exact content-hash gate (one-word edits
and boilerplate-suffixed recrawls slip an exact hash; this catches
them at per-batch cost).

Per-batch plan, stated exactly:
  1. exact intra-batch keep-first (md5 window — one batch-sized
     exchange),
  2. shingle+sign the batch (dedup._lsh_shingles_and_bands, shingle
     size dedup.SHINGLE_K),
  3. join the batch's (band, key) rows against the stored band index
     — candidates only where a bucket collides; per-bucket candidate
     cap bounds mega-bucket fan-out (operators/dedup.py
     neardup_ids_against_index),
  4. fetch ONLY candidate index docs' shingle rows for exact Jaccard
     verification,
  5. append survivors to <out>/corpus and their two index artifacts
     to <out>/bands (doc_id, band, key) and <out>/shingles
     (doc_id, shingles) — the tables step 3/4 read next batch.

Nothing corpus-sized is recomputed per batch: the index is READ, not
re-derived — band join cost is one co-partitioned equi-join, verify
cost is candidate-sized.

Replay semantics mirror ingest_curate.py exactly: all three writes
are batch-addressed partials (b<batch_id>/, streaming/partials.py),
and the index reads see only batches BEFORE the replaying one, so a
batch killed after any subset of its three writes re-derives the
identical survivor set against the pre-batch index and replaces its
partial output.

Intra-batch NEAR-dups (two distinct-text near-dups arriving in one
micro-batch) both survive by design — the index only holds PRIOR
batches. This is the standard batch-granularity trade (one input file
per micro-batch here); run the batch-tier pair generator
(minhash_lsh_pairs + components) as a periodic compaction pass to
close it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .partials import drain, read_partials, write_partial

DOC_STREAM_SCHEMA = "doc_id long, text string"

_BANDS_SCHEMA = "doc_id long, band int, key string"
_SH_SCHEMA = "doc_id long, shingles array<string>"


def run_neardup_ingestion(
    spark: SparkSession, docs_dir: str, out_dir: str
) -> DataFrame:
    """Drain `docs_dir` with an availableNow trigger; per batch:
    exact intra-batch dedup, near-dup anti-join against the persisted
    band index, append survivors + their band/shingle index rows.
    Returns the curated corpus read back."""
    from ..operators.dedup import (
        SHINGLE_K,
        _lsh_shingles_and_bands,
        exact_dedup_keep_first,
        neardup_ids_against_index,
        release_persisted,
    )

    corpus_dir = os.path.join(out_dir, "corpus")
    bands_dir = os.path.join(out_dir, "bands")
    sh_dir = os.path.join(out_dir, "shingles")

    def _process(batch: DataFrame, batch_id: int) -> None:
        ss = batch.sparkSession
        firsts = exact_dedup_keep_first(
            batch, keep_cols=("text",)
        ).drop("h")
        arr_b, bands_b = _lsh_shingles_and_bands(firsts, SHINGLE_K)
        dup_ids = neardup_ids_against_index(
            arr_b,
            bands_b,
            read_partials(ss, sh_dir, _SH_SCHEMA, before=batch_id),
            read_partials(ss, bands_dir, _BANDS_SCHEMA, before=batch_id),
        )
        fresh = firsts.join(dup_ids, "doc_id", "left_anti")
        # one materialization feeds all three batch-scoped writes
        fresh.persist()
        try:
            write_partial(fresh, corpus_dir, batch_id)
            arr_f, bands_f = _lsh_shingles_and_bands(fresh, SHINGLE_K)
            write_partial(bands_f, bands_dir, batch_id)
            write_partial(arr_f, sh_dir, batch_id)
        finally:
            fresh.unpersist()
            release_persisted()

    drain(
        spark,
        DOC_STREAM_SCHEMA,
        docs_dir,
        os.path.join(out_dir, "chk"),
        _process,
        max_files_per_trigger=1,
    )
    return read_partials(spark, corpus_dir, DOC_STREAM_SCHEMA)
