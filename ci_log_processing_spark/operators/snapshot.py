"""Corpus snapshot diff — the incremental-maintenance audit between
two versions of a training corpus.

A production corpus is rebuilt (or appended) per crawl/export cycle;
before promoting snapshot B over snapshot A the pipeline wants the
exact delta: which documents appeared, disappeared, or changed
content. The reference has the same need one level down — its
checkpoint file is a "which builds has the sender already shipped"
diff against the incoming build list (logscraper.py:424-439) — this
is the corpus-level generalization.

Scale shape: each side is reduced to (doc_id, 16-byte content hash)
BEFORE the join, so the full-outer exchange carries ~24 bytes/row
instead of document text; the join key is the unique doc_id (no
skew by construction), and with both snapshots stored bucketed by
doc_id (sinks.py write_bucketed) the exchange disappears entirely.
One shuffle per side, nothing else — the same plan at 500 docs or
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def derive_snapshot_b(docs: DataFrame) -> DataFrame:
    """Deterministic 'next snapshot' of a documents table, used by
    tests/gate so corpus_diff needs no second input file:

      * doc_id % 11 == 3                   -> removed in B
      * doc_id % 7 == 2 (and not removed)  -> text gets a ' v2' suffix
      * doc_id % 13 == 5                   -> ALSO re-appears as a new
        doc (doc_id + 10_000_000, 'new ' prefix)

    Mirrored verbatim by the oracle twin (oracle_data.q_corpus_diff).
    """
    kept = docs.filter(F.col("doc_id") % 11 != 3)
    mutated = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 13 == 5).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    return mutated.select(*docs.columns).unionByName(added)


def corpus_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-document delta between corpus snapshots A and B.

    Output: (doc_id, status) with status in
    {'added', 'removed', 'changed', 'unchanged'} — B-relative, i.e.
    'added' means present only in B.

    Content equality is md5-hash equality (the repo-wide portable
    hash primitive, dedup.py:18-22); the hash is computed below the
    join so raw text never crosses the exchange.
    """
    ha = a.select(
        F.col("doc_id"),
        F.md5(F.col("text").cast("binary")).alias("_ha"),
    )
    hb = b.select(
        F.col("doc_id"),
        F.md5(F.col("text").cast("binary")).alias("_hb"),
    )
    return ha.join(hb, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def apply_cdc(base: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE/upsert application — the lakehouse write path corpus_diff
    is the read path of: apply a CDC change set (op = 'I' insert,
    'U' update, 'D' delete, with a monotone per-key sequence) onto a
    base snapshot and return the new snapshot. Iceberg/Delta MERGE
    INTO semantics without needing a catalog: last-writer-wins within
    the change set (max seq per key), deletes drop the key, upserts
    replace or add the row.

    Scale shape: one key-keyed window over the CHANGE SET (changes
    are deltas — orders of magnitude smaller than base), then one
    key-keyed anti-join of base against the touched keys and a
    union with the surviving upsert payloads. Base is never
    shuffled twice and never rewritten where untouched — exactly the
    property a 100 TB MERGE needs (at file granularity there, at row
    granularity here).

    Plan notes (verified on the executed plan): Catalyst rewrites
    the row_number-top-1 into WindowGroupLimit (per-key top-1, no
    full sort materialization), and at realistic change rates AQE
    picks a broadcast anti-join — base moves through ZERO exchanges.
    The last-writer window is evaluated once per consumer (touched
    keys + surviving payloads); both are delta-sized, so recompute
    is cheaper than managing a cache entry.
    """
    from pyspark.sql.window import Window

    payload_cols = [c for c in base.columns if c != "doc_id"]
    w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
    last = (
        changes.select(
            "doc_id", "op", "seq", *payload_cols
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = last.select("doc_id")
    kept = base.join(touched, "doc_id", "left_anti")
    applied = last.filter(F.col("op") != "D").select(
        "doc_id", *payload_cols
    )
    return kept.unionByName(applied)


def snapshot_asof(
    base: DataFrame,
    changes: DataFrame,
    as_of_seq: int,
) -> DataFrame:
    """Time-travel read: reconstruct the snapshot AS OF a sequence
    number by replaying only the change-set prefix `seq <=
    as_of_seq` through apply_cdc. The CDC log plus ONE retained base
    snapshot gives every historical version without storing them —
    the read path of Iceberg/Delta `VERSION AS OF`, at row
    granularity. Cost is identical to a current-snapshot merge: the
    seq predicate prunes the (delta-sized) change set before the
    last-writer window, and base still meets only the touched keys.
    """
    return apply_cdc(
        base,
        changes.filter(F.col("seq") <= int(as_of_seq)),
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 64 * 1024,
) -> DataFrame:
    """Small-file compaction planner — which files to rewrite
    together so each output file lands near `target_bytes` (the
    OPTIMIZE / rewrite_data_files planning step, minus the catalog).

    Binning rule: within a partition, in file-id order, a file joins
    bin `floor(cum_bytes_before / target)`. This is the running-sum
    approximation of bin packing: it is a PURE WINDOW expression (no
    sequential per-group Python — contrast pack_sequences, which
    needs applyInPandas for exact next-fit), so the whole plan is
    one partition-keyed window over the file MANIFEST, which is
    orders of magnitude smaller than the data it describes. A bin
    can overshoot the target by at most one file — acceptable for
    compaction, where the target is a heuristic, not a capacity.

    Output: (part, file_id, bytes, bin_idx) plus per-bin totals via
    a second tiny agg on the manifest.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # integer `div`, not float floor: cumulative byte counts reach
    # 2^50+ at fleet scale, past double's exact range
    return files.select(
        F.col("source").alias("part"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("bytes"),
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias(
            "_cum_before"
        ),
    ).select(
        "part",
        "file_id",
        "bytes",
        F.expr(f"_cum_before div {int(target_bytes)}").alias("bin_idx"),
    )


def compaction_summary(plan: DataFrame) -> DataFrame:
    """Per-output-bin rollup of a compaction_plan: files merged and
    resulting size — the table an operator reads to decide whether
    the rewrite is worth scheduling. One partial-agg shuffle over
    the (part, bin) key of the manifest-sized plan."""
    return plan.groupBy("part", "bin_idx").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("out_bytes"),
    )
