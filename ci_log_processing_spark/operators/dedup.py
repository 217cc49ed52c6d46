"""Deduplication operators for the training-data pipeline tier.

The reference's dedup surface is small (page-level set dedup +
checkpoint anti-join, logscraper.py:424-439/457-468); at 100 TB a
corpus engine needs content dedup. All operators below are pure
DataFrame compositions — shuffles only on hash/band keys, never on
raw text pairs:

  * exact          — md5(content) groupBy (one shuffle on a 32-hex key)
  * ngram jaccard  — 5-token shingles, inverted-index self-join on
                     shingle, intersection/union counting
  * minhash + LSH  — 16 permutations, 4 bands x 4 rows; candidate
                     generation by band-key equi-join (the only
                     strategy whose cost is ~linear at 100 TB)
  * simhash        — 32-bit majority-vote fingerprint per doc

Hash primitive: h32(s) = first 8 hex chars of md5 as int — chosen
because it evaluates identically in Spark, DuckDB and Python, which
the correctness oracle needs (Spark's xxhash64 and DuckDB's hash()
disagree). At production scale swap H32_EXPR for xxhash64 — the
plan shape is unchanged.

Caching note: ngram_jaccard_pairs / minhash_lsh_pairs /
simhash_pairs / duplicate_spans persist() an intermediate so their
verify stage reuses one corpus scan. The persisted data stays
referenced by the returned plan; call `release_persisted()` after
consuming the results to unpersist EXACTLY these intermediates, or
wrap composed calls in `with scoped_persists():` so the release is
automatic and scoped to the block (spark.catalog.clearCache() also
works but nukes unrelated cached data — the harnesses use it because
they want everything cleared between queries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---- shared primitives ------------------------------------------------

MERSENNE_P = 4294967311  # prime > 2^32; (a*h+b) stays < 2^63 for a < 2^30


# Intermediates persisted by the pair-generation operators, released
# precisely by release_persisted() — so library consumers embedding a
# single operator never have to reach for catalog-wide clearCache().
_PERSIST_REGISTRY: list[DataFrame] = []


def _register_persist(df: DataFrame) -> DataFrame:
    df.persist()
    _PERSIST_REGISTRY.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every intermediate the dedup operators persisted
    since the last call; returns the count released. Safe to call
    after the returned plans are fully consumed (an unpersisted
    intermediate recomputes, it never breaks correctness)."""
    n = 0
    while _PERSIST_REGISTRY:
        _PERSIST_REGISTRY.pop().unpersist()
        n += 1
    return n


class scoped_persists:
    """Context manager scoping the persist lifecycle for library
    consumers composing several persisting operators (srp pairs +
    shuffle index + bigram vocab …) in one long-lived session:

        with scoped_persists():
            pairs = minhash_lsh_pairs(docs).collect()
            extra = simhash_pairs(docs).collect()
        # exactly the intermediates persisted INSIDE the block are
        # now unpersisted; nothing registered before entry (or by an
        # enclosing scope) is touched, unlike catalog clearCache().

    Re-entrant: nested scopes release only their own registrations.
    Consume results inside the block — a plan collected after exit
    stays CORRECT but recomputes its released intermediates. Exits
    via exception still release (try/finally semantics)."""

    def __enter__(self) -> "scoped_persists":
        self._mark = len(_PERSIST_REGISTRY)
        return self

    def __exit__(self, *exc) -> None:
        scoped = _PERSIST_REGISTRY[self._mark:]
        del _PERSIST_REGISTRY[self._mark:]
        # one failing unpersist must not leave the rest cached:
        # release every frame, then re-raise the first error
        first = None
        for df in scoped:
            try:
                df.unpersist()
            except Exception as e:
                first = first or e
        if first is not None:
            raise first


def h32(col: Column) -> Column:
    """Deterministic 32-bit hash, identical across engines."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def shingles_col(toks: Column) -> Column:
    """Distinct SHINGLE_K-token shingles; [] when the doc has fewer
    tokens.

    Catalyst reference implementation, kept as the pure-JVM twin the
    parity test checks the Arrow path against. The per-shingle slice
    is UNROLLED into SHINGLE_K element_at arguments: inside an
    interpreted HOF lambda, Slice with a non-literal start allocates a boxed
    copy of the window at every position, and the A/B on the
    (identical-shape) decontaminate_spans flag scan measured 12.7x
    (16.0 s -> 1.26 s at 650k docs, local[32]) for exactly this
    swap. element_at reads the backing array in place — the only
    remaining allocation is the joined shingle string itself.
    """
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SHINGLE_K - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(SHINGLE_K)]
        ),
    )
    return F.when(F.size(toks) >= SHINGLE_K, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingled_docs(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingles) for every doc with >= k tokens — the ONE
    shingling entry point all LSH/Jaccard operators share.

    One mapInPandas pass builds each doc's distinct-shingle list with
    a plain Python set — profiling showed shingling IS the whole LSH
    cost (the signature/band/verify tiers are noise next to it), and
    the pure-Catalyst shingles_col expression's per-shingle
    slice+concat allocations inside interpreted lambdas measured
    13.7x slower at 600k docs. Same first-occurrence order, same set
    as shingles_col (pytest-asserted equal); downstream consumers are
    order-insensitive anyway (array_min, array_intersect, unnest).
    """
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("shingles", ArrayType(StringType())),
        ]
    )

    def _batches(it):
        import pandas as pd

        for pdf in it:
            out = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = txt.lower().split(" ")
                if len(toks) < k:
                    continue
                seen = set()
                sh = []
                for i in range(len(toks) - k + 1):
                    s = " ".join(toks[i : i + k])
                    if s not in seen:
                        seen.add(s)
                        sh.append(s)
                out.append((did, sh))
            yield pd.DataFrame(out, columns=["doc_id", "shingles"])

    return docs.select("doc_id", "text").mapInPandas(_batches, schema)


# 16 fixed (a, b) minhash permutation params (deterministic; a < 2^30)
MINHASH_PARAMS = [
    (387420489, 12345), (268435399, 54321), (536870909, 98765),
    (805306457, 13579), (134217689, 24680), (671088637, 11111),
    (402653171, 22222), (201326611, 33333), (738197503, 44444),
    (167772107, 55555), (603979769, 66666), (335544301, 77777),
    (872415231, 88888), (100663291, 99999), (469762043, 10101),
    (234881023, 20202),
]
N_BANDS = 4
ROWS_PER_BAND = 4
# shingle size of the LSH family (Jaccard, MinHash, incremental
# near-dup ingest; index bands only verify against batches shingled
# with the same k) and of shingles_col's users (overlap and Bloom
# decontamination, the leakage split)
SHINGLE_K = 5
# mega-bucket guard of the banded candidate join (see
# minhash_lsh_pairs); the DuckDB twins use the same cap
LSH_BUCKET_CAP = 64
# index ids offered per band bucket by neardup_ids_against_index
CANDIDATE_CAP = 64
# shingle Jaccard at which the Jaccard/MinHash pair operators, the
# dedup edge list and the incremental near-dup gate call a pair a
# near-duplicate
JACCARD_THRESHOLD = 0.6


# ---- operators --------------------------------------------------------


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5-groupBy; one partial-aggregated shuffle."""
    return (
        docs.select(
            F.col("doc_id"), F.md5(F.col("text").cast("binary")).alias("h")
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("copies") > 1)
    )


def exact_dedup_keep_first(
    docs: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The APPLY side of exact dedup: the surviving corpus, keeping
    the lowest doc_id of every identical-content group (training-data
    pipelines consume this, not the group report). One row_number
    window over the md5 key — a single hash-partitioned shuffle,
    same cost as the groupBy report."""
    from pyspark.sql.window import Window

    h = F.md5(F.col(text_col).cast("binary"))
    w = Window.partitionBy(h).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", *keep_cols, h.alias("h"))
    )


def incremental_dedup(
    incoming: DataFrame,
    known_hashes: DataFrame,
) -> DataFrame:
    """Ingestion-time dedup of a NEW batch against the corpus's
    persisted content-hash index (the manifest a real pipeline keeps
    alongside its lakehouse table): a document survives iff its
    md5(text) is absent from `known_hashes` AND it is the first
    occurrence inside the batch itself.

    Shape: one window over the md5 key for intra-batch keep-first,
    then a left-anti join against the index. The index side is the
    join's build input — broadcast when it fits, hash-shuffled on
    the same 32-hex key otherwise; either way the batch never
    self-joins and nothing corpus-sized is collected. Checkpoint
    anti-join (operators/checkpoint.py) is the conv-id analog of the
    same pattern; this one is content-addressed.

    `known_hashes` needs one column `h` (md5 hex). Output: the
    surviving rows of `incoming` plus their `h` — ready to append to
    both the corpus and the index.
    """
    if "h" in incoming.columns:
        # ValueError, not assert: python -O strips asserts, and a
        # colliding hash column silently dedups against garbage
        raise ValueError(
            "incoming already has an 'h' column; it would collide with "
            "the content-hash column this operator appends"
        )
    firsts = exact_dedup_keep_first(
        incoming,
        keep_cols=tuple(c for c in incoming.columns if c != "doc_id"),
    )
    return firsts.join(known_hashes.select("h"), "h", "left_anti")


# shingles held by more documents than this generate no candidates
SHINGLE_DF_CUT = 128


def _jaccard_verify(cand: DataFrame, arr: DataFrame) -> DataFrame:
    """Exact-verify candidate (doc_a, doc_b) pairs against the
    distinct-shingle arrays `arr` (doc_id, shingles): join each
    side's ARRAY onto the pair and take array_intersect — cost is
    O(|candidates|) with no shingle-level shuffle at all (the
    oracle's count(*) over matched distinct shingles is the same
    number as |array_intersect| because shingles are distinct).
    Output: (doc_a, doc_b, jaccard >= threshold), jaccard rounded
    to 6."""
    a = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("na"),
    )
    b = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("nb"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by Jaccard over distinct SHINGLE_K-token shingles.

    Two-phase shape that survives natural text at 100 TB:

      1. CANDIDATE GENERATION over the inverted index restricted to
         shingles with document frequency <= SHINGLE_DF_CUT. Without
         the cut, one stop-shingle appearing in f docs creates f^2
         candidate pairs — quadratic blow-up on exactly the corpora
         dedup is for. With it, per-shingle fan-out is bounded by
         SHINGLE_DF_CUT^2.
      2. EXACT VERIFY of candidates only: join each side's distinct
         shingle ARRAY and compute true Jaccard via array_intersect
         (all shingles, including frequent ones, count here — the
         cut only gates which pairs get looked at).

    Recall impact: a pair is missed only when EVERY shingle it
    shares has df > SHINGLE_DF_CUT; near-duplicates at jaccard >=
    JACCARD_THRESHOLD
    share most of their shingles, which are overwhelmingly rare, so
    recall loss is negligible (and zero on the oracle-checked corpus —
    the DuckDB twin implements the identical rule).
    """
    arr = shingled_docs(docs, SHINGLE_K)
    sh = arr.select("doc_id", F.explode("shingles").alias("s"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CUT)
        .select("s")
    )
    idx = sh.join(rare, "s", "left_semi")
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _jaccard_verify(cand, arr)


def minhash_signatures(arr: DataFrame) -> DataFrame:
    """(doc_id, sig) from shingle arrays (doc_id, shingles): the
    minhash signature array, ordered by permutation id.

    Fully map-side: shingle-hash the doc's shingle array once, then
    each permutation is an `array_min(transform(...))` over that
    array — 16 codegen'd expressions per row, ZERO shuffles and no
    16x row blowup (the previous explode+groupBy shape shuffled
    |shingles| x 16 rows twice; at 100 TB that shuffle dominates the
    whole job). Docs with no shingles (fewer tokens than the shingle
    width) are excluded, matching the oracle's semantics where they
    never appear in `sh`.
    """
    hashed = arr.select("doc_id", F.transform("shingles", h32).alias("hs"))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    "hs", lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P
                )
            )
            for a, b in MINHASH_PARAMS
        ]
    )
    return hashed.select("doc_id", sig.alias("sig"))


def _banded_candidate_pairs(
    bands: DataFrame, bucket_cap: int | None
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs from an LSH band table
    (doc_id, band, key) WITHOUT a self-join: group docs per
    (band, key) bucket and emit intra-bucket pairs from the sorted
    doc list — one shuffle on the band key, signature lineage
    evaluated exactly once (a self-join would evaluate it twice).
    Shared by the verify (minhash_lsh_pairs) and estimate
    (minhash_estimate_pairs) tails so cap/pair semantics cannot
    drift between them."""
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if bucket_cap is not None:
        # Split oversize buckets AFTER the aggregate with pure array
        # ops on the (bucket-count-sized) rows: nsub = ceil(n/cap),
        # member d goes to sub-bucket h32(d) % nsub — the exact rule
        # the oracle implements. Doing it post-collect (rather than a
        # pre-aggregation count window) keeps the groupBy's map-side
        # partial collect_list and adds no window sort: measured ~2x
        # on the sf0.1 bench when the window variant forced the full
        # bands exchange first. Per-row memory stays O(bucket), the
        # same bound the uncapped collect already had; the explode
        # then bounds PAIR count at ~cap^2 per sub-bucket.
        nsub = F.ceil(F.size("ds") / F.lit(float(bucket_cap))).cast(
            "long"
        )
        subs = F.when(
            F.size("ds") <= bucket_cap, F.array(F.col("ds"))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0).cast("long"), nsub - 1),
                lambda s: F.filter(
                    F.col("ds"),
                    lambda d: F.pmod(h32(d.cast("string")), nsub) == s,
                ),
            )
        )
        buckets = buckets.select(
            "band", "key", F.explode(subs).alias("ds")
        ).filter(F.size("ds") > 1)
    # Pair expansion in two explode steps so no single row ever holds
    # more than O(bucket) values: first posexplode the bucket into one
    # row per ANCHOR doc (carrying the bucket array), then explode each
    # anchor's strict suffix into (doc_a, doc_b) rows. A hot bucket of
    # n docs — mass-duplicate corpora are exactly the LSH workload —
    # peaks at n values per row instead of the n(n-1)/2 structs the
    # previous single-row flatten built (one-task OOM at scale).
    anchors = buckets.select(
        "ds", F.posexplode("ds").alias("i", "doc_a")
    ).filter(F.col("i") < F.size("ds") - 1)
    return (
        anchors.select(
            "doc_a",
            F.explode(
                F.slice(
                    F.col("ds"), F.col("i") + 2, F.size("ds") - F.col("i") - 1
                )
            ).alias("doc_b"),
        )
        .distinct()
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup pairs scored by the SIGNATURE ESTIMATE
    instead of an exact-Jaccard verify: est = (matching signature
    components) / 16, the unbiased MinHash estimator (Broder 1997).

    This is the shape a 100 TB dedup runs when the verify join is
    the budget problem: the estimate needs only the two 16-int
    signatures already materialized for banding — the corpus
    shingle arrays are NEVER re-joined onto candidates, so the pair
    tail touches 128 bytes per side instead of every shingle string.
    The trade is variance (sd ~ sqrt(j(1-j)/16) ~ 0.125 at j = 0.5)
    and estimate granularity 1/16; minhash_lsh_pairs is the exact
    twin sharing the identical candidate generation
    (_banded_candidate_pairs), so recall differences between the two
    are pure estimator error, measurable side by side.

    Output: (doc_a, doc_b, n_equal, est_jaccard) at est >= threshold;
    est_jaccard = n_equal/16 is exact in both engines (n_equal is an
    integer, /16 a power-of-two division).

    The signature table (doc_id, 16 ints — 128 B/doc) is PERSISTED
    and is the only thing banding and both join sides read: ONE
    shingle+sign pass total instead of three. That cached table is
    exactly the artifact a production minhash system materializes;
    before this, each of the three consumers re-ran the
    shingle+permute lineage and the "cheap" estimator measured
    SLOWER than the verify path (4.2 s vs 2.5 s at sf0.1; 2.8 s
    after — the residual gap at this tiny SF is the persist
    materialization, which amortizes as |shingles| grows while the
    3x recompute it replaces does not).
    """
    sigs = _register_persist(
        minhash_signatures(shingled_docs(docs, SHINGLE_K))
    )
    cand = _banded_candidate_pairs(_bands_from_sigs(sigs), LSH_BUCKET_CAP)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    n_eq = F.size(
        F.filter(
            F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_eq.alias("n_equal"),
            (n_eq / F.lit(float(len(MINHASH_PARAMS)))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """MinHash-LSH candidate pairs, verified by true Jaccard.

    Banding: 4 bands x 4 rows; same md5(band values) in any band ->
    candidate. Candidates are then exact-verified (the standard
    LSH-then-verify contract), so output == jaccard >=
    JACCARD_THRESHOLD
    among banded candidates.

    LSH_BUCKET_CAP is the MEGA-BUCKET guard (same deterministic rule
    as similarity.embedding_near_dup_pairs_capped): a (band, key)
    bucket of n docs otherwise emits n(n-1)/2 candidate rows, and a
    bucket of near-identical boilerplate — exactly the LSH workload —
    makes that quadratic. Buckets larger than the cap are split into
    ceil(n / cap) sub-buckets by hashing doc_id, and pairs are only
    generated inside a sub-bucket: expected per-cell cost ~cap^2
    regardless of skew. Recall trade, stated plainly: pairs straddling
    two sub-buckets of one bucket are dropped IN THAT BAND — they stay
    candidates wherever any of the other bands agrees, and LSH recall
    is probabilistic to begin with. The DuckDB oracle implements the
    identical rule so the loss is measured, not hidden; buckets at or
    under the cap are unaffected.
    """
    # the Arrow shingler is cheap enough that recomputing `arr` for
    # the band path and the verify path beats caching corpus-sized
    # string arrays (see shingled_docs)
    arr, bands = _lsh_shingles_and_bands(docs, SHINGLE_K)
    cand = _banded_candidate_pairs(bands, LSH_BUCKET_CAP)
    return _jaccard_verify(cand, arr)


def _lsh_shingles_and_bands(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared shingle/signature/band derivation of the LSH family
    (minhash_lsh_pairs, the incremental near-dup path, fuzzy
    decontamination): returns (arr, bands) where arr = (doc_id,
    shingles), unpersisted (it feeds both banding and verify, and
    the Arrow shingler is cheaper to recompute than to cache), and
    bands = (doc_id, band, key). One MINHASH_PARAMS / N_BANDS /
    ROWS_PER_BAND derivation, so index bands written by one release
    verify against batches from another."""
    arr = shingled_docs(docs, k)
    return arr, _bands_from_sigs(minhash_signatures(arr))


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from a signature table —
    the ONE band-key definition (md5 over each signature slice),
    shared by the shingle-side derivation above and the
    signature-table path (minhash_estimate_pairs) so bucketing can
    never drift between them."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        F.slice(
                            F.col("sig"),
                            b * ROWS_PER_BAND + 1,
                            ROWS_PER_BAND,
                        ).cast("array<string>"),
                    )
                ),
            )
        ).alias("band", "key"),
    )


def incremental_minhash_dedup(
    batch: DataFrame, index_docs: DataFrame
) -> DataFrame:
    """NEAR-duplicate analog of incremental_dedup: a new batch is
    deduplicated against the ALREADY-INGESTED corpus — a batch doc
    is dropped iff some index doc shares an LSH band bucket with it
    AND true shingle-Jaccard >= JACCARD_THRESHOLD. This is the
    ingestion-time
    near-dup gate a training pipeline runs on every arriving shard
    (exact-hash incremental_dedup misses one-word edits; this
    catches them at the same per-batch cost shape).

    Production shape, stated exactly: the index side's (doc_id,
    band, key) rows and shingle arrays are PERSISTED artifacts,
    appended per batch exactly like incremental_dedup's content-hash
    index — deriving them here from `index_docs` is the test
    harness, not the plan. Per batch the cost is: one scan of the
    batch (shingle+sign), one join against the band index
    co-partitioned on the band key, and a verify join that touches
    only candidate index docs' shingle rows.

    CANDIDATE_CAP bounds the mega-bucket blow-up (the boilerplate
    bucket where thousands of index docs share a band key): per
    (band, key) bucket only the CANDIDATE_CAP smallest index doc_ids are
    offered as candidates — existence is all the anti-join needs, so
    losing the 65th near-identical candidate only matters if the
    first 64 all fail verification (band-collided non-dups), a
    recall trade the oracle twin reproduces exactly.

    Output: the surviving batch rows (all batch columns).
    """
    arr_b, bands_b = _lsh_shingles_and_bands(batch, SHINGLE_K)
    arr_i, bands_i = _lsh_shingles_and_bands(index_docs, SHINGLE_K)
    dup_ids = neardup_ids_against_index(arr_b, bands_b, arr_i, bands_i)
    return batch.join(dup_ids, "doc_id", "left_anti")


def neardup_ids_against_index(
    arr_b: DataFrame,
    bands_b: DataFrame,
    arr_i: DataFrame,
    bands_i: DataFrame,
) -> DataFrame:
    """Core of the incremental near-dup gate, taking the index side
    as PRECOMPUTED artifacts — (doc_id, shingles) and (doc_id, band,
    key) — exactly the two tables a production pipeline persists per
    ingested batch (streaming/neardup_ingest.py stores them; the
    batch entry point incremental_minhash_dedup derives them from
    raw index docs as its test harness). Returns the batch doc_ids
    with a verified near-dup in the index.

    Cap rule is shared with incremental_minhash_dedup: per (band,
    key) bucket only the CANDIDATE_CAP smallest index ids are
    offered; the cap is applied INSIDE the bucket aggregate so pair
    fan-out is bounded at |batch-in-bucket| * cap."""
    idx_buckets = bands_i.groupBy("band", "key").agg(
        F.slice(
            F.sort_array(F.collect_list("doc_id")), 1, CANDIDATE_CAP
        ).alias("idx")
    )
    cand = (
        bands_b.join(idx_buckets, ["band", "key"])
        .select("doc_id", F.explode("idx").alias("idx_id"))
        .distinct()
    )
    a = arr_b.select(
        F.col("doc_id"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("na"),
    )
    b = arr_i.select(
        F.col("doc_id").alias("idx_id"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("nb"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_id")
        .join(b, "idx_id")
        .withColumn("inter", inter)
        .filter(
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast(
                    "double"
                ),
                6,
            )
            >= JACCARD_THRESHOLD
        )
        .select("doc_id")
        .distinct()
    )


def exact_star_edges(docs: DataFrame) -> DataFrame:
    """Exact-duplicate edges as a STAR (group-min doc_id -> member),
    not a clique: a group of n identical docs contributes n-1 edges
    instead of n(n-1)/2, which is what keeps the edge list linear in
    corpus size when a boilerplate page repeats millions of times.
    Components over star edges equal components over the clique."""
    from pyspark.sql.window import Window

    h = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(h)
    return (
        docs.select(
            F.min("doc_id").over(w).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )


def _persistent_ids(sc):
    lst = sc._jsc.sc().getPersistentRDDs().toList()
    return {lst.apply(i)._1(): lst.apply(i)._2() for i in range(lst.size())}


def _checkpoint(df: DataFrame):
    """localCheckpoint + handles to the newly pinned RDDs, so an
    iterative loop can free superseded rounds deterministically
    (Dataset.unpersist does NOT release checkpoint blocks)."""
    sc = df.sparkSession.sparkContext
    before = set(_persistent_ids(sc))
    out = df.localCheckpoint()
    fresh = {
        rid: rdd
        for rid, rdd in _persistent_ids(sc).items()
        if rid not in before
    }
    return out, fresh


def _release(fresh) -> None:
    for rdd in fresh.values():
        rdd.unpersist(False)


# propagation rounds duplicate_components runs before it gives up
COMPONENTS_MAX_ITER = 25


def duplicate_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components over a duplicate-pair edge list — the
    step that turns pairwise dedup output (exact / minhash / simhash
    pairs) into keep-drop decisions: one component = one duplicate
    cluster, keeper = min doc_id.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; rounds = graph
    diameter. Duplicate graphs are unions of stars and near-cliques
    (LSH buckets pair every member with the same anchors), so
    diameter is small and 2-3 rounds converge; for adversarial
    chain-shaped graphs the alternating small-star/large-star
    algorithm (Kiveris et al., "Connected Components in MapReduce",
    SoCC'14) drops rounds to O(log^2 n) with the same per-round
    plan shape (groupBy-min on node id).

    Each round is one shuffle (groupBy node). Convergence is
    detected by sum(label): labels only ever decrease, so the sum
    is strictly monotone until the fixed point — one cheap global
    aggregate per round instead of a join against the previous
    labels. If COMPONENTS_MAX_ITER rounds pass without reaching the fixed
    point the result would be silently wrong (one cluster split
    into several, extra keepers), so the operator RAISES instead.

    Each round's labels are localCheckpoint()ed, which TRUNCATES
    the logical plan — persist() alone is not enough for iterative
    algorithms, because the un-truncated plan still nests per round
    and by ~10 rounds merely FORMATTING it for AQE's plan update
    OOMs the driver (observed on a 10-node path graph). And because
    Dataset.unpersist() does NOT free localCheckpoint blocks (they
    are RDD-level caches, invisible to the cache manager — verified
    empirically), each superseded round's RDD is unpersisted
    through SparkContext.getPersistentRDDs; without that, executor
    storage grows by O(|nodes|) per round. Only the final round's
    blocks remain, released when the returned DataFrame is GC'd.

    Per-round wall times at 8M and 24M nodes are in BASELINE.md,
    "Round 2: training-data-tier scaling (600k synthetic docs)".

    Returns (doc_id, component, is_keeper).
    """
    edges0 = pairs.select("doc_a", "doc_b")
    edges = (
        edges0.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .unionAll(
            edges0.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels, labels_rdds = _checkpoint(
        nodes.select(
            F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
        )
    )
    # decimal sum: at 10^12-node scale a long sum of doc_ids can
    # overflow, which ANSI turns into a crash mid-maintenance
    lbl_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(lbl_sum).collect()[0][0]
    converged = False
    for _ in range(COMPONENTS_MAX_ITER):
        nb = edges.join(labels, edges["dst"] == labels["node"]).select(
            edges["src"].alias("node"), "label"
        )
        new_labels, new_rdds = _checkpoint(
            labels.unionAll(nb)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_sum = new_labels.agg(lbl_sum).collect()[0][0]
        _release(labels_rdds)
        labels, labels_rdds = new_labels, new_rdds
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        _release(labels_rdds)
        raise RuntimeError(
            "duplicate_components did not converge in "
            f"{COMPONENTS_MAX_ITER} rounds (graph diameter exceeds it); "
            "chain-shaped graphs need a small-star/large-star formulation"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def dedup_pair_edges(corpus: DataFrame, spark: SparkSession) -> DataFrame:
    """The canonical dedup edge list: exact-duplicate star edges
    unioned with verified minhash-LSH near-dup pairs. Shared by the
    components gate queries, the bench, and the scaling worker so
    the edge definition cannot drift between them."""
    return (
        exact_star_edges(corpus)
        .unionAll(minhash_lsh_pairs(corpus, spark).select("doc_a", "doc_b"))
        .distinct()
    )


def dedup_keep_best(corpus: DataFrame, spark: SparkSession) -> DataFrame:
    """Duplicate-cluster resolution keeping the BEST document per
    component — highest heuristic quality score, doc_id tie-break —
    instead of duplicate_components' lowest-id rule. This is the
    selection real curation wants when near-duplicates differ in
    quality (a page with boilerplate vs its clean twin score
    differently; min-id picks arbitrarily).

    Scale shape on top of the shared component machinery: quality is
    a per-row expression (zero shuffle), joined to the component
    labels on doc_id (hash join, same key space), then ONE
    component-keyed row_number window picks the survivor. Adds one
    join + one window exchange to the components cost — nothing
    quadratic, nothing collected.

    Output: (doc_id, component, quality, is_best).
    """
    from .textstats import quality_scores

    pairs = dedup_pair_edges(corpus, spark)
    comps = duplicate_components(pairs, corpus.select("doc_id"))
    q = quality_scores(corpus).select("doc_id", "quality")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        comps.join(q, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "quality",
            (F.col("_rn") == 1).alias("is_best"),
        )
    )


# O(log^2 n) rounds: 40 covers any graph this operator will meet
STAR_MAX_ROUNDS = 40


def duplicate_components_star(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — O(log^2 n) rounds on ANY graph shape,
    where plain min-label propagation (duplicate_components) needs
    diameter rounds and is the better choice only for the
    star/near-clique graphs dedup usually produces.

    Per round: each phase is a groupBy-min on the node key plus a
    join back on that key and a distinct — a BOUNDED handful of
    hash-key exchanges per round (measured: ~11 for the composed
    large+small round; Catalyst does NOT reuse the aggregate's
    exchange for the join's probe side). The constant factor per
    round is therefore higher than plain propagation's single
    shuffle — the win is round COUNT (log^2 vs diameter), so prefer
    `duplicate_components` on star/near-clique dedup graphs and
    this on long-chain ones. No per-node neighbor list is ever
    materialized in a single row, so a hot node cannot OOM a task.
    Rounds are localCheckpoint()ed and superseded checkpoints freed,
    same as the propagation variant. Convergence = the oriented edge
    set's (count, bit_xor-of-hashes) signature repeating.

    Returns (doc_id, component, is_keeper) — identical contract and
    output to duplicate_components.
    """

    def large_star(e):
        # undirected neighborhoods: both orientations of every edge
        nbrs = e.unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e):
        # orient every edge large -> small, then hang each node's
        # smaller neighbors (and itself) off its minimum neighbor
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        hang = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return (
            hang.unionAll(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(e):
        # bit_xor, not sum: xxhash64 sums overflow long under ANSI,
        # and xor is order-independent + overflow-free (edges are
        # distinct, so xor is a faithful set signature)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    edges, edges_rdds = _checkpoint(
        pairs.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ).filter(F.col("u") != F.col("v"))
    )
    prev_sig = None
    converged = False
    for _ in range(STAR_MAX_ROUNDS):
        new_edges, new_rdds = _checkpoint(small_star(large_star(edges)))
        sig = signature(new_edges)
        _release(edges_rdds)
        edges, edges_rdds = new_edges, new_rdds
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        _release(edges_rdds)
        raise RuntimeError(
            "duplicate_components_star did not converge in "
            f"{STAR_MAX_ROUNDS} rounds"
        )
    # fixed point: edges are (member -> component-min) stars
    members = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )
    singletons = nodes.join(
        edges.select(F.col("u").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("component"))
    return members.unionAll(singletons).select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_keeper"),
    )


# span length, in tokens, that duplicate_spans reports repeats of
DUP_SPAN_K = 20


def duplicate_spans(docs: DataFrame) -> DataFrame:
    """Substring-level exact dedup report (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", 2022): find every
    DUP_SPAN_K-token span occurring MORE THAN ONCE anywhere in the corpus and
    merge each document's flagged positions into maximal intervals —
    the per-doc excision plan span-level dedup applies before
    training. All occurrences are flagged; keep-one policies are the
    caller's (the paper itself excises every copy).

    Shape: positional k-shingles (posexplode, NOT distinct — the
    position matters), persisted so the count build side and the
    semi-join probe side share ONE tokenize+slice+md5 pass (the
    same single-scan contract as minhash_lsh_pairs); then a
    partial-aggregated count shuffle on md5(span) (a 32-hex key;
    the raw 20-token string never shuffles), the semi-join, and a
    doc-keyed window doing gaps-and-islands interval merging: an
    island starts where pos exceeds prev_end + 1, so touching
    intervals merge and the output intervals are maximal. Cost:
    three key shuffles (span-key agg, span-key join, doc-key
    window), all on bounded-width keys.

    Output: (doc_id, n_spans, n_dup_tokens) — merged duplicate
    intervals per doc and the token count they cover. Docs with no
    duplicated span are absent.
    """
    from pyspark.sql.window import Window

    # tokens materialized in their own projection — slicing the
    # split() expression inside the interpreted lambda re-tokenizes
    # the doc at every position, O(len^2) (see curation._bigram_buckets)
    toks = F.col("_lt")
    n = F.size(toks)
    # explicit short-doc guard: sequence(1, 0) DESCENDS in Spark
    # (it would yield [1, 0], then slice(_, 0, _) throws)
    spans = F.when(
        n >= DUP_SPAN_K,
        F.transform(
            F.sequence(F.lit(1), n - (DUP_SPAN_K - 1)),
            # slice unrolled into k element_at args — interpreted
            # Slice with a lambda-var start allocates a boxed window
            # copy per position (12.7x measured; see shingles_col).
            # Same joined string -> same md5 -> same oracle key.
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + j) for j in range(DUP_SPAN_K)],
                ).cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = _register_persist(
        docs.select(
            "doc_id", tokens_col(F.col("text")).alias("_lt")
        ).select("doc_id", F.posexplode(spans).alias("pos", "h"))
    )
    dup = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    flagged = pos.join(dup, "h", "left_semi")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + (DUP_SPAN_K - 1)).over(w)
    islands = flagged.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1, 1
        )
        .otherwise(0)
        .alias("is_start"),
    ).select(
        "doc_id",
        "pos",
        F.sum("is_start")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("island"),
    )
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + (DUP_SPAN_K - 1)).alias("e"),
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_dup_tokens"),
    )


SIMHASH_BITS = 32
# simhash_pairs' bit-slices; SIMHASH_BITS % SIMHASH_BANDS == 0, so the
# bands cover the whole fingerprint
SIMHASH_BANDS = 4


def simhash_col(toks: Column) -> Column:
    """SIMHASH_BITS-bit SimHash over distinct tokens as one expression.

    bit_i(doc) = 1 iff sum over tokens of (+1 if token-hash bit i
    set else -1) > 0; computed with aggregate() over the token
    array — no Python, no shuffle at all (per-row expression).
    """
    toks_d = F.array_distinct(toks)
    hashes = F.transform(
        toks_d,
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10
        ).cast("long"),
    )
    terms = []
    for i in range(SIMHASH_BITS):
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        terms.append(
            F.when(vote > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", simhash_col(tokens_col(F.col("text"))).alias("simhash")
    )


# largest fingerprint Hamming distance simhash_pairs reports; the
# pigeonhole guarantee needs it below SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3


def simhash_pairs(docs: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, found WITHOUT an
    all-pairs comparison.

    Banding with the pigeonhole guarantee: split the fingerprint
    into SIMHASH_BANDS equal bit-slices; any pair within Hamming
    distance <= SIMHASH_BANDS - 1 must agree EXACTLY on at least one slice, so
    candidates are generated by an equi-join on (band, slice value)
    — one shuffle on a small integer key, cost tracks duplicate
    density, never |docs|^2. Candidates are then verified with
    bit_count(xor) <= SIMHASH_MAX_HAMMING (exact, no false positives;
    recall is total because SIMHASH_MAX_HAMMING <= SIMHASH_BANDS - 1).

    `bucket_cap` (default None = off) applies the same deterministic
    mega-bucket sub-split as minhash_lsh_pairs to each (band, key)
    bucket. It is OPT-IN here because it trades away the total-recall
    pigeonhole guarantee this operator otherwise carries: a pair whose
    agreeing band lands its two docs in different sub-buckets is lost
    unless another band also agrees. Turn it on for corpora where one
    fingerprint value concentrates (all-identical boilerplate), where
    the uncapped join cell is quadratic.
    """
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_w) - 1
    fps = _register_persist(simhash_fingerprints(docs))
    bands = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * band_w).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    join_keys = [
        F.col("a.band") == F.col("b.band"),
        F.col("a.key") == F.col("b.key"),
    ]
    if bucket_cap is not None:
        # same zero-extra-exchange shape as minhash_lsh_pairs: the
        # window's (band, key) hash exchange co-locates (band, key,
        # sub) for the equi-join below
        wn = Window.partitionBy("band", "key")
        nsub = F.ceil(
            F.count(F.lit(1)).over(wn) / F.lit(float(bucket_cap))
        ).cast("long")
        bands = bands.withColumn(
            "sub", F.pmod(h32(F.col("doc_id").cast("string")), nsub)
        )
        join_keys.append(F.col("a.sub") == F.col("b.sub"))
    a = bands.alias("a")
    b = bands.alias("b")
    cond = join_keys[0]
    for jk in join_keys[1:]:
        cond = cond & jk
    return (
        a.join(b, cond & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: hamming is a function of the pair,
        # so the output is identical, but the dedup exchange now only
        # carries surviving pairs instead of every band collision
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# content-defined chunking: the hashed window, in chars, and the
# modulus whose zero residue cuts a chunk (expected chunk length)
CDC_WINDOW = 8
CDC_DIVISOR = 16


def cdc_chunk_stats(docs: DataFrame) -> DataFrame:
    """Content-defined-chunking dedup: how much of each document is
    byte-identical to SOME other document, robust to insertions.

    Fixed-offset chunking (chunk_documents) breaks on a one-char
    insertion — every downstream chunk shifts and nothing matches.
    CDC cuts where the content itself says to: a boundary lands
    after position i whenever the hash of the CDC_WINDOW-char slice
    ending at i is ≡ 0 (mod CDC_DIVISOR), so an edit only perturbs
    the chunks it touches and identical regions re-align on the
    next content-chosen cut (the dedup trick behind LBFS/restic/
    casync storage and near-identical-page dedup in crawl corpora).
    Expected chunk length ≈ CDC_DIVISOR chars.

    The boundary predicate here depends ONLY on the w-char window —
    not on previous cuts (no min/max chunk clamp) — which keeps it a
    pure per-position expression both engines evaluate identically
    (h32 of the window, dedup.py:18-22). Production variant: the
    same plan with a gear/rolling hash inside an Arrow mapInPandas
    kernel (one pass instead of w hash bytes per position); the
    md5-window form is the portable twin-exact formulation and the
    shuffle story is identical.

    Scale shape: boundary detection + slicing is per-row expression
    work (zero shuffle, embarrassingly parallel); then ONE
    chunk-hash partial-aggregated shuffle for document frequency and
    one co-partitioned join back (same key — AQE reuses the
    exchange). No pair joins, nothing quadratic.

    Output: (doc_id, n_chunks, shared_chunks, shared_chars) where
    'shared' counts chunks whose content occurs in >1 distinct doc.
    """
    text = F.col("text")
    n = F.length(text)
    # boundary AFTER char i (1-based), i in [window, n-1]: the end
    # position n is always a boundary and is appended separately
    cuts = F.when(
        n - 1 >= F.lit(CDC_WINDOW),
        F.filter(
            F.sequence(F.lit(CDC_WINDOW), n - 1),
            lambda i: F.pmod(
                h32(text.substr(i - F.lit(CDC_WINDOW - 1), F.lit(CDC_WINDOW))),
                F.lit(CDC_DIVISOR),
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.concat(F.array(F.lit(0)), cuts, F.array(n))
    chunks = F.transform(
        F.sequence(F.lit(0), F.size(bounds) - 2),
        lambda j: text.substr(
            F.element_at(bounds, j + 1) + 1,
            F.element_at(bounds, j + 2) - F.element_at(bounds, j + 1),
        ),
    )
    exploded = _register_persist(
        docs.select("doc_id", F.explode(chunks).alias("_c"))
        .filter(F.length("_c") > 0)
        .select(
            "doc_id",
            F.md5(F.col("_c").cast("binary")).alias("_h"),
            F.length("_c").alias("_len"),
        )
    )
    freq = exploded.groupBy("_h").agg(
        F.count_distinct("doc_id").alias("_nd")
    )
    shared = F.col("_nd") > 1
    return (
        exploded.join(freq, "_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(shared, 1).otherwise(0)).alias("shared_chunks"),
            F.sum(F.when(shared, F.col("_len")).otherwise(0)).alias(
                "shared_chars"
            ),
        )
    )


# winnowing's gram length k (tokens) and frame width (grams)
WINNOW_K = 4
WINNOW_WINDOW = 4


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS local fingerprinting scheme): hash every
    WINNOW_K-token gram, slide a WINNOW_WINDOW-wide frame over the
    hash sequence, and keep the RIGHTMOST MINIMUM of each frame.
    Guarantees: any shared run of WINNOW_WINDOW+WINNOW_K-1 tokens
    yields at least one shared fingerprint (no blind spots, unlike
    minhash which is whole-doc), while storing only
    ~2/(WINNOW_WINDOW+1) of the grams — the index stays a
    constant fraction of corpus size however long documents get.

    The rightmost-min rule is the tie-breaker that makes the
    selection position-stable under edits; it is expressed as a
    left-to-right fold (replace when <=) so both engines reproduce
    the identical fingerprint set — Spark aggregate() over the frame
    positions with the frame start as init, DuckDB list_reduce over
    the same list (whose first element is the init).

    Degenerate docs: fewer than WINNOW_K tokens -> no grams -> empty set;
    fewer hashes than the window -> every hash is selected (the
    whole doc is one frame).

    Expression-shape note (the difference between 0.05 s/doc and
    5 ms/corpus-partition): the token array and the k-gram hash
    array are LET-BOUND as lambda variables of a transform over a
    one-element array. Referencing them as plain select columns lets
    CollapseProject inline the producing expression into every
    element_at site inside the interpreted HOF fold — re-deriving
    the whole m-element md5 array per frame position, O(m^2 * w)
    md5s per document (measured: 500 short docs did not finish in
    400 s; the bound form runs them in seconds). A lambda variable
    is evaluated once per outer element, i.e. exactly once.

    Scale shape: per-row array expressions only — zero shuffle; the
    O(m*WINNOW_WINDOW) element_at fold is the Catalyst-twin reference
    formulation (a monotone-deque mapInPandas kernel is the
    single-pass production variant, same output by construction).
    Output: (doc_id, fps array<long>, n_fps).
    """
    def _kgrams(tv):
        m = F.size(tv) - F.lit(WINNOW_K - 1)
        return F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: h32(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(tv, i + F.lit(off))
                            for off in range(WINNOW_K)
                        ],
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))

    def _select(kgv):
        mm = F.size(kgv)
        all_pos = F.when(mm >= 1, F.sequence(F.lit(1), mm)).otherwise(
            F.array().cast("array<int>")
        )
        # rightmost min of each frame: fold left->right over the
        # frame positions with the frame start as init, replace on
        # <= (a later equal hash wins — the MOSS rule)
        sel = F.when(
            mm >= F.lit(WINNOW_WINDOW),
            F.transform(
                F.sequence(F.lit(1), mm - F.lit(WINNOW_WINDOW - 1)),
                lambda j: F.aggregate(
                    F.sequence(j + 1, j + F.lit(WINNOW_WINDOW - 1)),
                    j,
                    lambda acc, p: F.when(
                        F.element_at(kgv, p) <= F.element_at(kgv, acc),
                        p,
                    ).otherwise(acc),
                ),
            ),
        ).otherwise(all_pos)
        return F.array_distinct(
            F.transform(
                F.array_distinct(sel), lambda p: F.element_at(kgv, p)
            )
        )

    kg = F.flatten(
        F.transform(F.array(tokens_col(F.col("text"))), _kgrams)
    )
    fps = F.flatten(F.transform(F.array(kg), _select))
    return docs.select("doc_id", fps.alias("fps")).select(
        "doc_id", "fps", F.size("fps").alias("n_fps")
    )


# containment, in thousandths, at which winnow_pairs reports a pair
WINNOW_OVERLAP_MILLI = 400


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint overlap — the MOSS
    report: candidate pairs from the fingerprint inverted index
    (df-cut bounded, same quadratic-blow-up guard as
    ngram_jaccard_pairs), verified exactly on the full fingerprint
    arrays. Overlap is containment — shared / min(|A|, |B|) — in
    integer milli units (exact `div`), so a small doc wholly pasted
    into a large one scores 1000 even though Jaccard would dilute
    it; that asymmetry is why plagiarism/provenance tooling uses
    containment.

    Scale: the inverted index carries only the winnowed
    ~2/(WINNOW_WINDOW+1) fraction of grams (vs EVERY gram in
    ngram_jaccard's index) — same two-phase plan, index an order
    smaller.
    Output: (doc_a, doc_b, n_shared, overlap_milli).
    """
    arr = _register_persist(
        winnow_fingerprints(docs).filter(F.col("n_fps") > 0)
    )
    fp = arr.select("doc_id", F.explode("fps").alias("fp"))
    rare = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CUT)
        .select("fp")
    )
    idx = fp.join(rare, "fp", "left_semi")
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    av = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fps").alias("_fa"),
        F.col("n_fps").alias("_na"),
    )
    bv = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fps").alias("_fb"),
        F.col("n_fps").alias("_nb"),
    )
    shared = F.size(F.array_intersect(F.col("_fa"), F.col("_fb")))
    return (
        cand.join(av, "doc_a")
        .join(bv, "doc_b")
        .select(
            "doc_a", "doc_b", shared.alias("n_shared"), "_na", "_nb"
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr(
                "(n_shared * 1000) div least(_na, _nb)"
            ).alias("overlap_milli"),
        )
        .filter(F.col("overlap_milli") >= WINNOW_OVERLAP_MILLI)
    )


def cross_source_dup_matrix(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Cross-source duplication matrix: label a duplicate-PAIR table
    (any of this module's pair generators — exact, minhash, ngram
    jaccard, simhash, winnowing) with each side's corpus source and
    count pairs per unordered (source_a, source_b) cell. The mixture
    diagnostic every multi-source pretraining corpus needs: "how much
    of source A is a near-copy of source B" decides which source's
    copy survives dedup and how much unique mass each source really
    contributes (cf. overlap audits in Gao 2020 'The Pile' app. C).

    The cell is canonicalized with least/greatest so (A,B) and (B,A)
    accumulate together; the diagonal counts intra-source pairs.

    Scale shape: two doc-keyed joins of the pair table against the
    (doc_id, source) projection — pair-sized shuffles on the same
    key the pair generators already shuffle on — then a partial-
    aggregated rollup onto a |sources|^2-bounded matrix. Nothing
    corpus-sized crosses the network after the joins; the matrix
    itself is broadcast-trivial.
    """
    meta_a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("_ga")
    )
    meta_b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("_gb")
    )
    labeled = (
        pairs.select("doc_a", "doc_b")
        .join(meta_a, "doc_a")
        .join(meta_b, "doc_b")
    )
    return (
        labeled.select(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def conv_dedup(routed: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: fingerprint every conversation
    by the md5 of its VISIBLE turn messages in turn order (joined on
    the unit separator \\x1f, which cannot appear in parsed message
    text) and mark one keeper per fingerprint — whole-transcript
    dedup, the unit a training pipeline actually drops (two
    conversations that replay the same session byte-for-byte), as
    opposed to the document/turn-level dedup the rest of this module
    does.

    Turn order is forced the same way rl_trajectories does it:
    collect (turn_idx, message) structs, array_sort (turn_idx first,
    unique per conv), project to messages — collect_list alone is
    shuffle-order-unstable. Keeper choice is min conv_id within the
    fingerprint: deterministic under any execution order.

    Scale shape: one conv-keyed aggregate (rides the pipeline's
    existing conv_id partitioning; per-group state is one transcript)
    producing a conversation-count-sized table, then one fp-keyed
    window over THAT (rank + copy count share the exchange). Nothing
    turn-sized crosses the second shuffle.

    Output: (conv_id, fp, n_turns, n_copies, keeper).
    """
    vis = routed.filter(F.col("sink") != "drop_queue")
    per_conv = (
        vis.select(
            "conv_id",
            F.struct(F.col("turn_idx"), F.col("message").alias("m")).alias(
                "_tm"
            ),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.transform(
                        F.array_sort(F.collect_list("_tm")),
                        lambda s: s["m"],
                    ),
                ).cast("binary")
            ).alias("fp"),
        )
    )
    wf = Window.partitionBy("fp").orderBy("conv_id")
    wc = Window.partitionBy("fp")
    return per_conv.select(
        "conv_id",
        "fp",
        "n_turns",
        F.count(F.lit(1)).over(wc).alias("n_copies"),
        (F.row_number().over(wf) == 1).alias("keeper"),
    )


# candidate thresholds of dedup_threshold_curve, in sixteenths, ascending
CURVE_CUTOFFS = (4, 8, 12, 16)


def dedup_threshold_curve(docs: DataFrame) -> DataFrame:
    """Dedup threshold SENSITIVITY curve: one MinHash estimate pass
    (minhash_estimate_pairs at the lowest cutoff), then for every
    candidate threshold c/16 the pair count and the distinct-doc
    count at est >= c — the design table for choosing a dedup
    threshold BEFORE running the expensive job ("how much would 0.75
    drop vs 0.5?"). n_docs is the upper bound on removals (every
    affected doc minus one keeper per cluster survives); the curve's
    shape, not its absolute level, is the decision input.

    Scale shape: the candidate pass is the shared LSH machinery; the
    sweep itself is ONE explode of each pair onto the cutoffs it
    clears (fan-out <= |cutoffs|) and two cutoff-keyed partial aggs
    over the pair table — no per-threshold re-run, no second corpus
    scan. All-integer: cutoffs are sixteenths of the 16-permutation
    signature, so est >= c/16 is n_equal >= c exactly.

    Output: (cutoff_sixteenths, n_pairs, n_docs).
    """
    pairs = minhash_estimate_pairs(
        docs, threshold=CURVE_CUTOFFS[0] / 16
    ).select("doc_a", "doc_b", "n_equal")
    cuts = F.array(*[F.lit(c).cast("long") for c in CURVE_CUTOFFS])
    cleared = pairs.select(
        F.explode(
            F.filter(cuts, lambda c: c <= F.col("n_equal"))
        ).alias("cutoff_sixteenths"),
        "doc_a",
        "doc_b",
    )
    n_pairs = cleared.groupBy("cutoff_sixteenths").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = (
        cleared.select(
            "cutoff_sixteenths",
            F.explode(F.array("doc_a", "doc_b")).alias("_d"),
        )
        .groupBy("cutoff_sixteenths")
        .agg(F.countDistinct("_d").alias("n_docs"))
    )
    # the estimate pass registers a persisted signature table; the
    # caller releases it (dedup.release_persisted) after consuming
    # the curve, same contract as every other LSH-backed operator
    return n_pairs.join(n_docs, "cutoff_sixteenths")


# count_cosine_pairs: the cosine, in thousandths, a pair reaches; the
# document frequency above which a term generates no candidates; and
# the term, a positional token n-gram of this length
COSINE_THRESHOLD_MILLI = 800
COSINE_DF_CUT = 128
COSINE_NGRAM = 4


def count_cosine_pairs(docs: DataFrame) -> DataFrame:
    """Sparse token-count COSINE near-dup pairs — the bag-of-words
    complement of the set-based detectors (`ngram_jaccard_pairs`
    ignores multiplicity, `embedding_near_dup_pairs` needs dense
    vectors; this scores the raw count vectors, so a doc that
    repeats its own sentences still pairs with its unrepeated twin
    where Jaccard-on-sets saturates).

    EXACT integer decision rule (the repo-wide oracle contract —
    cosine needs a sqrt, so the threshold test is algebraically
    squared instead of computed in floats): with dot = sum over
    SHARED terms of tf_a*tf_b and na2/nb2 the full squared norms,

        cos >= t/1000  <=>  1e6 * dot^2 >= t^2 * na2 * nb2
        (t = COSINE_THRESHOLD_MILLI)

    (dot >= 0, so squaring preserves the inequality). The products
    are evaluated in DECIMAL(38,0) — Spark decimal128 == DuckDB
    HUGEINT semantics — because dot^2 overflows int64 already at
    ~100k-token documents; OUTPUT columns stay int64 (dot and the
    norms are linear in document length).

    Two-phase scale shape (the ngram_jaccard plan, weighted):
    a persisted (doc, term) tf aggregate feeds (1) the vocabulary-
    sized df table whose df <= COSINE_DF_CUT band gates CANDIDATE
    generation — per-term pair fan-out is bounded by COSINE_DF_CUT^2, the
    stop-term guard — and (2) the per-doc squared norms. The dot
    product accumulates in the SAME term-keyed pair join that
    generates candidates (no second lookup of either side's vector:
    non-shared terms contribute zero, and cut terms are excluded
    from dot on BOTH the operator and the oracle — the documented
    head-trim the threshold sees symmetrically). Norms use ALL
    terms: the denominator is the true vector length.

    Terms are POSITIONAL COSINE_NGRAM-gram occurrences (multiplicity
    kept — unlike shingles_col's distinct sets), not unigrams: the
    right granularity when the unigram vocabulary is so small that
    every term's df exceeds any sane cut (tiny closed vocabularies,
    log templates), and what makes the df cut a real candidate gate
    rather than an all-or-nothing switch.

    N-gram term KEY (round 5): the 60-bit integer prefix of the
    gram's md5 — conv(substr(md5, 1, 15), 16, 10) — not the 32-char
    hex string. The key is pure plumbing (never in the output), and
    the tf aggregate + df band + pair join all shuffle it: 8-byte
    longs vs 40-byte strings measured 1.9× faster END TO END at both
    8 and 32 cores (1M docs, ~90M distinct grams, checksummed-
    identical pairs; BASELINE.md "Round 5: retrieval-tier scaling
    legs + the count_cosine term-key fix"). Same cross-engine
    h32/LSH-band precedent: DuckDB parses the identical prefix, so a
    60-bit collision merges the SAME two grams in both engines —
    deterministic, and at most perturbs one dot product by a tf
    cross-term.

    Validity bound: n distinct grams expect ~n^2/2^61 colliding key
    pairs — ~3.5e-3 at 9e7 grams, ~0.4 at 1e9. Beyond ~1e9 distinct
    grams collisions are no longer rare; widen the key to two
    columns (a second 60-bit md5 slice) in operator and oracle
    together.

    Output: (doc_a, doc_b, dot, norm_a2, norm_b2) for passing pairs.
    """
    toks = F.col("_lt")
    n = F.size(toks)
    grams = F.when(
        n >= COSINE_NGRAM,
        F.transform(
            F.sequence(F.lit(1), n - (COSINE_NGRAM - 1)),
            # slice unrolled into element_at args (see
            # shingles_col: interpreted Slice with a lambda-var
            # start boxes a window copy per position); the key
            # is the 60-bit md5 prefix as a LONG (docstring:
            # measured 1.9x over the hex-string key)
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            *[
                                F.element_at(toks, i + j)
                                for j in range(COSINE_NGRAM)
                            ],
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    terms = docs.select(
        "doc_id",
        tokens_col(F.col("text")).alias("_lt"),
    ).select("doc_id", F.explode(grams).alias("term"))
    tf = _register_persist(
        terms.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    rare = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= COSINE_DF_CUT)
        .select("term")
    )
    idx = tf.join(rare, "term", "left_semi")
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (
        a.join(b, "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("norm_a2")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("norm_b2")
    )
    dec = "decimal(38,0)"
    lhs = (
        F.lit(1000000).cast(dec)
        * F.col("dot").cast(dec)
        * F.col("dot").cast(dec)
    )
    rhs = (
        F.lit(int(COSINE_THRESHOLD_MILLI) ** 2).cast(dec)
        * F.col("norm_a2").cast(dec)
        * F.col("norm_b2").cast(dec)
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(lhs >= rhs)
        .select("doc_a", "doc_b", "dot", "norm_a2", "norm_b2")
    )


def cluster_cards(comp: DataFrame, corpus: DataFrame) -> DataFrame:
    """Duplicate-cluster audit cards — the explainability report a
    dedup decision ships with: one row per multi-document cluster
    carrying its size, the keeper, and the exact byte savings the
    apply step realizes (total_chars - keeper_chars). Rolling the
    `saved_chars` column up gives the corpus-level "dedup reclaimed
    N bytes" number data cards quote; reading individual rows
    answers "why did doc X disappear" (its component and keeper).

    Input: `comp` as produced by duplicate_components /
    duplicate_components_star (doc_id, component, is_keeper) and the
    corpus it was computed over. Singleton clusters are excluded —
    a card per unique document would make the report corpus-sized
    for no information (saved_chars would be 0 by construction).

    Scale shape: one broadcast-free equi-join on doc_id (both sides
    already keyed by it) + one component-keyed partial+final
    aggregate; output is bounded by the number of duplicate
    CLUSTERS, which the apply step already materializes. Nothing
    new is corpus-sized.
    """
    j = comp.join(
        corpus.select(
            "doc_id", F.length("text").cast("long").alias("_chars")
        ),
        "doc_id",
    )
    return (
        j.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min(
                F.when(F.col("is_keeper"), F.col("doc_id"))
            ).alias("keeper"),
            F.sum("_chars").alias("total_chars"),
            F.min(
                F.when(F.col("is_keeper"), F.col("_chars"))
            ).alias("keeper_chars"),
        )
        .filter(F.col("size") >= 2)
        .select(
            "component",
            "size",
            "keeper",
            "total_chars",
            "keeper_chars",
            (F.col("total_chars") - F.col("keeper_chars")).alias(
                "saved_chars"
            ),
        )
    )
