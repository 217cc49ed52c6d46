"""Fuzzy record linkage — edit-distance near-dup keys WITHOUT an
all-pairs scan (SymSpell delete-neighborhood blocking).

Training corpora carry short near-identical keys everywhere: page
titles differing by one typo, tool names with a dropped character,
user queries with transposed letters. Jaccard/MinHash (dedup.py)
saturates on such short strings — one edit flips a large fraction of
the shingles — so the right similarity is LEVENSHTEIN distance, and
the classic scalable blocking for it is the SymSpell delete
neighborhood (Garbe's symmetric-delete algorithm, the public
SymSpell/spellfix design): two strings are within edit distance d
only if deleting <= d characters from each can produce a COMMON
string. Indexing every <=d-deletion variant therefore finds every
qualifying pair through an EQUI-join — no quadratic compare, no
per-row trie, and the verify step (one built-in `levenshtein` call
per candidate) removes the false positives hash blocking admits.

Reference tie-in: the reference's OpenSearch backend offers fuzzy
term queries (AUTO fuzziness ~ Damerau distance 1-2) over exactly
the kind of short keyword fields logsender ships
(logsender.py:563-618 index DDL keyword columns); this operator is
the engine-side batch equivalent: materialize all fuzzy-equal key
pairs across the corpus in one pass.

Determinism contract: the key is a pure-Catalyst canonicalization
(lower -> strip non-[a-z0-9 ] -> collapse runs of spaces -> trim ->
prefix), shared character-for-character with the DuckDB twin; the
verify distance comes from the engines' built-in Levenshtein (both
classic single-character edit distance, integer); pair identity is
(doc_a < doc_b) + DISTINCT. No floats anywhere.

Scale shape (the 100 TB audit):
- variant generation is a per-row array expression — key length is
  capped at `key_len`, so fan-out is <= key_len + 1 rows per doc at
  d=1 (<= ~key_len^2/2 at d=2, documented below), independent of
  document size;
- the join key is the 64-bit xxhash64 of the variant, NOT the
  variant string — the candidate shuffle moves (hash, doc_id) pairs
  only; hash collisions merely create extra candidates that the
  exact verify discards;
- candidate generation is one hash-aggregate on that hash (collect
  per bucket, expand i < j pairs in-bucket — no self-join, no sort)
  — cost tracks fuzzy-duplicate density, never |docs|^2; `bucket_cap`
  applies the same deterministic sub-bucket split as
  minhash_lsh_pairs / simhash_pairs for corpora where one key
  dominates (boilerplate titles), with the same documented recall
  trade;
- verify is one codegen `levenshtein` per candidate pair on <=
  key_len-char strings — bounded constant work per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def canonical_key(text_col: Column, key_len: int = 24) -> Column:
    """Short canonical linkage key: lowercase, alnum+space only,
    single-spaced, first `key_len` chars. Pure Catalyst; the DuckDB
    twin runs the identical chain (RE2-portable patterns).

    The raw text is cut to 4*key_len chars BEFORE the regex chain:
    the key is a head-of-document identity (title/lead), and the
    regex replace is the operator's entire corpus-scale cost —
    measured 48 s of a 62 s end-to-end run at 1M x ~700-char docs
    when it scanned full texts (BASELINE.md round-4f), i.e. O(doc)
    per row for a key that needs O(key_len). The 4x slack absorbs
    junk characters the canonicalization deletes; a head with > 75%
    junk yields a shorter key (documented semantics, mirrored
    bit-for-bit by the oracle twin and test reference)."""
    t = F.lower(F.substring(text_col, 1, 4 * key_len))
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.regexp_replace(t, "  +", " ")
    return F.substring(F.trim(t), 1, key_len)


def _delete_variants(key: Column, max_dist: int, key_len: int = 24) -> Column:
    """All strings reachable by deleting <= max_dist characters,
    including the key itself — as one per-row array expression.

    d=1 is UNROLLED into key_len static concat(substring, substring)
    expressions instead of a transform() lambda: higher-order
    functions run INTERPRETED in Spark (no codegen), and the
    interpreted string slicing was measured at ~65% of the whole
    operator's wall at 1M docs (45 s of 70 s at local[32]; see
    BASELINE.md round-4f). Positions past the key's actual length
    reproduce the key itself; array_distinct (codegen) drops them.
    """
    def deletes1_unrolled(s: Column) -> list[Column]:
        return [
            F.concat(
                F.substring(s, 1, i - 1), F.substring(s, i + 1, key_len)
            )
            for i in range(1, key_len + 1)
        ]

    d1 = F.array_distinct(F.array(key, *deletes1_unrolled(key)))
    if max_dist == 1:
        return d1
    # d=2: deletes of every d<=1 variant via a transform lambda —
    # the unrolled form would need key_len^2 static exprs. Fan-out is
    # O(key_len^2 / 2) rows per doc and the lambda is interpreted;
    # opt in only where recall at distance 2 pays the ~12x.
    def deletes1_lambda(s: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        )

    return F.array_distinct(
        F.flatten(
            F.transform(
                d1, lambda v: F.array_union(F.array(v), deletes1_lambda(v))
            )
        )
    )


def symspell_pairs(
    docs: DataFrame,
    max_dist: int = 1,
    key_len: int = 24,
    bucket_cap: int | None = None,
) -> DataFrame:
    """All doc pairs whose canonical keys are within Levenshtein
    distance `max_dist`, via delete-neighborhood blocking.

    Output: (doc_a, doc_b, dist) with doc_a < doc_b, dist the exact
    Levenshtein distance between the two canonical keys (0 = keys
    identical — exact dupes surface here too, by design: the caller
    feeds the pair stream to duplicate_components like every other
    pair generator in dedup.py).

    Completeness: for classic Levenshtein distance d, any two
    strings within distance d share a common string reachable by
    <= d deletions from each (delete the edited positions), so the
    variant equi-join has TOTAL recall at the configured max_dist;
    precision comes from the exact verify. max_dist is capped at 2 —
    beyond that the neighborhood explodes combinatorially and
    blocking should switch to the n-gram/LSH family instead.
    """
    if not 1 <= max_dist <= 2:
        raise ValueError(
            f"symspell_pairs: max_dist={max_dist} out of range [1, 2]"
        )
    keys = docs.select(
        "doc_id", canonical_key(F.col("text"), key_len).alias("key")
    )
    variants = keys.select(
        "doc_id",
        "key",
        F.explode(
            _delete_variants(F.col("key"), max_dist, key_len)
        ).alias("variant"),
    ).select(
        "doc_id",
        "key",
        # 64-bit join key: the shuffle moves a long, not the string.
        # xxhash64, NOT the repo's md5 parity hash — this hash is
        # INTERNAL blocking only (the oracle is brute-force, so no
        # twin ever recomputes it) and xxhash64 is native codegen,
        # ~an order of magnitude cheaper than md5->conv here. No
        # per-doc dedup pass is needed — _delete_variants returns a
        # DISTINCT array, so within a doc only a hash collision
        # could repeat a vh, and a repeated candidate is erased by
        # the final distinct(); a dropDuplicates here would cost a
        # full extra exchange of the variant table for nothing.
        F.xxhash64(F.col("variant")).alias("vh"),
    )
    # Pair generation is a BUCKET AGGREGATE, not a self-join: one
    # hash exchange on vh + collect_list per bucket, pairs emitted
    # by an in-bucket (i < j) expansion. Measured 1.7x faster than
    # the SortMergeJoin formulation at 1M docs (20 s vs 34 s at
    # local[32], BASELINE.md round-4f): no double sort of the 25M-row
    # variant table, and no persist (the aggregate is the single
    # consumer). The pair-expansion transform() IS an interpreted
    # HOF, but it runs only on buckets holding >= 2 docs — duplicate
    # density, not corpus size. sort_array orders each bucket by
    # doc_id, so i < j gives doc_a < doc_b; the strict filter also
    # drops the (rare, hash-collision) self-pair.
    group_keys = ["vh"]
    if bucket_cap is not None:
        wn = Window.partitionBy("vh")
        nsub = F.ceil(
            F.count(F.lit(1)).over(wn) / F.lit(float(bucket_cap))
        ).cast("long")
        variants = variants.withColumn(
            "sub",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                nsub,
            ),
        )
        group_keys.append("sub")
    buckets = (
        variants.groupBy(*group_keys)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "key"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, (x, i) -> "
                "transform(slice(ms, i + 2, size(ms) - i - 1), "
                "y -> struct(x.doc_id AS da, y.doc_id AS db, "
                "x.key AS ka, y.key AS kb))))"
            )
        ).alias("p")
    )
    return (
        pairs.filter(F.col("p.da") < F.col("p.db"))
        .select(
            F.col("p.da").alias("doc_a"),
            F.col("p.db").alias("doc_b"),
            F.levenshtein(F.col("p.ka"), F.col("p.kb")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .distinct()
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    max_dist: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the
    OTHER classic record-linkage blocking, complementing
    symspell_pairs: sort the corpus by canonical key, compare each
    record only to its `window` successors in sort order, verify
    with exact levenshtein. Where the delete neighborhood gives
    TOTAL recall at distance <= d for O(key length) index rows per doc,
    sorted-neighborhood gives O(window) candidates per doc at ANY
    distance cutoff — the cheap wide-net pass (typos in the first
    characters sort far apart and are missed; that trade is the
    method, and running both passes is the standard multi-pass SN
    practice).

    The global sort order is computed WITHOUT a global sort — the
    two-level bucket rank of curation.shuffle_index, with the
    bucket = the key's 2-char PREFIX (a prefix of the sort key, so
    (bucket, key, id) order == (key, id) order): one hash exchange
    on ~37^2 buckets + a tiny offset cumsum broadcast back. Bucket
    skew follows key-prefix skew (a boilerplate-heavy corpus
    concentrates); the verify stays O(window) per doc regardless.
    Candidate pairs join on rank-block ids (block = idx div window;
    a-side emits its own and the next block — each qualifying pair
    matches exactly once, no distinct needed).

    Output: (doc_a, doc_b, gap, dist) with doc_a < doc_b by id,
    gap = rank distance (1..window), dist = exact levenshtein
    <= max_dist.
    """
    if window < 1:
        raise ValueError(f"sorted_neighborhood_pairs: window={window} < 1")
    keys = docs.select(
        "doc_id", canonical_key(F.col("text")).alias("key")
    )
    keyed = keys.select(
        "doc_id", "key", F.substring("key", 1, 2).alias("_bkt")
    ).repartition(F.col("_bkt"))
    w_in = Window.partitionBy("_bkt").orderBy("key", "doc_id")
    from .dedup import _register_persist

    ranked = _register_persist(
        keyed.withColumn("_rn", F.row_number().over(w_in))
    )
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranked.groupBy("_bkt")
        .agg(F.max("_rn").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_bkt", "_off")
    )
    idx = (
        ranked.join(F.broadcast(offsets), "_bkt")
        .select(
            "doc_id",
            "key",
            (F.col("_off") + F.col("_rn") - 1).alias("rnk"),
        )
    )
    a = idx.select(
        F.col("doc_id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(
            F.array(
                F.expr(f"rnk div {window}"),
                F.expr(f"rnk div {window} + 1"),
            )
        ).alias("blk"),
    )
    b = idx.select(
        F.col("doc_id").alias("id_b"),
        F.col("key").alias("key_b"),
        F.col("rnk").alias("rnk_b"),
        F.expr(f"rnk div {window}").alias("blk"),
    )
    cand = a.join(b, "blk").filter(
        (F.col("rnk_b") - F.col("rnk_a") >= 1)
        & (F.col("rnk_b") - F.col("rnk_a") <= window)
    )
    return (
        cand.select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            (F.col("rnk_b") - F.col("rnk_a")).cast("int").alias("gap"),
            F.levenshtein(F.col("key_a"), F.col("key_b")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )
