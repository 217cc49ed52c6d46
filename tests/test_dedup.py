"""Dedup operator behavior on the planted-duplicate corpus."""

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from ci_log_processing_spark.sources.corpus import load_corpus

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return load_corpus(spark, SF).cache()


def test_exact_finds_planted_copies(spark, corpus):
    groups = exact_dup_groups(corpus).collect()
    # every doc_id % 10 == 0 got one exact copy -> copies == 2
    assert len(groups) > 0
    assert all(g["copies"] == 2 for g in groups)
    planted = corpus.filter(F.col("doc_id") >= 1000000).filter(
        F.col("doc_id") < 2000000
    ).count()
    assert len(groups) == planted


def test_jaccard_finds_near_dups(spark, corpus):
    pairs = ngram_jaccard_pairs(corpus).collect()
    # each near-dup (base + 2000000) should pair with its base at
    # high jaccard; exact copies pair at jaccard 1.0
    exact_pairs = [p for p in pairs if p["jaccard"] == 1.0]
    near_pairs = [
        p for p in pairs if p["doc_b"] >= 2000000 and p["jaccard"] < 1.0
    ]
    assert exact_pairs and near_pairs
    for p in near_pairs:
        assert p["doc_b"] - 2000000 == p["doc_a"] or p["jaccard"] >= 0.6


def test_lsh_is_subset_of_jaccard(spark, corpus):
    jac = {
        (p["doc_a"], p["doc_b"])
        for p in ngram_jaccard_pairs(corpus).collect()
    }
    lsh = {
        (p["doc_a"], p["doc_b"])
        for p in minhash_lsh_pairs(corpus, spark).collect()
    }
    # LSH candidates are verified -> no false positives; banding can
    # only lose pairs, never invent them
    assert lsh <= jac
    # and it should find the vast majority (16 hashes, 4x4 bands,
    # pairs here have jaccard >= 0.6)
    assert len(lsh) >= 0.8 * len(jac)


def test_simhash_near_dup_hamming(spark, corpus):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(corpus).collect()}
    # exact copies share the fingerprint
    for doc_id, fp in fps.items():
        if 1000000 <= doc_id < 2000000:
            assert fps[doc_id - 1000000] == fp
    # near-dups are within small hamming distance of their base
    close = total = 0
    for doc_id, fp in fps.items():
        if doc_id >= 2000000:
            base = fps[doc_id - 2000000]
            total += 1
            if bin(base ^ fp).count("1") <= 8:
                close += 1
    assert total > 0 and close / total >= 0.9


def test_simhash_pairs_banding(spark, corpus):
    from ci_log_processing_spark.operators.dedup import simhash_pairs

    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(corpus).collect()
    }
    got = {
        (p["doc_a"], p["doc_b"]): p["hamming"]
        for p in simhash_pairs(corpus).collect()
    }
    # exact-copy pairs: hamming 0, always found
    for doc_id in fps:
        if 1000000 <= doc_id < 2000000:
            assert got[(doc_id - 1000000, doc_id)] == 0
    # pigeonhole guarantee: banding finds EVERY pair <= max_hamming —
    # compare against the brute-force ground truth
    ids = sorted(fps)
    truth = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == truth


def test_ngram_df_cut_bounds_candidates(spark):
    from ci_log_processing_spark.operators.dedup import (
        SHINGLE_DF_CUT,
        ngram_jaccard_pairs,
    )

    # n docs sharing ONE planted stop phrase (its eight shingles are
    # all any two docs share: jaccard 8/10): while n <= SHINGLE_DF_CUT
    # the inverted index pairs all n*(n-1)/2 of them; one doc more and
    # the stop shingles are cut, so no pair survives
    stop = "the quick brown fox jumps over the lazy dog again and again"

    def pairs(n):
        rows = [(i, f"{stop} tail{i}") for i in range(n)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return ngram_jaccard_pairs(docs).collect()

    n = SHINGLE_DF_CUT
    assert len(pairs(n)) == n * (n - 1) // 2
    assert pairs(n + 1) == []


def test_release_persisted_frees_registry(spark, corpus):
    from ci_log_processing_spark.operators.dedup import (
        release_persisted,
        simhash_pairs,
    )

    release_persisted()  # clean slate (other tests may have piled up)
    simhash_pairs(corpus).count()
    n = release_persisted()
    assert n == 1  # exactly the fingerprint intermediate, nothing else
    assert release_persisted() == 0


def _py_h32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _capped_pair_count(n_docs: int, cap: int) -> int:
    # identical docs -> every band has ONE bucket of n_docs; the sub
    # assignment (hash(doc_id) % ceil(n/cap)) is the same in every
    # band, so the distinct pair set is one band's within-sub pairs
    import math

    nsub = math.ceil(n_docs / cap)
    counts = {}
    for i in range(n_docs):
        s = _py_h32(str(i)) % nsub
        counts[s] = counts.get(s, 0) + 1
    return sum(c * (c - 1) // 2 for c in counts.values())


def test_lsh_mega_bucket_is_capped(spark):
    # 1000 identical docs: one LSH bucket of 1000 in every band.
    # Uncapped that is 499,500 candidate rows; the default cap (64)
    # must bound it to the deterministic sub-bucket pair count.
    n = 1000
    text = "mega bucket boilerplate duplicate document text payload"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    got = minhash_lsh_pairs(docs, spark).count()
    expected = _capped_pair_count(n, 64)
    assert got == expected
    assert got < n * (n - 1) // 2 / 4  # far below the quadratic count


def test_simhash_mega_bucket_cap_opt_in(spark):
    from ci_log_processing_spark.operators.dedup import simhash_pairs

    n = 400
    text = "mega bucket boilerplate duplicate document text payload"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    capped = simhash_pairs(docs, bucket_cap=16).count()
    assert capped == _capped_pair_count(n, 16)
    assert capped < n * (n - 1) // 2 / 4
    # default stays uncapped: total pigeonhole recall preserved
    uncapped = simhash_pairs(docs).count()
    assert uncapped == n * (n - 1) // 2


def test_incremental_dedup_against_index(spark):
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.dedup import incremental_dedup

    incoming = spark.createDataFrame(
        [
            (10, "already indexed"),
            (11, "brand new text"),
            (12, "brand new text"),     # intra-batch dup: first wins
            (13, "another new one"),
        ],
        "doc_id long, text string",
    )
    known = spark.createDataFrame(
        [("already indexed",)], "text string"
    ).select(F.md5(F.col("text").cast("binary")).alias("h"))
    out = sorted(
        r["doc_id"] for r in incremental_dedup(incoming, known).collect()
    )
    assert out == [11, 13]


def test_incremental_minhash_dedup(spark):
    """Ingest-time near-dup gate: a batch doc is dropped iff a
    verified near-dup exists in the index; edits below the Jaccard
    threshold and brand-new docs survive; empty-shingle (short)
    docs can never match and always survive."""
    from ci_log_processing_spark.operators.dedup import (
        incremental_minhash_dedup,
        release_persisted,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    index_docs = spark.createDataFrame(
        [(1, base), (2, "completely different corpus entry " * 4)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, base),                          # exact dup -> drop
            (101, base + " near duplicate tail"),  # near dup -> drop
            (102, "fresh unseen content " * 6),    # new -> keep
            (103, "tiny"),                         # no shingles -> keep
        ],
        "doc_id long, text string",
    )
    out = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(batch, index_docs).collect()
    )
    assert out == [102, 103]
    release_persisted()


def test_incremental_minhash_candidate_cap(spark):
    """More identical index docs than CANDIDATE_CAP share every band
    bucket; only the CANDIDATE_CAP smallest ids are offered, they
    verify, and the duplicate batch doc is still dropped (existence
    is all the anti-join needs)."""
    from ci_log_processing_spark.operators.dedup import (
        CANDIDATE_CAP,
        incremental_minhash_dedup,
        release_persisted,
    )

    txt = "one two three four five six seven eight nine ten eleven"
    index_docs = spark.createDataFrame(
        [(i, txt) for i in range(1, CANDIDATE_CAP + 9)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, txt), (101, "unrelated new document body " * 5)],
        "doc_id long, text string",
    )
    out = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(batch, index_docs).collect()
    )
    assert out == [101]
    release_persisted()


def test_shingle_impls_equal(spark):
    """Arrow (shingled_docs) and Catalyst (shingles_col) shingling
    produce the same (doc_id, shingle-list) — including
    first-occurrence order — on repeated, short (< k tokens), and
    mixed-case docs."""
    from ci_log_processing_spark.operators.dedup import (
        SHINGLE_K,
        shingled_docs,
        shingles_col,
        tokens_col,
    )

    docs = spark.createDataFrame(
        [
            (1, "A b c d e f g"),
            (2, "x y"),                         # < k -> excluded
            (3, "r r r r r r r r"),             # all shingles identical
            (4, "one two three four five"),     # exactly k tokens
        ],
        "doc_id long, text string",
    ).repartition(2)
    a = {
        r["doc_id"]: r["shingles"]
        for r in shingled_docs(docs, SHINGLE_K).collect()
    }
    # tokens in their own projection: shingles_col's interpreted
    # lambda re-evaluates captured children per element
    native = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("_lt"))
        .select("doc_id", shingles_col(F.col("_lt")).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    n = {r["doc_id"]: r["shingles"] for r in native.collect()}
    assert a == n
    assert SHINGLE_K == 5 and set(a) == {1, 3, 4}
    assert a[3] == ["r r r r r"]
    assert a[1][0] == "a b c d e"


def test_minhash_estimate_vs_exact(spark):
    """The signature estimate agrees with exact Jaccard within the
    16-permutation estimator's granularity on a known near-dup pair,
    and identical docs estimate exactly 1.0."""
    from ci_log_processing_spark.operators.dedup import (
        minhash_estimate_pairs,
        minhash_lsh_pairs,
        release_persisted,
    )

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x1 x2"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, "totally different text here "
                                              "with other words entirely")],
        "doc_id long, text string",
    )
    est = {(r["doc_a"], r["doc_b"]): r
           for r in minhash_estimate_pairs(docs, threshold=0.25).collect()}
    assert est[(1, 2)]["n_equal"] == 16
    assert est[(1, 2)]["est_jaccard"] == 1.0
    assert (1, 3) in est and est[(1, 3)]["est_jaccard"] >= 0.25
    # exact twin agrees on the candidate set (same banding)
    exact = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(
                 docs, spark).collect()}
    assert (1, 2) in exact
    release_persisted()


def test_cluster_cards_savings_and_singleton_filter(spark):
    from ci_log_processing_spark.operators.dedup import cluster_cards

    comp = spark.createDataFrame(
        [
            (1, 1, True), (2, 1, False), (3, 1, False),
            (10, 10, True),                 # singleton -> excluded
            (20, 20, True), (21, 20, False),
        ],
        "doc_id long, component long, is_keeper boolean",
    )
    corpus = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbbbbbb"), (3, "cc"), (10, "solo"),
         (20, "xxxxx"), (21, "yyy")],
        "doc_id long, text string",
    )
    got = {r["component"]: r for r in cluster_cards(comp, corpus).collect()}
    assert sorted(got) == [1, 20]
    c1 = got[1]
    assert c1["size"] == 3 and c1["keeper"] == 1
    assert c1["total_chars"] == 4 + 8 + 2
    assert c1["keeper_chars"] == 4 and c1["saved_chars"] == 10
    c20 = got[20]
    assert c20["size"] == 2 and c20["saved_chars"] == 3


def test_scoped_persists_back_to_back_composition(spark, corpus):
    """VERDICT_r4 item 8: a long-lived user session composing several
    persisting operators must not need manual release_persisted() —
    `with scoped_persists():` releases exactly the block's
    registrations, and nested scopes release only their own."""
    from ci_log_processing_spark.operators.dedup import (
        _PERSIST_REGISTRY,
        minhash_estimate_pairs,
        release_persisted,
        scoped_persists,
        simhash_pairs,
    )

    release_persisted()  # clean slate (other tests may leave state)
    assert len(_PERSIST_REGISTRY) == 0

    with scoped_persists():
        est = minhash_estimate_pairs(corpus, threshold=0.6).collect()
        inside = len(_PERSIST_REGISTRY)
        assert inside >= 1  # the operator registered its signature table
        with scoped_persists():
            sim = simhash_pairs(corpus).collect()
            assert len(_PERSIST_REGISTRY) > inside
        # inner scope released ONLY its own registrations
        assert len(_PERSIST_REGISTRY) == inside
        assert est and sim  # both results consumed inside the scope
    assert len(_PERSIST_REGISTRY) == 0

    # exception exit still releases (try/finally semantics)
    try:
        with scoped_persists():
            simhash_pairs(corpus).count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert len(_PERSIST_REGISTRY) == 0


def test_scoped_persists_releases_all_when_unpersist_raises(spark):
    """A raising unpersist inside the scope's release must not leave
    the other scoped frames cached; the first error is re-raised."""
    from ci_log_processing_spark.operators.dedup import (
        _PERSIST_REGISTRY,
        _register_persist,
        release_persisted,
        scoped_persists,
    )

    class _Raising:
        def __init__(self, msg):
            self.msg = msg

        def unpersist(self):
            raise RuntimeError(self.msg)

    release_persisted()
    a = spark.range(10)
    b = spark.range(20)
    with pytest.raises(RuntimeError, match="first"):
        with scoped_persists():
            _register_persist(a).count()
            _PERSIST_REGISTRY.append(_Raising("first"))
            _register_persist(b).count()
            _PERSIST_REGISTRY.append(_Raising("second"))
            assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk
    assert not b.storageLevel.useMemory and not b.storageLevel.useDisk
    assert len(_PERSIST_REGISTRY) == 0
