"""skipgram_pairs (operators/textstats.py), inverted_index
(operators/retrieval.py), count_cosine_pairs (operators/dedup.py):
semantics vs hand-computed expectations and a pure-Python cosine
reference."""

import math
from collections import Counter

import pytest

from ci_log_processing_spark.operators import retrieval
from ci_log_processing_spark.operators.dedup import (
    COSINE_DF_CUT,
    COSINE_NGRAM,
    count_cosine_pairs,
    release_persisted,
)
from ci_log_processing_spark.operators.retrieval import (
    INDEX_MIN_DF,
    inverted_index,
)
from ci_log_processing_spark.operators.textstats import skipgram_pairs

DOCS_SCHEMA = "doc_id long, text string"


def test_skipgram_window_and_direction(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (2, ""), (3, "x")], DOCS_SCHEMA
    )
    out = {
        (r.tok_a, r.tok_b): r.n
        for r in skipgram_pairs(df, window=2, min_count=1).collect()
    }
    # forward window of 2: (a,b)x2 docs, (a,c), (b,c), (b,d), (c,d);
    # never (a,d) (gap 3) and never a reversed pair
    assert out == {
        ("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1,
        ("b", "d"): 1, ("c", "d"): 1,
    }
    assert skipgram_pairs(df, window=2, min_count=2).collect()[0].n == 2
    with pytest.raises(ValueError):
        skipgram_pairs(df, window=0)


def test_skipgram_matches_python_reference(spark):
    texts = [
        "the cat sat on the mat",
        "the dog sat on the cat",
        "a cat and a dog",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), DOCS_SCHEMA)
    w = 3
    ref = Counter()
    for t in texts:
        toks = t.lower().split(" ")
        for i, a in enumerate(toks):
            for j in range(i + 1, min(i + w, len(toks) - 1) + 1):
                ref[(a, toks[j])] += 1
    got = {
        (r.tok_a, r.tok_b): r.n
        for r in skipgram_pairs(df, window=w, min_count=1).collect()
    }
    assert got == dict(ref)


def test_inverted_index_postings_and_band(spark, monkeypatch):
    df = spark.createDataFrame(
        [
            (10, "b a b"),
            (2, "a c"),
            (7, "b"),
        ],
        DOCS_SCHEMA,
    )
    out = {
        r.term: r
        for r in inverted_index(df).collect()
    }
    # 'b': docs 10 (pos 1,3) and 7 (pos 1) -> doc order forced
    assert out["b"].postings == "7:1|10:1,3"
    assert (out["b"].df, out["b"].n_occurrences) == (2, 3)
    # 'a': docs 2 (pos 1) and 10 (pos 2)
    assert out["a"].postings == "2:1|10:2"
    # 'c': df 1 < INDEX_MIN_DF, cut from the band
    assert INDEX_MIN_DF == 2 and set(out) == {"a", "b"}
    # the band's upper bound is the per-term state cap; the gate's
    # vocabulary never reaches INDEX_MAX_DF, so pin the filter by
    # lowering both bounds (read at call time) to a band of df == 1
    monkeypatch.setattr(retrieval, "INDEX_MIN_DF", 1)
    monkeypatch.setattr(retrieval, "INDEX_MAX_DF", 1)
    out = {r.term: r for r in inverted_index(df).collect()}
    assert set(out) == {"c"} and out["c"].postings == "2:2"


def _grams(text: str) -> Counter:
    toks = text.split()
    n = COSINE_NGRAM
    return Counter(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _cos(a: str, b: str) -> float:
    ca, cb = _grams(a), _grams(b)
    dot = sum(ca[t] * cb[t] for t in ca)
    return dot / math.sqrt(
        sum(v * v for v in ca.values())
        * sum(v * v for v in cb.values())
    )


def test_count_cosine_vs_python(spark):
    texts = {
        0: "alpha beta gamma delta alpha beta gamma",
        1: "alpha beta gamma delta alpha beta gamma epsilon",  # near-dup
        2: "epsilon zeta eta theta iota kappa",                # unrelated
        3: "alpha beta gamma delta alpha beta gamma",          # exact dup
    }
    df = spark.createDataFrame(list(texts.items()), DOCS_SCHEMA)
    out = {(r.doc_a, r.doc_b): r for r in count_cosine_pairs(df).collect()}
    release_persisted()
    expected = {
        (a, b)
        for a in texts
        for b in texts
        if a < b and _cos(texts[a], texts[b]) >= 0.8
    }
    assert set(out) == expected and {(0, 1), (0, 3)} <= expected
    # the exact pair carries dot == norms (identical vectors)
    r = out[(0, 3)]
    assert r.dot == r.norm_a2 == r.norm_b2


def test_count_cosine_repeated_sentence_multiplicity(spark):
    # multiplicity matters: doc 1 repeats doc 0's sentence twice, so
    # each of doc 0's five 4-grams occurs twice in doc 1 (plus three
    # grams across the seam). A SET-based measure sees 5 of 8 grams
    # shared; the dot is twice the set overlap — assert the exact
    # integer dot to pin the multiplicity semantics.
    s = "a b c d e f g h"
    df = spark.createDataFrame([(0, s), (1, f"{s} {s}")], DOCS_SCHEMA)
    rows = count_cosine_pairs(df).collect()
    release_persisted()
    assert len(rows) == 1
    r = rows[0]
    # tf doc0 = 1 each; doc1 = 2 each (+ 3 seam grams once)
    assert (r.dot, r.norm_a2, r.norm_b2) == (10, 5, 23)


def test_count_cosine_df_cut_gates_candidates(spark):
    # the one shared term has df > cut -> no candidates at all
    df = spark.createDataFrame(
        [(i, "same text here too") for i in range(COSINE_DF_CUT + 1)],
        DOCS_SCHEMA,
    )
    assert count_cosine_pairs(df).count() == 0
    release_persisted()


def test_collocations_lift_vs_python(spark):
    from ci_log_processing_spark.operators.textstats import collocations

    texts = ["new york new york", "in new york today", "a b a b a"]
    df = spark.createDataFrame(list(enumerate(texts)), DOCS_SCHEMA)
    w, mc = 2, 2
    pair_ref = Counter()
    uni_ref = Counter()
    for t in texts:
        toks = t.split(" ")
        uni_ref.update(toks)
        for i in range(len(toks)):
            for j in range(i + 1, min(i + w, len(toks) - 1) + 1):
                pair_ref[(toks[i], toks[j])] += 1
    pair_ref = {k: v for k, v in pair_ref.items() if v >= mc}
    n_t = sum(uni_ref.values())
    n_p = sum(pair_ref.values())
    got = {
        (r.tok_a, r.tok_b): r
        for r in collocations(df, window=w, min_count=mc).collect()
    }
    assert set(got) == set(pair_ref)
    for (a, b), n_ab in pair_ref.items():
        r = got[(a, b)]
        assert (r.n_ab, r.n_a, r.n_b) == (n_ab, uni_ref[a], uni_ref[b])
        assert r.lift_milli == (1000 * n_ab * n_t * n_t) // (
            n_p * uni_ref[a] * uni_ref[b]
        )
    # 'new york' travels together: lift far above 1000 (independence)
    assert got[("new", "york")].lift_milli > 1000


def test_incremental_index_merge_identity(spark):
    from ci_log_processing_spark.operators.retrieval import (
        finalize_index,
        inverted_index,
        merge_posting_rows,
        posting_rows,
    )

    df = spark.createDataFrame(
        [(i, f"t{i % 3} common t{i % 5}") for i in range(20)],
        DOCS_SCHEMA,
    )
    whole = {
        r.term: (r.df, r.n_occurrences, r.postings)
        for r in inverted_index(df).collect()
    }
    merged = finalize_index(
        merge_posting_rows(
            posting_rows(df.filter("doc_id % 2 = 0")),
            posting_rows(df.filter("doc_id % 2 = 1")),
        ),
    )
    got = {
        r.term: (r.df, r.n_occurrences, r.postings)
        for r in merged.collect()
    }
    release_persisted()
    assert got == whole


def test_phrase_merge_greedy_islands(spark):
    from ci_log_processing_spark.operators.textstats import phrase_merge

    docs = spark.createDataFrame(
        [
            (0, "new york city hall"),   # chain: greedy takes
            #                             (new,york) then (city,hall)
            (1, "a a a"),                # overlap run: a_a then a
            (2, "a a a a"),              # even run: a_a a_a
            (3, "x new york y"),         # phrase mid-doc
            (4, "plain words only"),     # no phrases
            (5, "york new"),             # reversed pair: no match
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [("new", "york"), ("york", "city"), ("city", "hall"),
         ("a", "a")],
        "tok_a string, tok_b string",
    )
    out = {
        r.doc_id: (r.text, r.n_phrases)
        for r in phrase_merge(docs, phrases).collect()
    }
    # greedy: (new,york) consumes york, so (york,city) is blocked,
    # then (city,hall) fires — exactly word2phrase's L2R scan
    assert out[0] == ("new_york city_hall", 2)
    assert out[1] == ("a_a a", 1)
    assert out[2] == ("a_a a_a", 2)
    assert out[3] == ("x new_york y", 1)
    assert out[4] == ("plain words only", 0)
    assert out[5] == ("york new", 0)


def test_rrf_fuse_math_and_order(spark):
    from ci_log_processing_spark.operators.retrieval import RRF_K0, rrf_fuse

    assert RRF_K0 == 60
    schema = "qid long, doc_id long, rank int"
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], schema
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)], schema
    )
    out = {r.doc_id: r for r in rrf_fuse([lex, dense]).collect()}
    # doc 11: 1e6//62 + 1e6//61 = 16129 + 16393 = 32522 — fused to
    # the top though neither system ranked it first
    assert out[11].rrf_micro == 1000000 // 62 + 1000000 // 61
    assert out[11].rank == 1 and out[11].n_systems == 2
    # doc 10: 1e6//61 + 1e6//63
    assert out[10].rrf_micro == 1000000 // 61 + 1000000 // 63
    assert out[10].rank == 2
    # single-system docs trail
    assert out[12].n_systems == 1 and out[13].n_systems == 1
    assert out[13].rank == 3 and out[12].rank == 4  # 62 beats 63

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
