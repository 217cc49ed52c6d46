"""Round-4 additions: BM25 lexical retrieval (operators/retrieval.py),
MOSS winnowing fingerprints (dedup.winnow_*), per-source vocabulary
stats (textstats.vocab_stats) and MAD-robust spike detection
(aggregate.error_spike_hours_mad)."""

import datetime

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.dedup import (
    WINNOW_K,
    WINNOW_WINDOW,
    release_persisted,
    winnow_fingerprints,
    winnow_pairs,
)
from ci_log_processing_spark.operators.retrieval import bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_ranks_matching_docs_first(spark):
    docs = _docs(
        spark,
        [
            (1, "spark shuffle partition skew salting"),
            (2, "spark shuffle exchange plan"),
            (3, "cooking pasta with tomato sauce"),
            (4, "the shuffle dance move"),
            (10, "spark shuffle skew"),  # the query doc
        ],
    )
    out = bm25_topk(
        docs, docs.filter(F.col("doc_id") == 10), k=3
    ).collect()
    release_persisted()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # doc 1 shares 3 terms (incl. rare 'skew'), doc 2 shares 2,
    # doc 4 shares 1; doc 3 shares none and doc 10 is excluded (self)
    assert ranked[0] == 1
    assert 10 not in ranked
    assert 3 not in ranked
    scores = {r["doc_id"]: r["score_milli"] for r in out}
    # docs 1 and 2 match the rare terms 'skew'/'spark' -> positive;
    # doc 4's only match 'shuffle' has df=4 of N=5 -> 0 idf bits -> 0
    assert scores[1] > scores[2] > 0
    assert scores.get(4, 0) == 0
    for r in out:
        assert 1 <= r["rank"] <= 3


def test_bm25_k_cap_and_validation(spark):
    docs = _docs(spark, [(i, "a b c") for i in range(6)])
    out = bm25_topk(docs, docs.filter(F.col("doc_id") == 0), k=2)
    assert out.count() == 2
    release_persisted()
    with pytest.raises(ValueError):
        bm25_topk(docs, docs, k=0)


def test_bm25_length_normalization(spark):
    # same tf for 'rare' in a short and a long doc -> the short doc
    # scores higher (b=0.75 length penalty)
    docs = _docs(
        spark,
        [
            (1, "rare x"),
            (2, "rare " + "filler " * 30 + "end"),
            (9, "rare"),
        ]
        # background docs so 'rare' (df=3, N=8) carries idf bits
        + [(100 + i, f"noise{i} other{i}") for i in range(5)],
    )
    out = {
        r["doc_id"]: r["score_milli"]
        for r in bm25_topk(
            docs, docs.filter(F.col("doc_id") == 9), k=5
        ).collect()
    }
    release_persisted()
    assert out[1] > out[2]


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # MOSS guarantee: any shared run of window+k-1 tokens yields at
    # least one shared fingerprint. k=4, window=4 -> runs of 7.
    assert (WINNOW_K, WINNOW_WINDOW) == (4, 4)
    shared_run = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    docs = _docs(
        spark,
        [
            (1, "one two three " + shared_run + " four five"),
            (2, shared_run + " completely different tail here now"),
        ],
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fingerprints(docs).collect()
    }
    assert fps[1] & fps[2], "shared 7-token run must share a fingerprint"


def test_winnow_degenerate_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "a b"),          # < k tokens -> no grams
            (2, "a b c d e"),    # 2 grams < window -> all selected
        ],
    )
    out = {
        r["doc_id"]: r for r in winnow_fingerprints(docs).collect()
    }
    assert out[1]["n_fps"] == 0 and out[1]["fps"] == []
    # 5 tokens -> 2 distinct grams, fewer than the window: both kept
    assert out[2]["n_fps"] == len(set(out[2]["fps"])) == 2


def test_winnow_pairs_containment(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base + " extra suffix tokens here"),  # contains doc 1
            (3, " ".join(f"other{i}" for i in range(40))),
        ],
    )
    out = winnow_pairs(docs).collect()
    release_persisted()
    pairs = {(r["doc_a"], r["doc_b"]): r["overlap_milli"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 800
    assert not any(3 in p for p in pairs)


def test_vocab_stats_exact(spark):
    from ci_log_processing_spark.operators.textstats import vocab_stats

    docs = spark.createDataFrame(
        [
            (1, "a a b c", "s1"),
            (2, "a b b d", "s1"),
            (3, "x y", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in vocab_stats(docs).collect()}
    # s1: tokens a*3 b*3 c*1 d*1 -> 4 types, 8 tokens, 2 hapax
    assert out["s1"]["n_types"] == 4
    assert out["s1"]["n_tokens"] == 8
    assert out["s1"]["n_hapax"] == 2
    assert out["s1"]["ttr_milli"] == 500
    assert out["s1"]["hapax_milli"] == 500
    assert out["s2"]["n_types"] == 2 and out["s2"]["n_hapax"] == 2


def test_error_spike_mad_flags_burst_not_constant(spark):
    from ci_log_processing_spark.operators.aggregate import (
        error_spike_hours_mad,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # subsystem 'flat': 1 error/hour for 9 hours -> MAD 0, no spikes
    for h in range(9):
        rows.append(("flat", base + datetime.timedelta(hours=h)))
    # subsystem 'bursty': 1/hour for 8 hours, then 50 in hour 9
    for h in range(8):
        rows.append(("bursty", base + datetime.timedelta(hours=h)))
    rows += [("bursty", base + datetime.timedelta(hours=9))] * 50
    df = spark.createDataFrame(
        [(s, t, "errors") for s, t in rows],
        "subsystem string, filled_ts timestamp, sink string",
    )
    out = error_spike_hours_mad(df).collect()
    spikes = {
        (r["subsystem"], r["window_start"].hour)
        for r in out
        if r["is_spike"]
    }
    assert ("bursty", 9) in spikes
    assert not any(s == "flat" for s, _ in spikes)
    # dev == MAD == 0 hours must not divide-by-zero or flag
    flat = [r for r in out if r["subsystem"] == "flat"]
    assert all(r["mad_n"] == 0.0 and not r["is_spike"] for r in flat)


def test_v6_normalized_dedup_collapses_whitespace_variants(spark):
    """The composition's point: dedup keyed on CANONICAL text
    collapses byte-different same-rendering docs raw dedup misses."""
    from ci_log_processing_spark.operators.dedup import (
        exact_dedup_keep_first,
    )
    from ci_log_processing_spark.operators.textstats import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "hello  world"),      # double space
            (2, "hello world"),       # canonical
            (3, "hello\tworld"),      # tab
            (4, "different entirely"),
        ],
        "doc_id long, mtext string",
    )
    normed = normalize_text(docs).select(
        "doc_id", F.col("text_norm").alias("text")
    )
    surv = exact_dedup_keep_first(normed)
    ids = {r["doc_id"] for r in surv.collect()}
    assert ids == {1, 4}  # 1/2/3 collapse to the lowest doc_id
    # raw dedup would have kept all four
    raw = exact_dedup_keep_first(
        docs.select("doc_id", F.col("mtext").alias("text"))
    )
    assert raw.count() == 4


def test_tool_arg_outcomes_attribution(spark):
    from ci_log_processing_spark.operators.aggregate import (
        tool_arg_outcomes,
    )

    rows = [
        # conv A: bash(args=x) -> errors ; bash(args=y) -> agent turn
        ("A", 0, "bash", "tool_calls", "TOOL bash invoke args=x"),
        ("A", 1, None, "errors", "boom"),
        ("A", 2, "bash", "tool_calls", "TOOL bash invoke args=y"),
        ("A", 3, None, "agent_turns", "ok"),
        # conv B: bash(args=x) -> errors again; search no args, terminal
        ("B", 0, "bash", "tool_calls", "TOOL bash invoke args=x"),
        ("B", 1, None, "errors", "boom"),
        ("B", 2, "search", "tool_calls", "TOOL search invoke"),
        # drop_queue between call and next must NOT count as outcome
        ("C", 0, "bash", "tool_calls", "TOOL bash invoke args=y"),
        ("C", 1, None, "drop_queue", "noise"),
        ("C", 2, None, "errors", "late boom"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, tool string, sink string,"
        " message string",
    )
    out = {
        (r["tool"], r["arg"]): r.asDict()
        for r in tool_arg_outcomes(df).collect()
    }
    assert out[("bash", "x")]["n_calls"] == 2
    assert out[("bash", "x")]["n_errors"] == 2
    assert out[("bash", "x")]["err_milli"] == 1000
    # conv C: drop_queue excluded pre-window -> next visible is errors
    assert out[("bash", "y")]["n_calls"] == 2
    assert out[("bash", "y")]["n_errors"] == 1
    assert out[("bash", "y")]["err_milli"] == 500
    assert out[("search", "(none)")]["n_errors"] == 0
