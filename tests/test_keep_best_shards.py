"""Tests for quality-based duplicate resolution (dedup_keep_best)."""

from ci_log_processing_spark.operators.dedup import (
    dedup_keep_best,
    release_persisted,
)


def test_keep_best_prefers_quality_over_min_id(spark):
    # doc 0/1/2 exact dups (same text => same quality; tie-break by
    # id keeps 0); docs 10/11 near-dups where 11 is LONGER (higher
    # len_score => higher quality) so 11 must win despite larger id
    base = "the of a to in is " * 4  # stopword-rich, no punctuation
    rows = [
        (0, base),
        (1, base),
        (2, base),
        (10, base + "alpha beta gamma delta"),
        (11, base + "alpha beta gamma delta " + "the of a to in is " * 6),
        (20, "solitary unique document with no twin at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        dedup_keep_best(docs, spark)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    release_persisted()
    assert len(out) == 6
    # exact-dup cluster: equal quality, min id wins
    assert bool(out.loc[0, "is_best"])
    assert not out.loc[1, "is_best"] and not out.loc[2, "is_best"]
    assert out.loc[0, "component"] == out.loc[1, "component"]
    # near-dup cluster: the pair MUST link (shingle Jaccard 10/15 —
    # if this stops holding the test must fail,
    # not silently skip the only assertion that distinguishes
    # keep-best from min-id), and higher-quality doc 11 beats
    # lower-id doc 10
    assert out.loc[10, "component"] == out.loc[11, "component"]
    assert bool(out.loc[11, "is_best"])
    assert not out.loc[10, "is_best"]
    assert out.loc[11, "quality"] > out.loc[10, "quality"]
    # singleton is its own best
    assert bool(out.loc[20, "is_best"])
    # exactly one best per component
    per_comp = out.groupby("component")["is_best"].sum()
    assert (per_comp == 1).all()
