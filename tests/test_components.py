"""Connected-components dedup clustering: chains, stars, singletons,
convergence on a path graph (worst diameter case for propagation)."""

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.dedup import (
    COMPONENTS_MAX_ITER,
    duplicate_components,
    exact_star_edges,
)


def _run(spark, edges, n_nodes):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], "doc_id long"
    )
    return {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in duplicate_components(pairs, nodes).collect()
    }


def test_components_merges_transitively(spark):
    # two clusters {0,1,2,3} (via chain 0-1, 1-2, 2-3) and {5,6};
    # 4 and 7 are singletons
    out = _run(spark, [(0, 1), (1, 2), (2, 3), (5, 6)], 8)
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[3] == (0, False)
    assert out[4] == (4, True)
    assert out[5] == (5, True)
    assert out[6] == (5, False)
    assert out[7] == (7, True)


def test_components_path_graph_needs_iterations(spark):
    # a pure path 0-1-2-...-9: min label must travel the full
    # diameter, exercising the propagation loop beyond round one
    out = _run(spark, [(i, i + 1) for i in range(9)], 10)
    assert all(out[i][0] == 0 for i in range(10))
    assert sum(1 for i in range(10) if out[i][1]) == 1


def test_components_raises_when_not_converged(spark):
    import pytest

    # a path longer than COMPONENTS_MAX_ITER hops: the min label
    # travels one hop per round, so the rounds run out first
    n = COMPONENTS_MAX_ITER + 2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)], "doc_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(pairs, nodes)


def test_components_frees_superseded_checkpoints(spark):
    # each propagation round localCheckpoints its labels; superseded
    # rounds must be unpersisted (Dataset.unpersist is a no-op on
    # checkpoint blocks), leaving at most the final round pinned
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    out = _run(spark, [(i, i + 1) for i in range(9)], 10)
    assert len(out) == 10
    after = sc._jsc.sc().getPersistentRDDs().size()
    # >= 10 rounds ran; at most one labels RDD (the returned one) may
    # remain beyond whatever was pinned before
    assert after - before <= 1, (before, after)


def test_exact_star_edges_linear_in_group_size(spark):
    docs = spark.createDataFrame(
        [(i, "same text") for i in range(6)] + [(10, "unique")],
        "doc_id long, text string",
    )
    edges = exact_star_edges(docs).collect()
    # n-1 star edges for the 6-clique, none for the singleton
    assert len(edges) == 5
    assert all(r["doc_a"] == 0 for r in edges)
    assert sorted(r["doc_b"] for r in edges) == [1, 2, 3, 4, 5]


def test_duplicate_spans_merging(spark):
    from ci_log_processing_spark.operators.dedup import (
        DUP_SPAN_K,
        duplicate_spans,
    )

    k = DUP_SPAN_K
    shared = " ".join(f"s{i}" for i in range(k + 2))  # k+2 shared tokens
    rep = " ".join(f"r{i}" for i in range(k))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} unique tail one two"),
            (2, f"prefix bits {shared} other end"),
            (3, " ".join(f"solo{i}" for i in range(k + 5))),
            # intra-doc repeat: the same k-gram twice in ONE doc
            (4, f"{rep} gap {rep}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_tokens"])
        for r in duplicate_spans(docs).collect()
    }
    # docs 1+2 share three k-gram spans (positions merge into ONE
    # interval covering the k+2 shared tokens)
    assert out[1] == (1, k + 2)
    assert out[2] == (1, k + 2)
    assert 3 not in out
    # doc 4: both occurrences flagged; [0,k-1] and [k+1,2k] don't touch
    assert out[4] == (2, 2 * k)


def test_duplicate_spans_touching_intervals_merge(spark):
    from ci_log_processing_spark.operators.dedup import (
        DUP_SPAN_K,
        duplicate_spans,
    )

    # doc1 tokens 0..2k-1 are covered by two flagged spans [0,k-1]
    # and [k,2k-1] that TOUCH (k == (k-1) + 1): they must merge into
    # one maximal interval, not report two
    k = DUP_SPAN_K
    head = " ".join(f"t{i}" for i in range(k))
    tail = " ".join(f"t{i}" for i in range(k, 2 * k))
    docs = spark.createDataFrame(
        [
            (1, f"{head} {tail}"),
            (2, f"{head} x"),
            (3, f"y {tail}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_tokens"])
        for r in duplicate_spans(docs).collect()
    }
    assert out[1] == (1, 2 * k), out


def test_components_keeper_rate_on_clusters(spark):
    # 3 disjoint triangles -> 3 keepers, 9 nodes
    edges = []
    for base in (0, 3, 6):
        edges += [(base, base + 1), (base + 1, base + 2), (base, base + 2)]
    out = _run(spark, edges, 9)
    keepers = [d for d, (_, k) in out.items() if k]
    assert sorted(keepers) == [0, 3, 6]
    comps = {c for c, _ in out.values()}
    assert comps == {0, 3, 6}
