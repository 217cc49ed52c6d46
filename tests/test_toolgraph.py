"""tool_pagerank vs an independent reference implementation
(adjacency-dict power iteration carrying the same int64 flow
quantization — the quantization IS the spec; the reference builds
the graph from raw rows, not from the operator's edge aggregate)."""

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.toolgraph import (
    SCALE,
    tool_pagerank,
    tool_transition_edges,
)


def _ref_pagerank(rows, n_iter=5, d=85):
    """rows: (conv_id, turn_idx, tool|None)."""
    by_conv: dict = {}
    for conv, idx, tool in rows:
        if tool is not None:
            by_conv.setdefault(conv, []).append((idx, tool))
    adj: dict = {}
    nodes = set()
    for seq in by_conv.values():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            adj[(a, b)] = adj.get((a, b), 0) + 1
            nodes.update((a, b))
    out_w: dict = {}
    for (a, _b), n in adj.items():
        out_w[a] = out_w.get(a, 0) + n
    init = SCALE // len(nodes)
    base = ((100 - d) * init) // 100
    r = {t: init for t in nodes}
    for _ in range(n_iter):
        nx = {t: base for t in nodes}
        for (a, b), n in adj.items():
            nx[b] += ((d * r[a]) // (100 * out_w[a])) * n
        r = nx
    return r


ROWS = [
    ("c1", 1, "search"), ("c1", 2, None), ("c1", 3, "edit"),
    ("c1", 4, "run"), ("c1", 5, "edit"),
    ("c2", 1, "edit"), ("c2", 2, "run"), ("c2", 3, "search"),
    ("c2", 4, "run"),
    ("c3", 1, "search"), ("c3", 2, "edit"),
    ("c3", 3, "edit"), ("c3", 4, "run"),
]


@pytest.fixture()
def routed(spark):
    return spark.createDataFrame(
        ROWS, "conv_id string, turn_idx int, tool string"
    )


def test_edges_skip_non_tool_turns(spark, routed):
    edges = {
        (r.src, r.dst): r.n
        for r in tool_transition_edges(routed).collect()
    }
    # c1: search->edit (across the None turn), edit->run, run->edit
    assert edges[("search", "edit")] == 2  # c1 and c3
    assert edges[("run", "edit")] == 1
    assert sum(edges.values()) == 9


def test_pagerank_matches_reference(spark, routed):
    got = {
        r.tool: r.pagerank_scaled for r in tool_pagerank(routed).collect()
    }
    assert got == _ref_pagerank(ROWS)


def test_pagerank_scaled_to_double_is_exact(spark, routed):
    for r in tool_pagerank(routed).collect():
        assert r.pagerank == r.pagerank_scaled / SCALE


def test_pagerank_mass_bounded(spark, routed):
    # integer floors only ever DROP mass: total <= SCALE
    total = sum(
        r.pagerank_scaled for r in tool_pagerank(routed).collect()
    )
    assert 0 < total <= SCALE


def test_pagerank_hub_outranks_leaf(spark, routed):
    # 'edit' and 'run' receive most transitions; 'search' receives 1
    got = {r.tool: r.pagerank_scaled for r in tool_pagerank(routed).collect()}
    assert got["edit"] > got["search"]
    assert got["run"] > got["search"]


def test_pagerank_empty_graph_raises(spark):
    lonely = spark.createDataFrame(
        [("c1", 1, "search")], "conv_id string, turn_idx int, tool string"
    )
    with pytest.raises(ValueError, match="no tool"):
        tool_pagerank(lonely)


def test_pagerank_deterministic_across_runs(spark, routed):
    a = sorted(map(tuple, tool_pagerank(routed).collect()))
    b = sorted(map(tuple, tool_pagerank(routed).collect()))
    assert a == b
