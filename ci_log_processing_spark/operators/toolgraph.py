"""Tool-transition graph analytics: weighted PageRank over the
directed graph of consecutive tool invocations.

Which tool sits at the CENTER of agent workflows is a graph
question, not a counting question: a tool invoked rarely but always
feeding the tools everything else depends on outranks a leaf tool
with more raw calls. PageRank (Page et al. 1999) over the
tool→next-tool transition graph answers it.

Scale split (the kmeans_fit / bpe_train pattern — see
operators/similarity.py:kmeans_fit):

  * The CORPUS-sized work is the edge extraction: one lag() window
    inside the conv_id partitioning the pipeline already established
    (no new exchange class) + one partial/final count keyed on
    (src, dst). At 10^12 turns this is the whole job.
  * The GRAPH is model-sized: at most n_tools² weighted edges
    (dozens of tools → hundreds of edge rows, at ANY corpus size).
    The rank iteration therefore runs on the driver over the
    collected edge list — collecting it is the point, exactly like
    collecting k centroids. Running power iteration through
    distributed joins on a 50-row table would add PAGERANK_ITERS pointless
    scheduling rounds; the corpus-sized graph case (doc-similarity
    graphs) is served by the distributed connected-components
    operators in dedup.py instead.

Integer-exact arithmetic (the repo-wide determinism rule): ranks are
int64 micro-units of SCALE = 10^12. Per iteration, each node first
converts its rank to a per-unit-of-edge-weight flow

    flow(v) = (DAMPING_PCT * rank(v)) // (100 * out_weight(v))

and sends flow(v) * n(v,u) along each edge — the division happens
BEFORE the edge multiply, so every intermediate fits int64
(flow ≤ 0.85·SCALE; contribution ≤ 0.85·rank) and the sum over
in-edges is order-independent. Dangling tools (no out-edges) drop
their damped mass — the standard simplification; the base term keeps
every node alive. The DuckDB twin (oracle.q_tool_pagerank) unrolls
the same PAGERANK_ITERS rounds as CTEs in the same integer math, so the
gate check is hash-exact with no float tolerance anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

SCALE = 10**12
# percent of a node's rank that flows along its out-edges per round
DAMPING_PCT = 85
# power-iteration rounds of tool_pagerank
PAGERANK_ITERS = 5

RANK_SCHEMA = StructType(
    [
        StructField("tool", StringType(), False),
        StructField("pagerank_scaled", LongType(), False),
        StructField("pagerank", DoubleType(), False),
    ]
)


def tool_transition_edges(routed: DataFrame) -> DataFrame:
    """(src, dst, n) counts of consecutive tool invocations within a
    conversation — the corpus-sized pass. Non-tool turns between two
    tool calls are skipped (the graph is over the tool SEQUENCE, so
    the filter runs before the lag)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    calls = routed.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    return (
        calls.withColumn("src", F.lag("tool").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("tool").alias("dst"))
        .agg(F.count("*").alias("n"))
    )


def _iterate_ranks(edges: list[tuple[str, str, int]]) -> dict[str, int]:
    """Driver-side integer power iteration over the model-sized edge
    list. Pure deterministic int math — mirrored line-for-line by
    the unrolled SQL twin."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    out_w: dict[str, int] = {}
    for src, _dst, n in edges:
        out_w[src] = out_w.get(src, 0) + n
    init = SCALE // len(nodes)
    base = ((100 - DAMPING_PCT) * init) // 100
    rank = {t: init for t in nodes}
    for _ in range(PAGERANK_ITERS):
        nxt = {t: base for t in nodes}
        for src, dst, n in edges:
            flow = (DAMPING_PCT * rank[src]) // (100 * out_w[src])
            nxt[dst] += flow * n
        rank = nxt
    return rank


def tool_pagerank(routed: DataFrame) -> DataFrame:
    """Weighted PageRank over the tool-transition graph. Returns
    (tool, pagerank_scaled, pagerank) — pagerank is the scaled rank
    divided by SCALE once (a single int64→double division, identical
    in both engines). Raises on an empty graph (fewer than two tool
    calls in any conversation) rather than returning a silent empty
    frame."""
    spark = SparkSession.getActiveSession()
    edge_rows = tool_transition_edges(routed).collect()
    if not edge_rows:
        raise ValueError(
            "tool_pagerank: no tool→tool transitions in input"
        )
    edges = [(r["src"], r["dst"], int(r["n"])) for r in edge_rows]
    rank = _iterate_ranks(edges)
    rows = [
        {
            "tool": t,
            "pagerank_scaled": r,
            "pagerank": r / SCALE,
        }
        for t, r in sorted(rank.items())
    ]
    return spark.createDataFrame(rows, RANK_SCHEMA)


def tool_cooccurrence(routed: DataFrame) -> DataFrame:
    """Market-basket co-occurrence of tools at the CONVERSATION
    grain: for every unordered tool pair, how many conversations
    used both, and the association LIFT — n_both*N / (n_a*n_b) —
    in exact integer milli (lift is the log-free face of PMI, so
    both engines agree bit-for-bit; >1000 = the tools attract,
    <1000 = they repel). The complement of tool_pagerank's
    SEQUENTIAL transition graph: pagerank asks "what follows what",
    this asks "what travels together", the signal behind tool-
    bundling and workflow-template suggestions.

    Scale shape: distinct (conv_id, tool) is one conv+tool-keyed
    exchange over visible tool calls; the pair self-join is
    conv-keyed (per-conv fan-out bounded by the tool CATALOG size
    squared, not by turns); per-tool totals and the scalar N are
    model-sized and broadcast. Nothing turn-sized crosses the pair
    join.

    Output: (tool_a, tool_b, n_both, n_a, n_b, lift_milli).
    """
    ct = (
        routed.filter(
            (F.col("sink") != "drop_queue") & F.col("tool").isNotNull()
        )
        .select("conv_id", "tool")
        .distinct()
    )
    n_total = ct.select(
        F.countDistinct("conv_id").alias("_n")
    )
    per_tool = ct.groupBy("tool").agg(F.count(F.lit(1)).alias("n_t"))
    a = ct.select("conv_id", F.col("tool").alias("tool_a"))
    b = ct.select("conv_id", F.col("tool").alias("tool_b"))
    pairs = (
        a.join(b, "conv_id")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = per_tool.select(
        F.col("tool").alias("tool_a"), F.col("n_t").alias("n_a")
    )
    pb = per_tool.select(
        F.col("tool").alias("tool_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(pa), "tool_a")
        .join(F.broadcast(pb), "tool_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "tool_a",
            "tool_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("(n_both * _n * 1000) div (n_a * n_b)").alias(
                "lift_milli"
            ),
        )
    )
