"""Declarative data-quality constraint audit (Deequ-style).

The reference validates records imperatively as it streams them —
per-line try/except quarantine (logscraper.py:526-540 skips broken
files, logsender.py drops rows whose timestamp fails every format) —
which answers "is THIS row ok" but never "how healthy is the
table". A training-data pipeline needs the table-level statement
before a corpus ships: null fractions, key uniqueness, accepted
value sets, range and cross-column consistency, each with an exact
violation count.

Scale shape: every check compiles to a conditional aggregate over
ONE table scan (a single Aggregate node; Catalyst plans the partial
agg map-side, so the shuffled volume is one row per partition). The
uniqueness check adds a count(DISTINCT key), which Catalyst
plans via Expand over the same single scan — no extra pass, no join.
The per-constraint output rows are exploded from the one aggregate
row, so the result is constraint-count-sized, never data-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# the key column dq_audit's uniqueness constraint counts
DQ_UNIQUE_KEY = "doc_id"


def dq_audit(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Run named constraint checks in one scan.

    `checks` maps constraint name -> boolean Column that is TRUE for
    a VIOLATING row (nulls count as violations — a row that can't
    prove it passes, fails). A `unique:<DQ_UNIQUE_KEY>` constraint
    is always added; its violation count is n_rows - n_distinct.

    Returns one row per constraint:
    (check_name, n_violations, n_rows, passed).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, cond in checks.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(cond, F.lit(True)), 1).otherwise(0)
            ).alias(f"v_{name}")
        )
    aggs.append(F.count_distinct(F.col(DQ_UNIQUE_KEY)).alias("_n_distinct"))
    agg = df.agg(*aggs)

    structs = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col(f"v_{name}").alias("n_violations"),
        )
        for name in checks
    ]
    structs.append(
        F.struct(
            F.lit(f"unique:{DQ_UNIQUE_KEY}").alias("check_name"),
            (F.col("n_rows") - F.col("_n_distinct")).alias("n_violations"),
        )
    )
    return (
        agg.select("n_rows", F.explode(F.array(*structs)).alias("c"))
        .select(
            F.col("c.check_name").alias("check_name"),
            F.col("c.n_violations").alias("n_violations"),
            "n_rows",
            (F.col("c.n_violations") == 0).alias("passed"),
        )
    )


def document_checks(allowed_langs: tuple[str, ...]) -> dict[str, Column]:
    """The standard constraint set for the documents corpus —
    null text, out-of-taxonomy lang, out-of-range n_chars, and the
    n_chars == length(text) cross-column consistency the generator
    is supposed to guarantee."""
    return {
        "not_null:text": F.col("text").isNull(),
        "accepted:lang": ~F.col("lang").isin(*allowed_langs),
        "range:n_chars": (F.col("n_chars") < 1)
        | (F.col("n_chars") > 1_000_000),
        "consistent:n_chars": F.col("n_chars") != F.length("text"),
    }


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE TABLE-style column statistics: per column, null count,
    distinct count, and min/max (serialized to string for a uniform
    schema across types). These are the stats cost-based optimizers
    and file-skipping layouts feed on (the zorder_layout_audit
    companion: that op measures how well a layout skips, this one
    produces the numbers a planner would skip WITH).

    Scale shape: every statistic is an aggregate over ONE scan;
    the n distinct-counts widen the plan via Expand (xN input rows
    map-side, combined before the single exchange) — still one pass,
    no joins, no per-column re-scan. Output is column-count-sized.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(
                F.when(F.col(c).isNull(), 1).otherwise(0)
            ).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    agg = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_value"),
            F.col(f"mx_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return agg.select(
        "n_rows", F.explode(F.array(*structs)).alias("c")
    ).select(
        F.col("c.column").alias("column"),
        "n_rows",
        F.col("c.n_nulls").alias("n_nulls"),
        F.col("c.n_distinct").alias("n_distinct"),
        F.col("c.min_value").alias("min_value"),
        F.col("c.max_value").alias("max_value"),
    )


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between two corpus
    slices/snapshots over a DISCRETE value column (lengths, token
    counts, latency buckets) — the distribution-shift audit
    complementing snapshot_drift's embedding-centroid distance:
    D = max_v |cdf_a(v) - cdf_b(v)|, the statistic behind "did this
    ingest wave change the length mix".

    Exact integer contract: with na/nb the slice sizes and
    cum_a/cum_b the cumulative counts at each observed value,
        D = max |cum_a * nb - cum_b * na| / (na * nb)
    is computed as an exact integer max over cross-multiplied terms
    and floored to d_milli = (1000 * num) div (na * nb) at the END —
    no float CDF anywhere, both engines bit-equal. The argmax value
    (lowest on ties) is exposed for triage.

    Overflow headroom: the cross-products run in decimal(38,0), not
    int64 — DuckDB's integer sum() already promotes to HUGEINT, so
    this is what keeps the two engines bit-equal PAST the int64
    cliff at na*nb ≈ 9.2e18/1000. The decimal bound is
    na*nb ≤ ~1e35 (i.e. ~3e17 rows per slice) — beyond any corpus
    this engine targets; only the final d_milli ∈ [0, 1000] is
    narrowed back to long.

    Scale shape: the value-HISTOGRAM pattern of the exact
    percentile operators — two partial+final count aggregates whose
    shuffled volume is DISTINCT VALUES (never rows), a full outer
    join on value, and a cumulative window over the distinct-value
    table. That window is single-partition by construction and
    bounded by the value domain (the same documented-bounds
    argument as latency percentiles: a discrete measurement column
    has a domain-bounded histogram; for unbounded domains bucket
    first). Output is ONE row.
    """
    va = a.select(F.col(value_col).cast("long").alias("v"))
    vb = b.select(F.col(value_col).cast("long").alias("v"))
    ha = va.groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
    hb = vb.groupBy("v").agg(F.count(F.lit(1)).alias("cb"))
    merged = ha.join(hb, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    totals = merged.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    dec = "decimal(38,0)"
    scored = cum.crossJoin(F.broadcast(totals)).select(
        "v",
        "na",
        "nb",
        F.abs(
            F.col("cum_a").cast(dec) * F.col("nb").cast(dec)
            - F.col("cum_b").cast(dec) * F.col("na").cast(dec)
        ).alias("num"),
    )
    best = scored.orderBy(F.desc("num"), F.asc("v")).limit(1)
    return best.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("v").alias("v_at_max"),
        F.expr(
            "cast(1000 as decimal(38,0)) * num"
            " div (cast(na as decimal(38,0)) * cast(nb as decimal(38,0)))"
        )
        .cast("long")
        .alias("d_milli"),
    )
