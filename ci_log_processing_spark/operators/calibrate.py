"""Score calibration — binned reliability table + EXACT isotonic fit.

A learned quality gate (nb_quality_classifier, model_quality_scores)
emits scores; curation thresholds them (quality_top_fraction). The
missing piece between the two is CALIBRATION: "score 7 bits" means
nothing until it is mapped to an empirical keep-worthiness rate, and
threshold transfer across corpus snapshots only works on calibrated
outputs. The standard tool is the reliability diagram + isotonic
regression (monotone non-parametric calibration; Zadrozny & Elkan
2002) — sklearn's IsotonicRegression in the small-data world.

Spark-first shape: the ONLY corpus-sized work is one partial+final
aggregate to per-bin (n, positives) counts; everything after runs on
the <= n_bins-row bin table. Isotonic regression is NOT computed by
the sequential PAVA sweep (driver-side recursion) but by its exact
closed form — for bin i the fitted value is

    iso(i) = max_{a <= i} min_{b >= i} mean(rate over bins a..b)

(the minimax characterization of isotonic regression / the slope of
the greatest convex minorant of the cumulative sum diagram; see
Robertson, Wright & Dykstra, "Order Restricted Statistical
Inference", 1988, eq. 1.9-1.13). That formula is three relational
steps over the bin table — (a, b) pooled rates from cumulative-sum
differences, a min over b >= i, a max over a <= i — i.e. O(B^3) rows
for B bins, a constant, and thus expressible IDENTICALLY in Spark
and DuckDB with zero iteration.

Determinism contract: pooled rates are floored integer MICRO units
((10^6 * pos) // n) BEFORE the min/max lattice, so every comparison
is exact int64 and both engines agree bit-for-bit. Flooring each
pooled rate before pooling comparisons is a <= 1-micro quantization
of the classical fit — the monotonicity of iso(i) is unaffected
(max-min over a fixed matrix of integers is monotone in i by the
same lattice argument as the real-valued proof).

Scale shape at 100 TB: one aggregate over the scored corpus
(shuffles B rows), two global scalars (min/max score) from the same
scan via a broadcast cross-join, then bin-table-only joins — the
planner sees <= B-row relations and broadcasts everything. The
single-partition window below runs over <= B rows by construction
(the bounded-window pattern of curation.py's top-k rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def reliability_isotonic(scored: DataFrame, n_bins: int = 8) -> DataFrame:
    """Per-bin reliability + exact isotonic calibration.

    Input: one row per document with an integer score column and a
    0/1 label column (e.g. nb_quality_classifier output scored
    against its weak labels — the standard reliability audit of a
    trained gate).

    Binning is equal-WIDTH over the observed [min, max] score span:
    bin = ((score - min) * n_bins) div (max - min + 1), an exact
    integer in [0, n_bins). Equal-width (not quantile) keeps the
    corpus pass one aggregate — quantile edges would need a second
    distributed pass and add nothing to the calibration contract.

    Output, one row per NON-EMPTY bin, ordered by bin:
      (bin, score_lo, n, pos, rate_micro, iso_micro)
    where rate_micro = (10^6 * pos) div n is the raw empirical rate
    and iso_micro the isotonic (monotone non-decreasing) fit in the
    same micro units. score_lo is the bin's inclusive lower score
    edge, for applying the table as a calibrator downstream.
    """
    if n_bins < 1:
        raise ValueError(f"reliability_isotonic: n_bins={n_bins} < 1")
    base = scored.select(
        F.col("score_bits").cast("long").alias("_s"),
        F.col("label").cast("long").alias("_y"),
    )
    span = base.agg(
        F.min("_s").alias("_mn"), F.max("_s").alias("_mx")
    )
    bins = (
        base.crossJoin(F.broadcast(span))
        .select(
            F.expr(f"((_s - _mn) * {n_bins}) div (_mx - _mn + 1)")
            .cast("long")
            .alias("bin"),
            "_y",
            "_mn",
            "_mx",
        )
        .groupBy("bin", "_mn", "_mx")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("pos"))
        .select(
            "bin",
            # inclusive lower edge: smallest s with that bin index
            F.expr(
                f"_mn + (bin * (_mx - _mn + 1) + {n_bins} - 1) div {n_bins}"
            )
            .cast("long")
            .alias("score_lo"),
            "n",
            "pos",
        )
    )
    # bin table is <= n_bins rows from here on — bounded window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "score_lo",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    lo = cum.select(
        F.col("bin").alias("a"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cpos") - F.col("pos")).alias("cpos_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("b"),
        F.col("cn").alias("cn_hi"),
        F.col("cpos").alias("cpos_hi"),
    )
    pooled = lo.join(hi, F.col("a") <= F.col("b")).select(
        "a",
        "b",
        F.expr("(1000000 * (cpos_hi - cpos_lo)) div (cn_hi - cn_lo)")
        .cast("long")
        .alias("rate_ab"),
    )
    idx = cum.select(F.col("bin").alias("i"))
    minimax = (
        idx.join(
            pooled, (F.col("a") <= F.col("i")) & (F.col("b") >= F.col("i"))
        )
        .groupBy("i", "a")
        .agg(F.min("rate_ab").alias("m"))
        .groupBy("i")
        .agg(F.max("m").alias("iso_micro"))
    )
    return (
        cum.join(minimax, cum["bin"] == minimax["i"])
        .select(
            "bin",
            "score_lo",
            "n",
            "pos",
            F.expr("(1000000 * pos) div n").cast("long").alias("rate_micro"),
            "iso_micro",
        )
        .orderBy("bin")
    )
