"""Data-layout operators: Z-order (Morton) clustering audit.

At 100 TB the dominant cost of a selective query is how many files
the scan can SKIP via per-file min/max statistics (parquet row-group
/ Iceberg manifest pruning). A linear layout (sorted by one key)
prunes predicates on that key only; interleaving the bits of two
keys (Z-order, as in Delta/Iceberg OPTIMIZE ZORDER BY) gives every
file a tight bounding box in BOTH dimensions, so a rectangle
predicate prunes on either. This module computes the Z-value, the
file assignment, and the min/max pruning audit that quantifies the
win — all in exact integer arithmetic so the DuckDB twin matches
bit-for-bit.

Reference parity note: the reference pipeline has no layout
optimizer (its opensearch sink owns physical layout); this is part
of the training-data tier, where the engine owns parquet layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int) -> Column:
    """Interleave the low `bits` bits of two non-negative integer
    columns into a Morton key: bit i of x lands at position 2i, bit
    i of y at 2i+1. Built as a static 2*bits-term expression tree —
    pure shift/and/or, whole-stage-codegen all the way down (no UDF,
    no interpreted lambda)."""
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


# Morton key bits per dimension, the key's top bits that name a file
# bucket, and the (x_lo, x_hi, y_lo, y_hi) rectangle the audit probes
ZORDER_BITS = 8
ZORDER_BUCKET_BITS = 6
ZORDER_PROBE = (150, 300, 100, 250)


def zorder_layout_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Assign every row to a file bucket under TWO layouts — `zorder`
    (top ZORDER_BUCKET_BITS bits of the Morton key) and `linear` (top
    ZORDER_BUCKET_BITS bits of the x rank alone, i.e. "sorted by x") —
    and emit the per-(layout, bucket) min/max audit a file-skipping
    scan planner would consult:

      (layout, bucket, n_rows, min_x, max_x, min_y, max_y,
       overlaps_probe)

    With ZORDER_PROBE = (x_lo, x_hi, y_lo, y_hi), `overlaps_probe` marks
    buckets whose bounding box intersects the rectangle — the files
    a predicate `x BETWEEN ... AND y BETWEEN ...` must read. Summing
    n_rows where overlaps_probe over each layout quantifies the
    Z-order skipping win in the result itself.

    Scale shape: ONE global min/max scalar aggregate (4 longs to the
    driver), broadcast back as literals via crossJoin of a 1-row
    frame; then a zero-shuffle projection computing ranks + Morton
    key in codegen; then one bucket-keyed partial aggregate onto at
    most 2 * 2^ZORDER_BUCKET_BITS rows. No window, no sort, no sampling —
    deterministic at any scale. (A production writer would follow
    with repartitionByRange(zbucket) + sortWithinPartitions(zval);
    the audit is the part with checkable semantics.)
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    bounds = df.agg(
        F.min(x).alias("_mnx"),
        F.max(x).alias("_mxx"),
        F.min(y).alias("_mny"),
        F.max(y).alias("_mxy"),
    )
    top = (1 << ZORDER_BITS) - 1
    withb = df.select(x.alias("_x"), y.alias("_y")).crossJoin(
        F.broadcast(bounds)
    )
    # exact integer rescale: ((v - mn) * top) div max(span, 1)
    rx = F.expr(
        f"((_x - _mnx) * {top}) div greatest(_mxx - _mnx, 1)"
    ).cast("long")
    ry = F.expr(
        f"((_y - _mny) * {top}) div greatest(_mxy - _mny, 1)"
    ).cast("long")
    keyed = withb.select(
        "_x",
        "_y",
        zorder_key(rx, ry, ZORDER_BITS).alias("_z"),
        rx.alias("_rx"),
    )
    zbucket = F.shiftright(F.col("_z"), 2 * ZORDER_BITS - ZORDER_BUCKET_BITS)
    lbucket = F.shiftright(F.col("_rx"), ZORDER_BITS - ZORDER_BUCKET_BITS)
    # ONE scan emits both layout labels (inline explode of a 2-struct
    # array) instead of a union of two scans — at 100 TB the second
    # full pass over the corpus is the cost that matters, and the
    # exploded rows are 3 small ints each
    both = keyed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    zbucket.alias("bucket"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    lbucket.alias("bucket"),
                ),
            )
        ).alias("_lb"),
        "_x",
        "_y",
    ).select("_lb.layout", "_lb.bucket", "_x", "_y")
    out = both.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_x").alias("min_x"),
        F.max("_x").alias("max_x"),
        F.min("_y").alias("min_y"),
        F.max("_y").alias("max_y"),
    )
    x_lo, x_hi, y_lo, y_hi = ZORDER_PROBE
    return out.withColumn(
        "overlaps_probe",
        (F.col("min_x") <= x_hi)
        & (F.col("max_x") >= x_lo)
        & (F.col("min_y") <= y_hi)
        & (F.col("max_y") >= y_lo),
    )
