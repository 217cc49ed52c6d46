"""Binned range join — match point rows to interval rows
(start <= point_ts <= end) without the cartesian blow-up.

Spark executes a bare inequality join as BroadcastNestedLoopJoin
(or a cartesian product when neither side broadcasts): O(|P|·|I|)
per key group, which is exactly the plan that dies first at 100 TB.
The standard fix (used by range-join hints in other engines) is
binning:

  1. choose a bin width W (seconds);
  2. every interval explodes into the bins it overlaps
     [floor(start/W) .. floor(end/W)] — sequence() + explode;
  3. every point maps to its single bin floor(ts/W);
  4. equi-join on (keys..., bin) — a plain shuffled hash join
     Catalyst can plan, AQE can re-balance, and skew-join can split;
  5. re-check the exact predicate start <= ts <= end.

Each (point, interval) pair can only meet in the point's one bin, so
no post-join dedup is needed. Cost: the interval side is replicated
ceil(len/W)+1 times — pick W near the typical interval length so the
replication factor stays O(1). A deliberately hostile interval
(len >> W) would silently explode rows, so `max_bins_per_interval`
fails fast at runtime instead (raise_error inside the plan — the
same guard style as the LSH bucket cap, operators/dedup.py).

Reference analog: the builds-to-lines attachment walks files inside
one build dir imperatively (logsender.py:125-141); distributed, the
"which session/build window does this line fall into" lookup is this
join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    point_ts: str = "ts",
    bin_sec: int = 3600,
    max_bins_per_interval: int = 1024,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row (same `keys`) whose
    [start_ts, end_ts] contains point_ts; inclusive both ends.
    `how` is "inner" or "left" (left keeps unmatched points with
    NULL interval columns).
    """
    if bin_sec <= 0:
        raise ValueError("range_join_binned: bin_sec must be positive")
    if how not in ("inner", "left"):
        raise ValueError("range_join_binned: how must be inner|left")
    clash = (set(intervals.columns) - set(keys)) & set(points.columns)
    if clash:
        raise ValueError(
            f"range_join_binned: overlapping non-key columns {sorted(clash)}"
        )

    def _epoch(c):
        # NTZ timestamps cannot cast straight to long under ANSI;
        # the ltz hop is a no-op for ltz inputs and a fixed
        # session-tz shift for ntz — either way the same monotonic
        # mapping is applied to points and intervals, which is all
        # binning needs
        return F.col(c).cast("timestamp_ltz").cast("long")

    s_bin = F.floor(_epoch("start_ts") / bin_sec)
    e_bin = F.floor(_epoch("end_ts") / bin_sec)
    n_bins = e_bin - s_bin + F.lit(1)
    guarded = F.when(
        n_bins > max_bins_per_interval,
        F.raise_error(
            F.concat(
                F.lit(
                    "range_join_binned: interval spans more than "
                    f"{max_bins_per_interval} bins of {bin_sec}s — raise "
                    "bin_sec or split the interval: "
                ),
                F.col("start_ts").cast("string"),
                F.lit(" .. "),
                F.col("end_ts").cast("string"),
            )
        ).cast("long"),
    ).otherwise(s_bin)
    binned_intervals = intervals.withColumn(
        "_bin", F.explode(F.sequence(guarded, e_bin))
    )
    binned_points = points.withColumn(
        "_bin", F.floor(_epoch(point_ts) / bin_sec)
    )
    cond = [binned_points[k] == binned_intervals[k] for k in keys] + [
        binned_points["_bin"] == binned_intervals["_bin"]
    ]
    exact = (F.col(point_ts) >= F.col("start_ts")) & (
        F.col(point_ts) <= F.col("end_ts")
    )
    ival_cols = [c for c in intervals.columns if c not in keys]
    matched = (
        binned_points.join(binned_intervals, cond, "inner")
        .filter(exact)
        .select(
            *[binned_points[c] for c in points.columns],
            *[binned_intervals[c] for c in ival_cols],
        )
    )
    if how == "inner":
        return matched
    # left: unmatched points re-derived with a null-safe anti-join on
    # every point column (plain equality would mis-keep matched rows
    # that carry NULLs), then padded with NULL interval columns.
    seen = matched.select(*points.columns).dropDuplicates()
    anti_cond = [
        points[c].eqNullSafe(seen[c]) for c in points.columns
    ]
    unmatched = points.join(seen, anti_cond, "left_anti").select(
        "*",
        *[
            F.lit(None).cast(intervals.schema[c].dataType).alias(c)
            for c in ival_cols
        ],
    )
    return matched.unionByName(unmatched)
