"""As-of join — attach to each left row the latest right row at or
before its timestamp, per key (the "nearest prior state" lookup every
log pipeline eventually needs: which config/deploy/session state was
live when this line was emitted).

The reference resolves prior state imperatively while walking a
build dir (last_known_timestamp carry in logsender.py:394-413 is the
degenerate self-join case of this). A literal Spark translation
would be a range join — `l.ts >= r.ts` — which Catalyst executes as
a broadcast-nested-loop or cartesian filter: O(|L|·|R|) per key and
a scale killer.

The scale shape used here is union + running window (the standard
distributed merge of two time-ordered streams):

  1. tag right rows side=0, left rows side=1, union by name;
  2. ONE exchange on the key, ONE sort on (ts, side, seq);
  3. every left row picks up `last(value, ignorenulls=True)` over
     rows unbounded-preceding..current — i.e. the latest right row
     sorted at-or-before it;
  4. keep side=1 rows.

Cost: a single hash exchange + sort of |L|+|R| rows — the same plan
class as the pipeline's other conv-keyed windows, so at 100 TB it
rides the existing partitioning instead of introducing a join
explosion. Ties: a right row with ts == left ts IS visible
(side 0 sorts first), matching DuckDB/pandas `ASOF JOIN` /
`merge_asof(direction="backward", allow_exact_matches=True)`.
Duplicate right rows on the same (key, ts) resolve to the one with
the greatest `seq_col` — the seq is simply the window's third sort
key, so determinism costs zero extra exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    value_cols: list[str],
    seq_col: str | None = None,
    tolerance_sec: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: left rows gain `value_cols` from the closest
    right row on equal `on` keys, both sides timed by their `ts`
    column — backward (latest right ts <= left ts, the default) or
    forward (earliest right ts >= left ts; the "next scheduled
    event" / trade-vs-next-quote direction). NULLs when no
    qualifying right row exists.

    seq_col: deterministic tie-breaker among right rows sharing
    (on, ts) — the row with the greatest seq_col wins. When None,
    (on, ts) must already be unique on `right`.
    tolerance_sec: when set, matches older than this many seconds
    are nulled out (pandas merge_asof `tolerance` semantics).

    A NULL in a right row's value column is treated as "no update"
    (the forward-fill skips it to the previous non-null state) — the
    config-state reading, not pandas' propagate-the-NULL reading.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"asof_join: direction={direction!r} not backward/forward"
        )
    if not value_cols:
        raise ValueError("asof_join: value_cols must be non-empty")
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: value_cols {sorted(clash)} already exist on left"
        )

    # seq_col becomes a third sort key instead of a pre-dedup
    # groupBy: among right rows sharing (key, ts) the max-seq row
    # sorts LAST inside the running frame, so last(ignorenulls)
    # picks exactly the deterministic survivor — zero extra
    # exchanges (a groupBy on (key, ts) would not ride the (key)
    # partitioning of the window and costs its own shuffle)
    seq_expr = (
        F.col(seq_col).cast("long") if seq_col is not None else F.lit(None).cast("long")
    )
    r = right.select(
        *on,
        F.col("ts").alias("_asof_ts"),
        F.lit(0).alias("_side"),
        seq_expr.alias("_seq"),
        *[F.col(c) for c in value_cols],
    )
    l_tagged = left.select(
        "*",
        F.col("ts").alias("_asof_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_seq"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    merged = l_tagged.unionByName(r, allowMissingColumns=True)

    # forward = the SAME running-frame plan scanned in reverse time
    # order: the closest following right row is the last non-null in
    # the frame. At equal ts the right row still sorts before the
    # left (side 0 < 1: exact matches qualify in both directions),
    # and among right rows sharing (key, ts) max seq still sorts
    # last, so last(ignorenulls) keeps the deterministic survivor.
    ts_order = (
        F.col("_asof_ts").asc()
        if direction == "backward"
        else F.col("_asof_ts").desc()
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(
            ts_order,
            F.col("_side").asc(),
            F.col("_seq").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = [
        F.last(F.col(c), ignorenulls=True).over(w).alias(c)
        for c in value_cols
    ]
    matched_ts = F.last(
        F.when(F.col("_side") == 0, F.col("_asof_ts")), ignorenulls=True
    ).over(w)

    out = merged.select(
        *[c for c in merged.columns if c not in value_cols],
        *filled,
        matched_ts.alias("_matched_ts"),
    ).filter(F.col("_side") == 1)

    if tolerance_sec is not None:
        # the ltz hop keeps the epoch cast legal under ANSI when the
        # inputs are TIMESTAMP_NTZ (no-op for ltz)
        gap = (
            F.col("_asof_ts").cast("timestamp_ltz").cast("long")
            - F.col("_matched_ts").cast("timestamp_ltz").cast("long")
        )
        stale = (gap if direction == "backward" else -gap) > F.lit(
            tolerance_sec
        )
        out = out.select(
            *[c for c in out.columns if c not in value_cols],
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in value_cols
            ],
        )
    return out.drop("_asof_ts", "_side", "_seq", "_matched_ts")
