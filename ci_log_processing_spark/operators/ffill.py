"""Timestamp forward-fill — the reference's per-file running
`last_known_timestamp` (logsender.py:394-413; golden:
tests/test_logsender.py:992-1010) as a window function.

Reference semantics per file, in line order:
  * a line with a parseable timestamp sets last_known_timestamp;
  * a line without one inherits the previous value;
  * if nothing has been seen yet, the reference stamps utcnow() —
    replaced here by the deterministic `batch_ts` job parameter
    (SURVEY.md §4 determinism note).

`F.last(ignorenulls=True)` over an unbounded-preceding running
window is the exact translation; Spark evaluates it with a single
sort within the conv_id partition (no shuffle beyond the
partitionBy, which downstream groupBys reuse).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _running_window():
    return (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def filled_ts_col(batch_ts: str) -> Column:
    """Forward-filled event_ts with batch_ts fallback."""
    ffill = F.last(F.col("event_ts"), ignorenulls=True).over(_running_window())
    return F.coalesce(ffill, F.lit(batch_ts).cast("timestamp"))


def prior_ts_count_col() -> Column:
    """Parseable timestamps seen strictly before this turn within the
    conversation. Drives the journald-preamble rule (drop the
    '-- Logs begin at ' line only while nothing has been timestamped
    yet — logsender.py:399-401)."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.count(F.col("event_ts")).over(w)


def with_filled_ts(df: DataFrame, batch_ts: str) -> DataFrame:
    """Add `filled_ts` (filled_ts_col)."""
    return df.withColumn("filled_ts", filled_ts_col(batch_ts))


def with_prior_ts_count(df: DataFrame) -> DataFrame:
    """Add `prior_ts_count` (prior_ts_count_col)."""
    return df.withColumn("prior_ts_count", prior_ts_count_col())
