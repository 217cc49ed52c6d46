"""Explicit partitioning / skew handling (north rule: salted-hash
partitioning on conv_id with skew handling for long transcripts).

Why an explicit repartition instead of trusting the scan layout:
projections are pipelined into the scan stage, so the (CPU-heavy)
regex parse inherits FILE parallelism — a handful of packed parquet
splits can serialize a 32-core job (observed: local[32] no faster
than local[8] until this exchange was added). Hash-repartitioning
by conv_id right after the scan

  * moves the parse behind an exchange sized to the session's
    shuffle partitions — full CPU parallelism;
  * is the exact distribution the forward-fill window needs
    (hashpartitioning(conv_id, N)), so Catalyst reuses it and the
    window adds NO second shuffle;
  * evens out long-transcript skew across ~|convs| >> N keys.

A single pathological conversation (one conv >> one partition's
budget) still lands in one task today: the forward-fill window runs
over the whole conv, and only AQE's skew handling plus bounded conv
sizes (10^4 turns) keep that straggler bounded. Splitting the conv is
possible, not ruled out by the window: both window columns are
prefix scans with associative carries (`filled_ts` carries the
chunk's last non-null event_ts, `prior_ts_count` its count of
non-null timestamps), so a per-chunk window over (conv_id,
turn_idx // B), salted_bucket()'s key, plus a small per-conv fold of
chunk carries gives the same result. Order-insensitive stages
(aggregates) can use salted_bucket() directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def repartition_by_conv(df: DataFrame, spark: SparkSession) -> DataFrame:
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col("conv_id"))


def salted_bucket(turns_per_bucket: int = 512) -> Column:
    """(conv_id, turn_idx // B) salt for order-insensitive stages
    (counts, sums): splits a mega-conversation across partitions;
    aggregate partials are merged by a second, tiny reduce."""
    return F.concat_ws(
        "#",
        F.col("conv_id"),
        (F.col("turn_idx") / turns_per_bucket).cast("int").cast("string"),
    )


# heaviest keys key_skew_audit reports
SKEW_TOP_N = 20


def key_skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """Partition-planning diagnostic: the top-SKEW_TOP_N heaviest keys with
    their exact row share — the table you read BEFORE choosing a
    shuffle key, salt factor, or AQE skew threshold (the study that
    motivated this module's repartition_by_conv/salted_bucket pair).

    Scale shape: one partial-aggregated count shuffle over the key
    (shuffled volume = distinct keys), a TakeOrderedAndProject heap
    for the top-N (never a global sort), and a broadcast of the
    1-row total. The per-key counts are persisted (registry-scoped,
    released via dedup.release_persisted) because BOTH the top-N heap
    and the total consume them — without the persist each branch
    would re-shuffle the base data. The rank window runs over the N
    surviving rows only. share_milli is exact integer thousandths so
    the audit is engine-reproducible (no float drift).
    """
    from pyspark.sql.window import Window

    from .dedup import _register_persist

    counts = _register_persist(
        df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.col("cnt").desc(), F.col(key_col)).limit(SKEW_TOP_N)
    w = Window.orderBy(F.col("cnt").desc(), F.col(key_col))
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.col(key_col).alias("key"),
            "cnt",
            F.expr("(cnt * 1000) div total").alias("share_milli"),
            F.row_number().over(w).alias("rank"),
        )
    )


# reducers salted_join splits each key over
N_SALTS = 8


def salted_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Hot-key inner JOIN salting for when the dim side is too large to
    broadcast and the fact side's key distribution is skewed: a
    plain shuffle join sends every row of the hottest key to ONE
    reducer; salting splits that key across `N_SALTS` reducers.

    Mechanics (the classic replicate-and-scatter):
      * the FACT side gets salt = pmod(xxhash64(monotonic row id),
        N_SALTS)? No — row ids are nondeterministic under retries.
        The salt must be a pure function of row CONTENT, so it is
        pmod(h32(every fact column concatenated), N_SALTS): stable
        across retries/replays, uniform enough to split a hot key;
      * the DIM side is replicated N_SALTS times (explode over the
        salt range) — dim rows are duplicated, fact rows are not,
        so the join result is EXACTLY the unsalted join's;
      * the join runs on (key, salt) — the hot key now hashes to
        N_SALTS distinct reducers.

    Cost model: N_SALTS x dim shuffle bytes buys fact-side
    parallelism on the hot key — worth it iff the dim is much
    smaller than the fact's hot-key mass (else use AQE skew-join,
    which splits ONLY the oversized partitions at runtime; this
    operator is the deterministic-plan alternative when AQE's
    runtime stats are unavailable, e.g. under a fixed plan cache).
    Only inner/left joins are salt-safe with this scatter (a right/
    full join would multiply unmatched dim rows).

    Output: the joined frame, salt column dropped — bit-identical
    rows to fact.join(dim, key), which is what the oracle gate
    checks (the plan difference is the point, asserted in
    tests/test_plan_shape.py).
    """
    from .dedup import h32

    fact_cols = [c for c in fact.columns]
    salt = F.pmod(
        h32(F.concat_ws("\x01", *[F.col(c).cast("string")
                                  for c in fact_cols])),
        F.lit(N_SALTS),
    ).cast("int")
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])),
    )
    return f.join(d, [key, "_salt"]).drop("_salt")
