"""zorder_layout_audit (operators/layout.py), cross_source_dup_matrix
(operators/dedup.py), retention_cohorts (operators/aggregate.py):
semantics vs hand-computed expectations."""

from datetime import datetime

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.aggregate import retention_cohorts
from ci_log_processing_spark.operators.dedup import cross_source_dup_matrix
from ci_log_processing_spark.operators.layout import (
    ZORDER_BUCKET_BITS,
    ZORDER_PROBE,
    zorder_key,
    zorder_layout_audit,
)


def test_zorder_key_interleaves_bits(spark):
    # x=0b101, y=0b011 -> z bits (LSB up): x0=1,y0=1,x1=0,y1=1,x2=1,y2=0
    # = 0b011011 = 27
    df = spark.range(1).select(
        zorder_key(F.lit(5).cast("long"), F.lit(3).cast("long"), 3).alias(
            "z"
        )
    )
    assert df.collect()[0].z == 27


def test_zorder_audit_partitions_all_rows(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 991).alias("n_chars"),
    )
    out = zorder_layout_audit(df, "n_chars", "doc_id").collect()
    x_lo, x_hi, y_lo, y_hi = ZORDER_PROBE
    for lay in ("zorder", "linear"):
        rows = [r for r in out if r.layout == lay]
        assert sum(r.n_rows for r in rows) == 1000
        assert len(rows) <= 2 ** ZORDER_BUCKET_BITS
        for r in rows:
            assert r.min_x <= r.max_x and r.min_y <= r.max_y
            # overlap flag is exactly the bbox-rectangle test
            expect = (
                r.min_x <= x_hi and r.max_x >= x_lo
                and r.min_y <= y_hi and r.max_y >= y_lo
            )
            assert r.overlaps_probe == expect


def test_zorder_prunes_more_than_linear_on_2d_probe(spark):
    # independent uniform dims: a rectangle selective in BOTH dims
    # must be readable from fewer rows under z-order than under the
    # x-sorted linear layout (which cannot prune on y at all)
    df = spark.range(4096).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 2654435761) % 4093).alias("n_chars"),
    )
    out = zorder_layout_audit(df, "n_chars", "doc_id").collect()
    read = {
        lay: sum(
            r.n_rows
            for r in out
            if r.layout == lay and r.overlaps_probe
        )
        for lay in ("zorder", "linear")
    }
    assert read["zorder"] < read["linear"]


def test_cross_source_matrix_canonicalizes_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "web"), (2, "code"), (3, "web"), (4, "code")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        # (code,web) and (web,code) must land in the same cell;
        # (web,web) is a diagonal entry
        [(1, 2), (4, 3), (1, 3)],
        "doc_a long, doc_b long",
    )
    out = {
        (r.source_a, r.source_b): r.n_pairs
        for r in cross_source_dup_matrix(pairs, docs).collect()
    }
    assert out == {("code", "web"): 2, ("web", "web"): 1}


def test_retention_cohorts_triangle(spark):
    ts = datetime
    events = spark.createDataFrame(
        [
            # u1: joins day 1, active days 1, 2, 4 (two events day 1)
            ("u1", ts(2024, 1, 1, 8)),
            ("u1", ts(2024, 1, 1, 9)),
            ("u1", ts(2024, 1, 2, 1)),
            ("u1", ts(2024, 1, 4, 23)),
            # u2: joins day 1, active day 1 only
            ("u2", ts(2024, 1, 1, 12)),
            # u3: joins day 2, active days 2 and 5
            ("u3", ts(2024, 1, 2, 6)),
            ("u3", ts(2024, 1, 5, 6)),
        ],
        "user_id string, ts timestamp",
    )
    out = {
        (str(r.cohort_day), r.day_offset): r.n_users
        for r in retention_cohorts(events).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 3): 1,
        ("2024-01-02", 0): 1,
        ("2024-01-02", 3): 1,
    }


def test_retention_horizon_bounds_offsets(spark):
    events = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1)),
            ("u1", datetime(2024, 6, 1)),  # offset 152 > horizon
        ],
        "user_id string, ts timestamp",
    )
    out = retention_cohorts(events).collect()
    assert max(r.day_offset for r in out) == 0
