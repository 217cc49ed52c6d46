"""as-of join (operators/asof.py) and binned range join
(operators/rangejoin.py): semantics vs hand-computed expectations and
a pandas.merge_asof cross-check, plus the plan-guard behaviors."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.asof import asof_join
from ci_log_processing_spark.operators.rangejoin import range_join_binned

T = dt.datetime


@pytest.fixture()
def left(spark):
    return spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 0, 0), 0),
            ("a", T(2024, 1, 1, 1, 0), 1),
            ("a", T(2024, 1, 1, 2, 30), 2),
            ("b", T(2024, 1, 1, 0, 30), 0),
        ],
        "k string, ts timestamp, idx int",
    )


@pytest.fixture()
def right(spark):
    return spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 0, 0), "c0", 10),
            ("a", T(2024, 1, 1, 0, 0), "c0b", 11),  # same-ts dup, higher seq
            ("a", T(2024, 1, 1, 2, 0), "c1", 12),
            ("c", T(2024, 1, 1, 0, 0), "cX", 13),  # key absent on left
        ],
        "k string, ts timestamp, state string, cfg_seq int",
    )


def _states(df):
    return {
        (r["k"], r["idx"]): r["state"]
        for r in df.collect()
    }


def test_asof_backward_with_ties_and_seq(left, right):
    out = asof_join(left, right, on=["k"], value_cols=["state"])
    assert _states(out) == {
        # exact-ts match visible; max-seq survivor wins the same-ts dup
        ("a", 0): "c0b",
        ("a", 1): "c0b",
        ("a", 2): "c1",
        ("b", 0): None,  # no prior right row for key b
    }
    assert out.count() == 4  # every left row exactly once


def test_asof_matches_pandas_merge_asof(spark):
    """Randomized parity vs pandas merge_asof(direction='backward')."""
    import numpy as np

    rng = np.random.default_rng(7)
    lrows = sorted(
        (chr(97 + int(k)), T(2024, 1, 1) + dt.timedelta(seconds=int(s)))
        for k, s in zip(rng.integers(0, 3, 200), rng.integers(0, 86400, 200))
    )
    rrows = sorted(
        {
            (chr(97 + int(k)), T(2024, 1, 1) + dt.timedelta(seconds=int(s)))
            for k, s in zip(rng.integers(0, 3, 40), rng.integers(0, 86400, 40))
        }
    )
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(lrows)],
        "k string, ts timestamp, idx int",
    )
    # (k, ts) is unique on the right: the seq tie-break never fires
    rdf = spark.createDataFrame(
        [(k, ts, f"v{i}", 0) for i, (k, ts) in enumerate(rrows)],
        "k string, ts timestamp, val string, cfg_seq int",
    )
    got = {
        r["idx"]: r["val"]
        for r in asof_join(ldf, rdf, on=["k"], value_cols=["val"]).collect()
    }
    lpd = pd.DataFrame(lrows, columns=["k", "ts"]).assign(
        idx=range(len(lrows))
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        [(k, ts, f"v{i}") for i, (k, ts) in enumerate(rrows)],
        columns=["k", "ts", "val"],
    ).sort_values("ts", kind="stable")
    exp = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    for _, row in exp.iterrows():
        want = None if pd.isna(row["val"]) else row["val"]
        assert got[row["idx"]] == want


def test_asof_rejects_clashing_value_cols(left, right):
    with pytest.raises(ValueError, match="already exist"):
        asof_join(
            left, right.withColumnRenamed("state", "idx"),
            on=["k"], value_cols=["idx"],
        )


@pytest.fixture()
def pts(spark):
    return spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 0, 30), 100),
            ("a", T(2024, 1, 1, 5, 0), 101),
            ("b", T(2024, 1, 1, 0, 15), 102),
            ("a", T(2024, 1, 1, 20, 0), 103),
        ],
        "k string, ts timestamp, pid int",
    )


@pytest.fixture()
def ivals(spark):
    return spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 0, 0), T(2024, 1, 1, 1, 0), "s1"),
            ("a", T(2024, 1, 1, 0, 20), T(2024, 1, 1, 0, 40), "s2"),
            ("b", T(2024, 1, 1, 1, 0), T(2024, 1, 1, 2, 0), "s3"),
            # spans four RANGE_BIN_SEC (6 h) bins
            ("a", T(2024, 1, 1, 5, 30), T(2024, 1, 2, 1, 0), "s4"),
        ],
        "k string, start_ts timestamp, end_ts timestamp, sid string",
    )


def test_range_join_inner_matches_exact_predicate(pts, ivals):
    got = {
        (r["pid"], r["sid"])
        for r in range_join_binned(pts, ivals, keys=["k"]).collect()
    }
    # pid 100 in both overlapping windows; pid 103 meets the
    # multi-bin window in a later bin; inclusive boundaries
    assert got == {(100, "s1"), (100, "s2"), (103, "s4")}


def test_range_join_boundaries_inclusive(spark, ivals):
    edge = spark.createDataFrame(
        [
            ("a", T(2024, 1, 1, 0, 0), 1),   # == start
            ("a", T(2024, 1, 1, 1, 0), 2),   # == end
            ("a", T(2024, 1, 1, 1, 0, 1), 3),  # 1 us past end
        ],
        "k string, ts timestamp, pid int",
    )
    got = {
        (r["pid"], r["sid"])
        for r in range_join_binned(edge, ivals, keys=["k"]).collect()
    }
    assert got == {(1, "s1"), (2, "s1")}


def test_range_join_guard_fires_on_hostile_interval(spark, pts, ivals):
    wide = ivals.withColumn(
        "end_ts", F.expr("end_ts + INTERVAL 400 DAYS")
    )
    with pytest.raises(Exception, match="spans more than"):
        range_join_binned(pts, wide, keys=["k"]).collect()


def test_asof_forward_direction_and_tolerance(spark):
    import datetime as dt

    from ci_log_processing_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [("c", 1, T(2024, 1, 1, 10, 0)), ("c", 2, T(2024, 1, 1, 12, 0)),
         ("c", 3, T(2024, 1, 1, 23, 0))],
        "conv_id string, turn_idx int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("c", T(2024, 1, 1, 11, 0), "a", 1),
         ("c", T(2024, 1, 1, 12, 0), "b", 1),
         ("c", T(2024, 1, 1, 12, 0), "b2", 2)],
        "conv_id string, ts timestamp, state string, cfg_seq int",
    )
    fwd = {
        r["turn_idx"]: r["state"]
        for r in asof_join(
            left, right, on=["conv_id"], value_cols=["state"], direction="forward",
        ).collect()
    }
    # turn 1 -> next flip at 11:00 ('a'); turn 2 -> exact match at
    # 12:00 with max-seq winner 'b2'; turn 3 -> nothing follows
    assert fwd == {1: "a", 2: "b2", 3: None}
    import pytest as _pt

    with _pt.raises(ValueError):
        asof_join(left, right, on=["conv_id"], value_cols=["state"],
                  direction="sideways")
