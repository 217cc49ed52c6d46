"""dedup_threshold_curve (operators/dedup.py) and slo_burn_alert
(operators/aggregate.py): semantics vs hand-computed expectations."""

from datetime import datetime

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.aggregate import (
    SLO_LONG_HOURS,
    slo_burn_alert,
)
from ci_log_processing_spark.operators.dedup import (
    dedup_threshold_curve,
    release_persisted,
)

ROUTED_SCHEMA = (
    "conv_id string, turn_idx int, filled_ts timestamp, sink string"
)


def test_threshold_curve_is_monotone_and_consistent(spark):
    # near-identical docs (one token changed) + one unrelated doc:
    # the 16/16 tier can only shrink relative to 4/16
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact copy: est = 16/16
            (3, base.replace("zeta", "zz")),  # near: est < 16/16
            (4, "completely different text with other tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.cutoff_sixteenths: (r.n_pairs, r.n_docs)
        for r in dedup_threshold_curve(docs).collect()
    }
    release_persisted()
    assert 16 in out
    # the exact copy survives the strictest cutoff
    assert out[16][0] >= 1
    # monotone: raising the cutoff never adds pairs or docs
    cuts = sorted(out)
    for lo, hi in zip(cuts, cuts[1:]):
        assert out[lo][0] >= out[hi][0]
        assert out[lo][1] >= out[hi][1]
    # pair/doc consistency: k pairs touch at most 2k docs
    for c, (np_, nd_) in out.items():
        assert nd_ <= 2 * np_


def test_slo_burn_multiwindow_rule(spark):
    assert SLO_LONG_HOURS == 6
    ts = datetime
    rows = []
    # hours 0-5: 10 turns, 1 error each (100 milli > 50 slo)
    for h in range(6):
        for i in range(9):
            rows.append(("c", h * 100 + i, ts(2024, 1, 1, h), "agent_turns"))
        rows.append(("c", h * 100 + 99, ts(2024, 1, 1, h), "errors"))
    # hour 6: clean (0 errors) -> short burn 0, no alert even though
    # the 6h trailing window is still hot
    for i in range(10):
        rows.append(("c", 600 + i, ts(2024, 1, 1, 6), "agent_turns"))
    df = spark.createDataFrame(rows, ROUTED_SCHEMA)
    out = {
        r.window_start.hour: r
        for r in slo_burn_alert(df).collect()
    }
    assert out[0].short_burn_milli == 100
    assert out[5].long_burn_milli == 100
    assert out[5].alert
    # short window gates: clean hour never alerts
    assert out[6].short_burn_milli == 0 and not out[6].alert


def test_slo_burn_range_frame_respects_calendar_gaps(spark):
    ts = datetime
    rows = []
    # hot hour 0, then a 10-HOUR gap, then clean hour 10: the 6h
    # RANGE frame must NOT reach back across the gap
    for i in range(4):
        rows.append(("c", i, ts(2024, 1, 1, 0), "errors"))
    for i in range(10):
        rows.append(("c", 100 + i, ts(2024, 1, 1, 10), "agent_turns"))
    df = spark.createDataFrame(rows, ROUTED_SCHEMA)
    out = {
        r.window_start.hour: r
        for r in slo_burn_alert(df).collect()
    }
    assert out[0].long_burn_milli == 1000
    # a ROWS frame would have dragged hour 0's errors in here
    assert out[10].long_burn_milli == 0


def test_hashed_features_properties(spark):
    from ci_log_processing_spark.operators.textstats import (
        HASH_DIM,
        hashed_features,
    )

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a b a"), (3, "")],
        "doc_id long, text string",
    )
    out = hashed_features(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.weight
    # identical docs hash to identical vectors
    assert by_doc[1] == by_doc[2]
    # total absolute mass <= token count (signs may cancel on
    # collision, never inflate)
    assert sum(abs(w) for w in by_doc[1].values()) <= 3
    # the doc with no tokens contributes no rows
    assert 3 not in by_doc
    assert all(0 <= r.bucket < HASH_DIM for r in out)
