"""event_funnel (operators/aggregate.py) and k_anonymity_audit
(operators/curation.py): semantics vs hand-computed expectations."""

from datetime import datetime

from ci_log_processing_spark.operators.aggregate import event_funnel
from ci_log_processing_spark.operators.curation import k_anonymity_audit


def test_event_funnel_sequential_rule(spark):
    ts = datetime
    events = spark.createDataFrame(
        [
            # u1 completes the whole path in order
            ("u1", ts(2024, 1, 1, 1), "view"),
            ("u1", ts(2024, 1, 1, 2), "click"),
            ("u1", ts(2024, 1, 1, 3), "purchase"),
            # u2 views and clicks, never purchases
            ("u2", ts(2024, 1, 2, 1), "view"),
            ("u2", ts(2024, 1, 2, 2), "click"),
            # u3 PURCHASED BEFORE VIEWING: counts for view only
            ("u3", ts(2024, 1, 3, 5), "purchase"),
            ("u3", ts(2024, 1, 3, 6), "view"),
            # u4 clicked but never viewed: counts for nothing
            ("u4", ts(2024, 1, 4, 1), "click"),
        ],
        "user_id string, ts timestamp, event_type string",
    )
    out = {r.step_name: r for r in event_funnel(events).collect()}
    assert out["view"].n_users == 3
    assert out["click"].n_users == 2
    assert out["purchase"].n_users == 1
    assert out["view"].conv_milli is None
    # 2 of 3 viewers clicked -> (2*1000) div 3 = 666 exact
    assert out["click"].conv_milli == 666
    assert out["purchase"].conv_milli == 500


def test_event_funnel_same_timestamp_counts(spark):
    events = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1, 1), "view"),
            ("u1", datetime(2024, 1, 1, 1), "click"),  # ts == view ts
        ],
        "user_id string, ts timestamp, event_type string",
    )
    out = {r.step_name: r.n_users for r in event_funnel(events).collect()}
    assert out == {"view": 1, "click": 1, "purchase": 0}


def test_k_anonymity_audit_flags_small_combos(spark):
    rows = (
        # 6 docs share (web, en, bucket 1) -> safe at k=5
        [(i, "web", "en", 150) for i in range(6)]
        # 2 docs in (code, fr, bucket 3) -> at risk
        + [(10, "code", "fr", 390), (11, "code", "fr", 350)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    )
    out = {
        (r.source, r.lang, r.len_bucket): (r.n_docs, r.at_risk)
        for r in k_anonymity_audit(docs).collect()
    }
    assert out[("web", "en", 1)] == (6, False)
    assert out[("code", "fr", 3)] == (2, True)
