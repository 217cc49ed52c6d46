"""log_templates (operators/aggregate.py) and conv_dedup
(operators/dedup.py): semantics vs hand-computed expectations."""

import pytest

from ci_log_processing_spark.operators.aggregate import log_templates
from ci_log_processing_spark.operators.dedup import conv_dedup

ROUTED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "message string, sink string"
)


@pytest.fixture()
def routed_df(spark):
    rows = [
        ("A", 0, "user", None, "added port 808", "agent_turns"),
        ("A", 1, "user", None, "added port 1336", "agent_turns"),
        ("A", 2, "user", None, "event at 10:22:14.5 on host-58", "errors"),
        ("B", 0, "user", None, "added port 808", "agent_turns"),
        ("B", 1, "user", None, "dropped", "drop_queue"),  # invisible
        ("C", 0, "user", None, "no digits here", "agent_turns"),
    ]
    return spark.createDataFrame(rows, ROUTED_SCHEMA)


def test_log_templates_masks_digit_tokens(routed_df):
    out = {r.template: r for r in log_templates(routed_df).collect()}
    t = out["added port <*>"]
    # three messages across two convs collapse onto one template
    assert (t.n_msgs, t.n_convs) == (3, 2)
    assert t.example == "added port 1336"  # min() of the raw texts
    # every digit-bearing token masks, including timestamps and
    # digit-bearing hostnames
    assert "event at <*> on <*>" in out
    # digit-free messages survive verbatim
    assert out["no digits here"].n_msgs == 1
    # dropped turns never reach the miner
    assert "dropped" not in out


def test_conv_dedup_marks_exact_copies(spark):
    rows = [
        # A and C are byte-identical transcripts; B differs in turn 1
        ("A", 0, "user", None, "hello", "agent_turns"),
        ("A", 1, "assistant", None, "world", "agent_turns"),
        ("C", 0, "user", None, "hello", "agent_turns"),
        ("C", 1, "assistant", None, "world", "agent_turns"),
        ("B", 0, "user", None, "hello", "agent_turns"),
        ("B", 1, "assistant", None, "mars", "agent_turns"),
    ]
    out = {
        r.conv_id: r
        for r in conv_dedup(
            spark.createDataFrame(rows, ROUTED_SCHEMA)
        ).collect()
    }
    assert out["A"].fp == out["C"].fp != out["B"].fp
    assert out["A"].n_copies == out["C"].n_copies == 2
    # keeper = min conv_id within the fingerprint
    assert out["A"].keeper and not out["C"].keeper
    assert out["B"].keeper and out["B"].n_copies == 1


def test_conv_dedup_ignores_dropped_turns_and_respects_order(spark):
    rows = [
        # A == B once B's dropped turn is excluded
        ("A", 0, "user", None, "x", "agent_turns"),
        ("A", 1, "user", None, "y", "agent_turns"),
        ("B", 0, "user", None, "x", "agent_turns"),
        ("B", 1, "user", None, "junk", "drop_queue"),
        ("B", 2, "user", None, "y", "agent_turns"),
        # D has the same turn SET as A but in the other order
        ("D", 0, "user", None, "y", "agent_turns"),
        ("D", 1, "user", None, "x", "agent_turns"),
    ]
    out = {
        r.conv_id: r
        for r in conv_dedup(
            spark.createDataFrame(rows, ROUTED_SCHEMA)
        ).collect()
    }
    assert out["A"].fp == out["B"].fp
    assert out["A"].fp != out["D"].fp  # order matters
    assert out["B"].n_turns == 2  # dropped turn excluded from count
