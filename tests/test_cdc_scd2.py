"""apply_cdc (operators/snapshot.py) and scd2_intervals
(operators/enrich.py): semantics vs hand-computed expectations."""

from datetime import datetime

from ci_log_processing_spark.operators.enrich import scd2_intervals
from ci_log_processing_spark.operators.snapshot import apply_cdc


def test_apply_cdc_merge_semantics(spark):
    base = spark.createDataFrame(
        [(1, "one", "s"), (2, "two", "s"), (3, "three", "s")],
        "doc_id long, text string, source string",
    )
    changes = spark.createDataFrame(
        [
            # key 1: update then delete — delete wins by seq
            (1, "U", 1, "one-v2", "s"),
            (1, "D", 2, "one-v2", "s"),
            # key 2: two updates — last writer wins
            (2, "U", 1, "two-v2", "s"),
            (2, "U", 2, "two-v3", "s"),
            # key 4: fresh insert
            (4, "I", 1, "four", "s"),
        ],
        "doc_id long, op string, seq long, text string, source string",
    )
    out = {r.doc_id: r.text for r in apply_cdc(base, changes).collect()}
    assert out == {2: "two-v3", 3: "three", 4: "four"}


def test_apply_cdc_empty_changes_is_identity(spark):
    base = spark.createDataFrame(
        [(1, "one", "s")], "doc_id long, text string, source string"
    )
    changes = spark.createDataFrame(
        [], "doc_id long, op string, seq long, text string, source string"
    )
    assert apply_cdc(base, changes).collect() == base.collect()


def test_scd2_intervals_chain(spark):
    ts = datetime
    cfg = spark.createDataFrame(
        [
            ("A", ts(2024, 1, 1), "init", 1),
            ("A", ts(2024, 1, 5), "active", 2),
            ("A", ts(2024, 1, 9), "closed", 3),
            ("B", ts(2024, 2, 1), "init", 1),
        ],
        "conv_id string, cfg_ts timestamp, cfg_state string, cfg_seq long",
    )
    out = {
        (r.conv_id, r.version): r for r in scd2_intervals(cfg).collect()
    }
    a1, a2, a3 = out[("A", 1)], out[("A", 2)], out[("A", 3)]
    # intervals chain with no gap: each valid_to = next valid_from
    assert a1.valid_to == a2.valid_from
    assert a2.valid_to == a3.valid_from
    assert a3.valid_to is None and a3.is_current
    assert not a1.is_current and not a2.is_current
    assert (a1.state, a2.state, a3.state) == ("init", "active", "closed")
    assert out[("B", 1)].is_current


def test_scd2_ties_break_by_seq(spark):
    ts = datetime(2024, 1, 1)
    cfg = spark.createDataFrame(
        [("A", ts, "first", 1), ("A", ts, "second", 2)],
        "conv_id string, cfg_ts timestamp, cfg_state string, cfg_seq long",
    )
    out = {r.version: r.state for r in scd2_intervals(cfg).collect()}
    assert out == {1: "first", 2: "second"}


def test_snapshot_asof_prefix_replay(spark):
    from ci_log_processing_spark.operators.snapshot import snapshot_asof

    base = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [(1, "U", 1, "one-v2"), (1, "D", 2, "one-v2"), (3, "I", 3, "three")],
        "doc_id long, op string, seq long, text string",
    )
    # as of seq 1: only the update is visible
    v1 = {r.doc_id: r.text for r in
          snapshot_asof(base, changes, 1).collect()}
    assert v1 == {1: "one-v2", 2: "two"}
    # as of seq 2: the delete lands
    v2 = {r.doc_id: r.text for r in
          snapshot_asof(base, changes, 2).collect()}
    assert v2 == {2: "two"}
    # as of seq 3: the late insert appears
    v3 = {r.doc_id: r.text for r in
          snapshot_asof(base, changes, 3).collect()}
    assert v3 == {2: "two", 3: "three"}


def test_compaction_plan_running_sum_bins(spark):
    from ci_log_processing_spark.operators.snapshot import (
        compaction_plan,
        compaction_summary,
    )

    files = spark.createDataFrame(
        [("p", 1, 2500), ("p", 2, 2500), ("p", 3, 2500), ("q", 4, 10000)],
        "source string, doc_id long, n_chars long",
    )
    plan = {
        r.file_id: r.bin_idx
        for r in compaction_plan(files).collect()
    }
    # target 4096: cum_before 0, 2500, 5000 -> bins 0, 0, 1; q
    # restarts at 0
    assert plan == {1: 0, 2: 0, 3: 1, 4: 0}
    summ = {
        (r.part, r.bin_idx): (r.n_files, r.out_bytes)
        for r in compaction_summary(compaction_plan(files)).collect()
    }
    assert summ == {("p", 0): (2, 5000), ("p", 1): (1, 2500),
                    ("q", 0): (1, 10000)}
