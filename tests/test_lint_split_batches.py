"""chat_lint (operators/sft.py), volume_trend
(operators/aggregate.py), stratified_split / length_batches
(operators/curation.py): semantics vs hand-computed expectations."""

import datetime
import hashlib

from ci_log_processing_spark.operators.aggregate import volume_trend
from ci_log_processing_spark.operators.curation import (
    LENGTH_BATCH_SIZE,
    STRATIFIED_TEST_PCT,
    STRATIFIED_VAL_PCT,
    length_batches,
    stratified_split,
)
from ci_log_processing_spark.operators.sft import chat_lint

LINT_SCHEMA = "conv_id string, turn_idx int, role string, sink string"


def test_chat_lint_flags(spark):
    rows = [
        # conv A: clean user->assistant->user->assistant
        ("A", 0, "user", "agent_turns"),
        ("A", 1, "assistant", "agent_turns"),
        ("A", 2, "user", "agent_turns"),
        ("A", 3, "assistant", "agent_turns"),
        # conv B: role repeat (user;user) and ends on user
        ("B", 0, "user", "agent_turns"),
        ("B", 1, "user", "agent_turns"),
        # conv C: orphan tool call (tool after user); a DROPPED
        # assistant turn between them must NOT repair the orphan
        ("C", 0, "user", "agent_turns"),
        ("C", 1, "assistant", "drop_queue"),
        ("C", 2, "tool", "tool_calls"),
        ("C", 3, "assistant", "agent_turns"),
        # conv D: single visible turn (lag is NULL everywhere)
        ("D", 0, "assistant", "agent_turns"),
        # conv E: proper tool call: assistant then tool, ends assistant
        ("E", 0, "assistant", "agent_turns"),
        ("E", 1, "tool", "tool_calls"),
        ("E", 2, "assistant", "agent_turns"),
    ]
    out = {
        r.conv_id: r
        for r in chat_lint(
            spark.createDataFrame(rows, LINT_SCHEMA)
        ).collect()
    }
    a = out["A"]
    assert (a.n_visible, a.opens_role, a.ends_role) == (4, "user", "assistant")
    assert (a.n_role_repeats, a.n_tool_wo_assistant, a.lint_ok) == (0, 0, True)
    b = out["B"]
    assert (b.n_role_repeats, b.ends_role, b.lint_ok) == (1, "user", False)
    c = out["C"]
    assert c.n_visible == 3  # dropped turn excluded
    assert (c.n_tool_wo_assistant, c.lint_ok) == (1, False)
    d = out["D"]
    assert (d.n_role_repeats, d.n_tool_wo_assistant, d.lint_ok) == (0, 0, True)
    e = out["E"]
    assert (e.n_role_repeats, e.n_tool_wo_assistant, e.lint_ok) == (0, 0, True)


TREND_SCHEMA = "sink string, subsystem string, filled_ts timestamp"


def _ts(day, hour=0):
    return datetime.datetime(2024, 1, day, hour, 0, 0)


def test_volume_trend_slope(spark):
    rows = []
    # sink 'up': counts 1,2,3 on days 1,2,3 -> slope exactly +1/day
    for day, n in [(1, 1), (2, 2), (3, 3)]:
        rows += [("up", "s", _ts(day, h)) for h in range(n)]
    # sink 'down': counts 5,3,1 -> slope exactly -2/day
    for day, n in [(1, 5), (2, 3), (3, 1)]:
        rows += [("down", "s", _ts(day, h)) for h in range(n)]
    # sink 'one': a single observed day -> NULL slope
    rows += [("one", "s", _ts(2))]
    out = {
        r.sink: r
        for r in volume_trend(
            spark.createDataFrame(rows, TREND_SCHEMA)
        ).collect()
    }
    assert out["up"].slope_milli == 1000
    assert out["down"].slope_milli == -2000
    assert out["up"].n_days == 3 and out["up"].total_rows == 6
    assert out["up"].first_day == "2024-01-01"
    assert out["up"].last_day == "2024-01-03"
    assert out["one"].slope_milli is None and out["one"].n_days == 1


DOCS_SCHEMA = "doc_id long, source string, text string"


def _docs(spark, per_source):
    rows = []
    i = 0
    for src, n in per_source.items():
        for _ in range(n):
            rows.append((i, src, "w " * (i % 7 + 1)))
            i += 1
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_stratified_split_exact_proportions(spark):
    assert (STRATIFIED_VAL_PCT, STRATIFIED_TEST_PCT) == (10, 10)
    docs = _docs(spark, {"a": 20, "b": 10, "c": 3})
    out = stratified_split(docs).collect()
    counts = {}
    for r in out:
        counts.setdefault(r.source, {}).setdefault(r.split, 0)
        counts[r.source][r.split] += 1
    # exact floors: a: 2 test / 2 val / 16 train; b: 1/1/8;
    # c (n=3): floor(0.3)=0 test, floor(0.3)=0 val -> all train
    assert counts["a"] == {"test": 2, "val": 2, "train": 16}
    assert counts["b"] == {"test": 1, "val": 1, "train": 8}
    assert counts["c"] == {"train": 3}
    assert len(out) == 33  # complete: every doc assigned exactly once


def test_stratified_split_deterministic_and_seeded(spark):
    docs = _docs(spark, {"a": 12})
    one = sorted((r.doc_id, r.split) for r in stratified_split(docs).collect())
    two = sorted((r.doc_id, r.split) for r in stratified_split(docs).collect())
    assert one == two
    # the draw is the md5('split1' || id) rank order: of 12 docs,
    # floor(1.2) = 1 goes to test and the next 1 to val
    ranked = sorted(
        range(12),
        key=lambda i: (hashlib.md5(f"split1{i}".encode()).hexdigest(), i),
    )
    want = {i: "train" for i in range(12)}
    want[ranked[0]], want[ranked[1]] = "test", "val"
    assert one == sorted(want.items())


def test_length_batches_chunking_and_waste(spark):
    assert LENGTH_BATCH_SIZE == 8
    rows = [
        # source a: token counts 10..1 -> desc order, 8 per batch:
        # batch 0 = (10..3): waste = (80-52)*1000 div 80 = 350
        # batch 1 = (2,1): waste = (4-3)*1000 div 4 = 250
        *[(10 - n, "a", " ".join(["w"] * n)) for n in range(10, 0, -1)],
        # source b: equal lengths -> zero waste, one short batch
        (10, "b", "x y"),
        (11, "b", "x y"),
        (12, "b", "x y"),
    ]
    out = {
        (r.source, r.batch_id): r
        for r in length_batches(
            spark.createDataFrame(rows, DOCS_SCHEMA)
        ).collect()
    }
    assert set(out) == {("a", 0), ("a", 1), ("b", 0)}
    a0, a1 = out[("a", 0)], out[("a", 1)]
    assert (a0.n_docs, a0.max_tokens, a0.min_tokens) == (8, 10, 3)
    assert (a0.sum_tokens, a0.pad_waste_milli) == (52, 350)
    assert (a1.n_docs, a1.max_tokens, a1.pad_waste_milli) == (2, 2, 250)
    b0 = out[("b", 0)]
    assert (b0.n_docs, b0.pad_waste_milli) == (3, 0)


def test_sft_composition_gates_conversations(spark):
    """chat_lint x conversation_select jointly gate which
    conversations produce context-window examples."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.sft import (
        chat_lint,
        context_windows,
        conversation_select,
    )

    rows = []
    # conv G: good — 5 visible turns, a proper tool call, ends on
    # assistant, no errors
    for i, (role, tool, sink) in enumerate([
        ("user", None, "agent_turns"),
        ("assistant", None, "agent_turns"),
        ("tool", "grep", "tool_calls"),
        ("user", None, "agent_turns"),
        ("assistant", None, "agent_turns"),
    ]):
        rows.append(("G", i, role, tool, f"m{i}", sink))
    # conv B: orphan tool call (tool after user) — lint rejects it
    for i, (role, tool, sink) in enumerate([
        ("user", None, "agent_turns"),
        ("tool", "grep", "tool_calls"),
        ("assistant", None, "agent_turns"),
        ("user", None, "agent_turns"),
        ("assistant", None, "agent_turns"),
    ]):
        rows.append(("B", i, role, tool, f"m{i}", sink))
    routed = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, "
        "message string, sink string",
    )
    lint_ok = chat_lint(routed).filter(
        (F.col("n_tool_wo_assistant") == 0)
        & (F.col("ends_role") == "assistant")
    ).select("conv_id")
    sel = conversation_select(routed).filter("selected").select(
        "conv_id"
    )
    kept = routed.join(
        F.broadcast(lint_ok.join(sel, "conv_id")), "conv_id",
        "left_semi",
    )
    ex = context_windows(kept).collect()
    assert {r.conv_id for r in ex} == {"G"}
    assert all(r.target.startswith("m") for r in ex)


def test_render_chat_templates_and_visibility(spark):
    from ci_log_processing_spark.operators.sft import render_chat

    rows = [
        ("c1", 1, "user", "hi", "agent_turns"),
        ("c1", 3, "assistant", "hello", "agent_turns"),
        ("c1", 2, "system", "boot noise", "drop_queue"),
        ("c2", 1, "assistant", "solo", "agent_turns"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "message string, sink string"
    )
    got = {r["conv_id"]: r for r in render_chat(df).collect()}
    # dropped turn excluded; order by turn_idx regardless of input order
    assert got["c1"]["n_turns"] == 2
    assert got["c1"]["n_assistant_turns"] == 1
    assert got["c1"]["text"] == (
        "<|im_start|>user\nhi<|im_end|>\n"
        "<|im_start|>assistant\nhello<|im_end|>"
    )
    assert got["c2"]["text"] == "<|im_start|>assistant\nsolo<|im_end|>"
