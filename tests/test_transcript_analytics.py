"""agent_loop_runs / conversation_funnel / turn_transition_matrix
(operators/aggregate.py) and cms_token_counts / curriculum_order
(operators/curation.py): semantics vs hand-computed expectations and
pure-Python references."""

import hashlib
from collections import Counter

import pytest

from ci_log_processing_spark.operators.aggregate import (
    agent_loop_runs,
    conversation_funnel,
    turn_transition_matrix,
)
from ci_log_processing_spark.operators.curation import (
    CMS_CANDIDATES_K,
    CMS_DEPTH,
    CMS_SEED,
    CMS_WIDTH,
    cms_token_counts,
    curriculum_order,
)

ROUTED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "message string, sink string"
)


@pytest.fixture()
def routed(spark):
    rows = [
        # conv A: a 3-long retry loop on (search, q1), then a change
        ("A", 0, "assistant", "search", "q1", "tool_calls"),
        ("A", 1, "assistant", "search", "q1", "tool_calls"),
        ("A", 2, "assistant", "search", "q1", "tool_calls"),
        ("A", 3, "assistant", "search", "q2", "tool_calls"),
        ("A", 4, "assistant", None, "done", "errors"),
        # conv B: no runs (alternating), dropped turn breaks nothing
        ("B", 0, "user", None, "hi", "agent_turns"),
        ("B", 1, "assistant", "grep", "x", "tool_calls"),
        ("B", 2, "assistant", "grep", "y", "tool_calls"),
        ("B", 3, "user", None, "", "drop_queue"),
        # conv C: run of 2 identical no-tool turns
        ("C", 0, "user", None, "same", "agent_turns"),
        ("C", 1, "user", None, "same", "agent_turns"),
    ]
    return None, rows  # built per-test to vary schema if needed


def _df(spark, rows):
    return spark.createDataFrame(rows, ROUTED_SCHEMA)


def test_agent_loop_runs_islands(spark, routed):
    _, rows = routed
    out = {
        (r.conv_id, r.start_turn): (r.tool, r.run_len, r.end_turn)
        for r in agent_loop_runs(_df(spark, rows)).collect()
    }
    # conv A: exactly one qualifying run (turns 0-2); q2 breaks it
    assert out[("A", 0)] == ("search", 3, 2)
    # conv C: identical (no-tool, message) turns form a run too
    assert out[("C", 0)] == ("", 2, 1)
    # conv B: message changes every turn -> no run; drop_queue never
    # participates
    assert not any(k[0] == "B" for k in out)
    assert len(out) == 2


def test_conversation_funnel_milestones(spark, routed):
    _, rows = routed
    out = {r.conv_id: r for r in
           conversation_funnel(_df(spark, rows)).collect()}
    a = out["A"]
    assert (a.n_turns, a.n_routed, a.n_errors) == (5, 5, 1)
    assert (a.first_tool_turn, a.first_error_turn) == (0, 4)
    assert a.error_after_tool is True
    b = out["B"]
    assert (b.n_turns, b.n_routed, b.n_errors) == (4, 3, 0)
    assert b.first_tool_turn == 1 and b.first_error_turn is None
    assert b.error_after_tool is False  # coalesced, not NULL
    c = out["C"]
    assert c.first_tool_turn is None and c.error_after_tool is False


def test_turn_transitions_role_chain(spark, routed):
    _, rows = routed
    out = {
        (r.prev_state, r.state): (r.n_transitions, r.p)
        for r in turn_transition_matrix(_df(spark, rows)).collect()
    }
    # conv A: asst->asst x4; conv B (drop excluded): user->asst,
    # asst->asst; conv C: user->user
    assert out[("assistant", "assistant")] == (5, 1.0)
    assert out[("user", "assistant")][0] == 1
    assert out[("user", "user")][0] == 1
    assert out[("user", "assistant")][1] == 0.5
    assert sum(n for n, _ in out.values()) == 7


DOCS_SCHEMA = "doc_id long, text string"


def _cms_cell(i, token):
    """Python twin of curation.cms_cell_array's row-i cell."""
    key = f"{CMS_SEED}{i}:{token}".encode()
    return int(hashlib.md5(key).hexdigest()[:8], 16) % CMS_WIDTH


def test_cms_overestimates_and_matches_counter(spark):
    rows = [
        (i, f"w{i % 7} common common w{i % 3}") for i in range(40)
    ]
    # one planted token per sketch row that shares 'common''s cell in
    # that row, so every one of its cells is inflated
    for i in range(CMS_DEPTH):
        j = 0
        while _cms_cell(i, f"x{j}") != _cms_cell(i, "common"):
            j += 1
        rows.append((100 + i, f"x{j}"))
    # singletons past the candidate count, so the top-k cut is real
    rows += [(200 + i, f"f{i:02d}") for i in range(CMS_CANDIDATES_K)]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    got = cms_token_counts(docs).collect()
    truth = Counter(
        t for _, text in rows for t in text.lower().split(" ") if t
    )
    top = sorted(truth, key=lambda t: (-truth[t], t))[:CMS_CANDIDATES_K]
    sketch = Counter()
    for t, n in truth.items():
        for i in range(CMS_DEPTH):
            sketch[(i, _cms_cell(i, t))] += n
    assert len(truth) > CMS_CANDIDATES_K
    assert {r.token: r.rank for r in got} == {
        t: rank for rank, t in enumerate(top, 1)
    }
    for r in got:
        # exact side agrees with the Python counter; the estimate is
        # the min over the Python sketch's cells, so it never
        # underestimates (the one-sided CMS guarantee)
        assert truth[r.token] == r.exact_n
        assert r.cms_n == min(
            sketch[(i, _cms_cell(i, r.token))] for i in range(CMS_DEPTH)
        )
        assert r.cms_n >= r.exact_n
        assert r.inflation == r.cms_n - r.exact_n
    assert {r.token: r.inflation for r in got}["common"] > 0


def test_curriculum_order_matches_python_reference(spark):
    # 60 docs across 3 stages; within-stage order must equal the
    # md5(seed||id) order and stages must be strictly ordered
    rows = [(i, i % 3) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, stage int")
    out = sorted(
        curriculum_order(docs).collect(),
        key=lambda r: r.curriculum_idx,
    )
    from ci_log_processing_spark.operators.dedup import (
        release_persisted,
    )

    release_persisted()
    expect = sorted(
        rows,
        key=lambda t: (
            t[1],
            hashlib.md5(f"curr1{t[0]}".encode()).hexdigest(),
            t[0],
        ),
    )
    assert [r.curriculum_idx for r in out] == list(range(60))
    assert [(r.doc_id, r.stage) for r in out] == expect


def test_tool_outcomes_distribution(spark, routed):
    from ci_log_processing_spark.operators.aggregate import (
        tool_outcomes,
    )

    _, rows = routed
    out = {
        (r["tool"], r["outcome"]): r
        for r in tool_outcomes(_df(spark, rows)).collect()
    }
    # conv A: search@0->tool_calls, @1->tool_calls, @2->tool_calls,
    # @3->errors; conv B: grep@1->tool_calls, grep@2->terminal (the
    # drop_queue turn at 3 is excluded BEFORE the window)
    assert out[("search", "tool_calls")]["n"] == 3
    assert out[("search", "errors")]["n"] == 1
    assert out[("search", "tool_calls")]["n_calls"] == 4
    assert out[("search", "errors")]["frac"] == 0.25
    assert out[("grep", "tool_calls")]["n"] == 1
    assert out[("grep", "terminal")]["n"] == 1
    assert out[("grep", "terminal")]["frac"] == 0.5
    assert len(out) == 4


def test_tool_latency_gap_ends_at_next_any_sink(spark):
    """where_sink filters AFTER the lead window: a tool call's gap
    ends at the next turn of ANY sink, not the next tool call."""
    from datetime import datetime

    from ci_log_processing_spark.operators.aggregate import (
        turn_latency_percentiles,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, sec)

    rows = [
        ("A", 0, "bash", "tool_calls", t0),
        ("A", 1, None, "agent_turns", ts(3)),   # gap 3000 ms
        ("A", 2, "bash", "tool_calls", ts(10)),
        ("A", 3, None, "errors", ts(11)),       # gap 1000 ms
        ("A", 4, "grep", "tool_calls", ts(20)), # terminal: no gap
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, tool string, sink string, "
        "filled_ts timestamp",
    )
    out = {
        r["tool"]: r
        for r in turn_latency_percentiles(
            df, group_col="tool", where_sink="tool_calls"
        ).collect()
    }
    # grep's call has no next turn -> no gap row at all
    assert set(out) == {"bash"}
    assert out["bash"]["n_calls"] == 2
    assert out["bash"]["p50_ms"] == 1000
    assert out["bash"]["p95_ms"] == 3000


def test_tool_health_composition_and_terminal_tool(spark):
    from datetime import datetime

    from ci_log_processing_spark.operators.aggregate import tool_health

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, sec)

    rows = [
        # bash: 2 calls -> one errors next (gap 2s), one agent next
        # (gap 4s) => err_frac 0.5, p50 = 2000 (rank ceil(.5*2)=1)
        ("A", 0, "bash", "tool_calls", ts(0)),
        ("A", 1, None, "errors", ts(2)),
        ("A", 2, "bash", "tool_calls", ts(10)),
        ("A", 3, None, "agent_turns", ts(14)),
        # grep: single call, conversation ends -> terminal outcome,
        # NO gap row => null percentiles, err_frac 0.0
        ("B", 0, "grep", "tool_calls", ts(0)),
        # drop_queue never counts as "next"
        ("B", 1, None, "drop_queue", ts(1)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, tool string, sink string, "
        "filled_ts timestamp",
    )
    out = {r["tool"]: r for r in tool_health(df).collect()}
    assert set(out) == {"bash", "grep"}
    b = out["bash"]
    assert (b["n_calls"], b["err_frac"], b["p50_ms"], b["p95_ms"]) == (
        2, 0.5, 2000, 4000,
    )
    g = out["grep"]
    assert (g["n_calls"], g["err_frac"]) == (1, 0.0)
    assert g["p50_ms"] is None and g["p95_ms"] is None


def test_conversation_select_rollup_and_flag(spark, routed):
    from ci_log_processing_spark.operators.sft import (
        SFT_MAX_ERROR_FRAC,
        SFT_MIN_TURNS,
        conversation_select,
    )

    _, rows = routed
    out = {
        r["conv_id"]: r
        for r in conversation_select(_df(spark, rows)).collect()
    }
    # A: 5 visible, 1 error (0.2), 4 tool calls -> selected, on the
    # bar (5 turns, 0.2 error fraction)
    a = out["A"]
    assert (SFT_MIN_TURNS, SFT_MAX_ERROR_FRAC) == (5, 0.2)
    assert (a["n_turns"], a["n_visible"], a["n_errors"]) == (5, 5, 1)
    assert a["error_frac"] == 0.2 and a["selected"]
    b = out["B"]  # 3 visible < SFT_MIN_TURNS, 1 dropped, no errors
    assert (b["n_visible"], b["n_dropped"]) == (3, 1)
    assert not b["selected"]
    c = out["C"]  # 2 visible < min_turns, 0 tool calls
    assert not c["selected"] and c["error_frac"] == 0.0


def test_conversation_select_all_dropped_conv(spark):
    from ci_log_processing_spark.operators.sft import conversation_select

    rows = [("Z", 0, "user", None, "", "drop_queue")]
    df = spark.createDataFrame(rows, ROUTED_SCHEMA)
    r = conversation_select(df).collect()[0]
    # error_frac must be 0.0 (not a div-by-zero) and never selected
    assert r["n_visible"] == 0 and r["error_frac"] == 0.0
    assert not r["selected"]


def test_context_windows_frames_and_visibility(spark, routed):
    from ci_log_processing_spark.operators.sft import (
        SFT_CONTEXT_TURNS,
        context_windows,
    )

    _, rows = routed
    # conv D: SFT_CONTEXT_TURNS + 2 visible turns, then a dropped turn,
    # before its last assistant turn, so the frame's lower bound cuts
    # the oldest two
    n = SFT_CONTEXT_TURNS + 2
    d_rows = [
        ("D", i, "user", None, f"m{i}", "agent_turns") for i in range(n)
    ] + [
        ("D", n, "user", None, "", "drop_queue"),
        ("D", n + 1, "assistant", None, "last", "agent_turns"),
    ]
    out = context_windows(_df(spark, rows + d_rows)).collect()
    by_key = {(r["conv_id"], r["turn_idx"]): r for r in out}
    # only assistant turns produce examples
    assert all(k in by_key for k in [("A", 0), ("A", 4), ("B", 1)])
    assert ("B", 0) not in by_key and ("C", 0) not in by_key
    # opening assistant turn: empty context
    r = by_key[("A", 0)]
    assert r["n_context_turns"] == 0 and r["context"] == ""
    # frame is the previous <= SFT_CONTEXT_TURNS (4) VISIBLE turns, in
    # turn order
    r = by_key[("A", 4)]
    assert r["n_context_turns"] == 4
    assert r["context"] == (
        "assistant: q1\nassistant: q1\nassistant: q1\nassistant: q2"
    )
    assert r["target"] == "done"
    # D: exactly the SFT_CONTEXT_TURNS most recent visible turns
    r = by_key[("D", n + 1)]
    assert r["n_context_turns"] == SFT_CONTEXT_TURNS
    assert r["context"] == "\n".join(
        f"user: m{i}" for i in range(n - SFT_CONTEXT_TURNS, n)
    )
    # B's dropped turn_idx=3 never appears in any context
    assert all("drop" not in r["context"] for r in out)


def test_context_windows_single_exchange_plan(spark, routed):
    from ci_log_processing_spark.operators.sft import context_windows

    _, rows = routed
    q = context_windows(_df(spark, rows))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # one conv-keyed exchange feeding the window; no joins at all
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan, plan


def test_preference_pairs_retry_repair(spark):
    from ci_log_processing_spark.operators.sft import preference_pairs

    rows = [
        # X: failed search at 0, repaired at 2; failed grep at 4
        # with NO later grep success -> no grep pair
        ("X", 0, "assistant", "search", "try1", "tool_calls"),
        ("X", 1, "assistant", None, "boom", "errors"),
        ("X", 2, "assistant", "search", "try2", "tool_calls"),
        ("X", 3, "user", None, "ok", "agent_turns"),
        ("X", 4, "assistant", "grep", "g1", "tool_calls"),
        ("X", 5, "assistant", None, "err", "errors"),
        # Y: dropped turn must NOT mask the error outcome (Y0's next
        # VISIBLE turn is the error at Y2); two failures chain to the
        # same terminal repair at Y5 (terminal counts as success)
        ("Y", 0, "assistant", "search", "a", "tool_calls"),
        ("Y", 1, "user", None, "", "drop_queue"),
        ("Y", 2, "assistant", None, "e", "errors"),
        ("Y", 3, "assistant", "search", "b", "tool_calls"),
        ("Y", 4, "assistant", None, "e2", "errors"),
        ("Y", 5, "assistant", "search", "c", "tool_calls"),
    ]
    out = {
        (r.conv_id, r.rejected_idx): (
            r.tool,
            r.chosen_idx,
            r.rejected_text,
            r.chosen_text,
            r.gap_turns,
        )
        for r in preference_pairs(_df(spark, rows)).collect()
    }
    assert out == {
        ("X", 0): ("search", 2, "try1", "try2", 2),
        ("Y", 0): ("search", 5, "a", "c", 5),
        ("Y", 3): ("search", 5, "b", "c", 2),
    }


def test_watermark_detects_greenlist_text(spark):
    """Generate text by greedily picking green-hash successors (the
    watermark embedder's rule) -> suspect; unwatermarked word soup
    stays below the z threshold; < 2 tokens never scored."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    vocab = [f"w{i}" for i in range(50)]
    cur, wm = "w0", ["w0"]
    for _ in range(60):
        nxt = next(
            w for w in vocab
            if h32("wm1" + cur + "\x01" + w) % 2 == 0
        )
        wm.append(nxt)
        cur = nxt
    # deterministic unwatermarked text: LCG over the vocab
    x, rnd = 7, []
    for _ in range(61):
        x = (x * 1103515245 + 12345) % 50
        rnd.append(vocab[x])
    rows = [
        (1, " ".join(wm)),
        (2, " ".join(rnd)),
        (3, "single"),
        (4, ""),
    ]
    from ci_log_processing_spark.operators.textstats import (
        watermark_scores,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in watermark_scores(df).collect()}
    assert got[1]["n_scored"] == 60 and got[1]["n_green"] == 60
    assert got[1]["suspect"] is True and got[1]["green_milli"] == 1000
    assert got[2]["suspect"] is False
    # ~half green for unwatermarked: inside 2 sigma of n/2
    n, g = got[2]["n_scored"], got[2]["n_green"]
    assert (2 * g - n) ** 2 <= 4 * n
    assert got[3]["n_scored"] == 0 and got[3]["suspect"] is False
    # empty text splits to [''] -> 1 token -> unscored
    assert got[4]["n_scored"] == 0 and got[4]["suspect"] is False


def test_source_keyness_flags_planted_term(spark):
    """A term concentrated in one source must rank #1 there with
    overrep=True, and chi2 must match a scipy-free python 2x2."""
    rows = []
    did = 0
    for i in range(30):
        rows.append((did, "srcA", "alpha beta gamma " + ("zebra " * 5).strip()))
        did += 1
    for i in range(30):
        rows.append((did, "srcB", "alpha beta gamma delta delta"))
        did += 1
    from ci_log_processing_spark.operators.textstats import (
        source_keyness,
    )
    from ci_log_processing_spark.operators.dedup import release_persisted

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = source_keyness(df).collect()
    release_persisted()
    bysrc = {}
    for r in got:
        bysrc.setdefault(r["source"], {})[r["rank"]] = r
    assert bysrc["srcA"][1]["term"] == "zebra"
    assert bysrc["srcA"][1]["overrep"] is True
    assert bysrc["srcB"][1]["term"] == "delta"
    # python reference chi2 for zebra in srcA
    a = 150           # zebra in srcA (30 docs * 5)
    y_w, n_s = 150, 30 * 8
    N = 30 * 8 + 30 * 5
    b, c = y_w - a, n_s - a
    d = N - n_s - b
    t = a * d - b * c
    chi2 = (1000.0 * N) * t * t / (
        float(y_w) * (N - y_w) * n_s * (N - n_s)
    )
    import math

    assert bysrc["srcA"][1]["chi2_milli"] == math.floor(chi2)
    # under-represented terms carry overrep=False ('delta' in srcA
    # never reaches min_count there, so check srcB's view of zebra
    # is absent — zebra has 0 instances in srcB, below min_count)
    assert all(r["term"] != "zebra" for r in got if r["source"] == "srcB")


def test_eval_token_f1_reference_cases(spark):
    from ci_log_processing_spark.operators.textstats import (
        eval_token_f1,
    )

    rows = [
        (1, "the cat sat", "the cat sat"),        # perfect
        (2, "the cat sat", "a dog ran"),          # zero overlap
        (3, "a a b", "a b b"),                    # multiset: common=2
        (4, "", ""),                              # both empty -> 1000
        (5, "x", ""),                             # one empty -> 0
        (6, "the the the", "the"),                # common=1
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, prediction string, reference string"
    )
    got = {r["doc_id"]: r for r in eval_token_f1(df).collect()}
    assert got[1]["f1_milli"] == 1000
    assert got[2]["f1_milli"] == 0 and got[2]["n_common"] == 0
    # pred counts: a=2, b=1; ref: a=1, b=2 -> common = 1 + 1 = 2
    assert got[3]["n_common"] == 2
    assert got[3]["f1_milli"] == (2000 * 2) // 6
    assert got[4]["f1_milli"] == 1000 and got[4]["precision_milli"] == 1000
    assert got[5]["f1_milli"] == 0 and got[5]["recall_milli"] == 0
    assert got[6]["n_common"] == 1
    assert got[6]["precision_milli"] == 333
    assert got[6]["recall_milli"] == 1000
    assert got[6]["f1_milli"] == 500
