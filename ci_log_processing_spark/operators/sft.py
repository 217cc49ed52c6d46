"""Training-example construction from routed transcripts — the step
that turns the log pipeline's output into model-ready data, bridging
the reference's log-shipping semantics (routing, per-sink counts;
logsender.py:467-495) to the training-data tier.

Three operators:

* conversation_select — per-conversation quality roll-up + selection
  flag (the transcript-level analog of document-level curation:
  pick conversations worth training on).
* context_windows — sliding-context SFT example construction: for
  every visible assistant turn, the previous N visible turns as the
  prompt context and the turn itself as the target.
* preference_pairs — retry-repair preference-pair mining: every
  failed tool call paired with the next SUCCESSFUL call of the same
  tool in the same conversation (rejected, chosen) — the
  transcript-native DPO/RLHF pair construction.

All three ride the conv-keyed hash partition the parse->route
pipeline already established as their ONLY exchange —
preference_pairs' (conv, tool) repair window is satisfied by the
conv_id clustering (subset-key co-location) and its repair text
comes from a struct-min inside the window, not a join — so at
100 TB nothing corpus-sized shuffles beyond that one key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# conversation_select's bar: fewest visible turns, largest error
# fraction, fewest tool-call turns of a selected conversation
SFT_MIN_TURNS = 5
SFT_MAX_ERROR_FRAC = 0.2
SFT_MIN_TOOL_CALLS = 1


def conversation_select(routed: DataFrame) -> DataFrame:
    """Per-conversation quality roll-up over the routed table, with a
    deterministic training-selection flag: a conversation is selected
    iff it has >= SFT_MIN_TURNS VISIBLE turns (drop_queue excluded),
    its error fraction (errors / visible) is <= SFT_MAX_ERROR_FRAC,
    and it contains >= SFT_MIN_TOOL_CALLS tool-call turns. This is document-
    level curation lifted to the conversation grain — the unit a
    transcript-SFT corpus actually samples.

    Scale shape: ONE count-only groupBy on conv_id. The routed
    pipeline already hash-partitions on conv_id (operators/skew.py),
    so the aggregate's exchange is reused where the plan allows and
    the partial aggregation is map-side everywhere else; output is
    one row per conversation. No joins, no windows.

    Output: (conv_id, n_turns, n_visible, n_errors, n_tool_calls,
    n_dropped, error_frac, selected).
    """
    visible = F.col("n_visible")
    per = routed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("sink") != "drop_queue").cast("long")).alias(
            "n_visible"
        ),
        F.sum((F.col("sink") == "errors").cast("long")).alias("n_errors"),
        F.sum((F.col("sink") == "tool_calls").cast("long")).alias(
            "n_tool_calls"
        ),
        F.sum((F.col("sink") == "drop_queue").cast("long")).alias(
            "n_dropped"
        ),
    )
    error_frac = F.when(
        visible > 0,
        F.round(F.col("n_errors") / visible.cast("double"), 5),
    ).otherwise(F.lit(0.0))
    return per.select(
        "conv_id",
        "n_turns",
        "n_visible",
        "n_errors",
        "n_tool_calls",
        "n_dropped",
        error_frac.alias("error_frac"),
        (
            (visible >= SFT_MIN_TURNS)
            & (error_frac <= SFT_MAX_ERROR_FRAC)
            & (F.col("n_tool_calls") >= SFT_MIN_TOOL_CALLS)
        ).alias("selected"),
    )


# prompt context of a context_windows example, in visible turns
SFT_CONTEXT_TURNS = 4


def context_windows(routed: DataFrame) -> DataFrame:
    """Sliding-context SFT example construction: one training example
    per visible ASSISTANT turn, whose prompt context is the previous
    <= SFT_CONTEXT_TURNS visible turns rendered as 'role: message' lines and
    whose target is the turn's own message. Dropped turns (the
    drop_queue sink) are excluded BEFORE the window, so context never
    leaks preamble/empty/no-metadata rows — the same visibility rule
    the sinks enforce.

    Scale shape: one conv-keyed window
    (rowsBetween -SFT_CONTEXT_TURNS..-1)
    over the pipeline's existing conv_id partitioning; collect_list
    over the ordered frame is per-frame-bounded state
    (<= SFT_CONTEXT_TURNS rows), and the assistant filter happens
    after the window without a second exchange. No joins, nothing corpus-sized on the driver.

    Output: (conv_id, turn_idx, n_context_turns, context, target);
    context is '' for a conversation-opening assistant turn.
    """
    visible = routed.filter(F.col("sink") != "drop_queue").select(
        "conv_id", "turn_idx", "role", "message"
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-SFT_CONTEXT_TURNS, -1)
    )
    ctx = F.collect_list(
        F.concat_ws(": ", F.col("role"), F.col("message"))
    ).over(w)
    return (
        visible.select(
            "conv_id",
            "turn_idx",
            "role",
            "message",
            ctx.alias("_ctx"),
        )
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id",
            "turn_idx",
            F.size("_ctx").alias("n_context_turns"),
            F.array_join(F.col("_ctx"), "\n").alias("context"),
            F.col("message").alias("target"),
        )
    )


def preference_pairs(routed: DataFrame) -> DataFrame:
    """Retry-repair preference-pair mining over routed transcripts:
    for every FAILED tool call (a tool_calls turn whose next visible
    turn in the conversation is an error), find the next call of the
    SAME tool in the SAME conversation that did NOT fail, and emit
    the two invocation texts as a (rejected, chosen) preference pair.
    This is the transcript-native analog of DPO/RLHF pair
    construction: the failed attempt and its eventual repair share
    the conversation context, the tool, and the agent's intent — the
    delta between the two texts is exactly the correction signal a
    preference model trains on. Outcome attribution (next visible
    turn, 'terminal' when the conversation ends on the call) is the
    same rule as tool_outcomes; a terminal call counts as a success
    (it did not visibly fail).

    Scale shape: the outcome lead() runs inside the conv_id
    partitioning the pipeline already established (same exchange
    class as ffill/tool_outcomes); the repair lookup is a
    (conv_id, tool)-keyed window — min over a (turn_idx, message)
    STRUCT of the following successes (ROWS 1 FOLLOWING..UNBOUNDED;
    struct min orders on turn_idx first, and turn_idx is unique per
    conversation, so the min struct carries the repair's text along
    with its index). Because (conv_id, tool) clustering is satisfied
    by HashPartitioning(conv_id) — window keys only need co-location,
    and conv_id is a subset of them — the repair window adds a LOCAL
    sort, not a shuffle: the whole operator costs the one conv-keyed
    exchange the pipeline already pays (plan-asserted in
    tests/test_plan_shape.py). The struct-min matters: fetching the
    chosen text with a self-join instead re-derives the ENTIRE
    upstream pipeline for the second join side (measured: two full
    parse lineages in the plan) — the window form keeps one lineage,
    zero joins, nothing quadratic.

    Output: (conv_id, tool, rejected_idx, chosen_idx, rejected_text,
    chosen_text, gap_turns) — one row per failed call that has a
    later same-tool success in its conversation.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    calls = (
        routed.filter(F.col("sink") != "drop_queue")
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            "sink",
            "message",
            F.coalesce(F.lead("sink").over(w), F.lit("terminal")).alias(
                "outcome"
            ),
        )
        .filter(F.col("sink") == "tool_calls")
        .select("conv_id", "turn_idx", "tool", "message", "outcome")
    )
    w_repair = (
        Window.partitionBy("conv_id", "tool")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    repair = F.min(
        F.when(
            F.col("outcome") != "errors",
            F.struct("turn_idx", "message"),
        )
    ).over(w_repair)
    return (
        calls.withColumn("repair", repair)
        .filter(
            (F.col("outcome") == "errors") & F.col("repair").isNotNull()
        )
        .select(
            "conv_id",
            "tool",
            F.col("turn_idx").alias("rejected_idx"),
            F.col("repair.turn_idx").alias("chosen_idx"),
            F.col("message").alias("rejected_text"),
            F.col("repair.message").alias("chosen_text"),
            (F.col("repair.turn_idx") - F.col("turn_idx"))
            .cast("long")
            .alias("gap_turns"),
        )
    )


def rl_trajectories(df: DataFrame) -> DataFrame:
    """Per-conversation trajectory export for RL/agent training: the
    ordered (role:tool:sink) step sequence of every conversation's
    VISIBLE turns plus step counts and an exact-integer terminal
    reward — the serialization an offline-RL/agent-distillation
    stack consumes (trajectory, return) per episode.

    reward_milli = ((n_steps - n_errors) * 1000) div n_steps — the
    error-free step fraction in exact integer division (a policy-
    gradient consumer can rescale; the point is both engines agree
    bit-for-bit).

    Order is forced, not assumed: collect_list is shuffle-order-
    unstable, so steps collect as (turn_idx, step) structs, are
    array_sort-ed (struct order = field order, turn_idx first,
    turn_idx unique per conv), then projected to the step strings —
    the same force-the-order trick as the pipeline's stable turn
    ordering. One conv-keyed aggregate riding the pipeline's
    existing conv_id partitioning; per-group state is one
    conversation's turns, bounded by max transcript length.

    Output: (conv_id, n_steps, n_tool_calls, n_errors,
    reward_milli, traj) — traj is the '|'-joined step string (flat
    string, not array, so the driver's order-insensitive value hash
    can compare it cell-for-cell against the oracle).
    """
    step = F.concat_ws(
        ":",
        F.col("role"),
        F.coalesce(F.col("tool"), F.lit("-")),
        F.col("sink"),
    )
    agg = (
        df.filter(F.col("sink") != "drop_queue")
        .select(
            "conv_id",
            F.struct(F.col("turn_idx"), step.alias("s")).alias("_st"),
            F.col("sink"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_steps"),
            F.sum(
                F.when(F.col("sink") == "tool_calls", 1).otherwise(0)
            ).alias("n_tool_calls"),
            F.sum(
                F.when(F.col("sink") == "errors", 1).otherwise(0)
            ).alias("n_errors"),
            F.array_sort(F.collect_list("_st")).alias("_steps"),
        )
    )
    return agg.select(
        "conv_id",
        "n_steps",
        "n_tool_calls",
        "n_errors",
        F.expr("((n_steps - n_errors) * 1000) div n_steps").alias(
            "reward_milli"
        ),
        F.array_join(
            F.transform(F.col("_steps"), lambda s: s["s"]), "|"
        ).alias("traj"),
    )


def chat_lint(df: DataFrame) -> DataFrame:
    """Chat-template LINT over routed transcripts: the structural
    validation an SFT corpus runs before rendering conversations into
    a chat template — malformed role structure silently teaches the
    model broken dialogue turns. Per conversation (VISIBLE turns
    only; drop_queue rows are already the pipeline's row-level lint):

    * opens_role / ends_role — who speaks first and last; a
      conversation that ends on a user turn is an unanswered
      question and fails the lint.
    * n_role_repeats — consecutive visible turns with the SAME role
      (user;user or assistant;assistant), the classic alternation
      violation chat templates reject or force-merge.
    * n_tool_wo_assistant — tool-invocation turns whose previous
      visible turn is NOT an assistant turn: an orphan call with no
      visible request, the transcript analog of a tool result whose
      call was dropped.
    * lint_ok — no repeats, no orphan tool calls, ends on an
      assistant turn.

    Scale shape: one lag(role) window inside the conv_id
    partitioning the pipeline already established, then a conv-keyed
    rollup riding the SAME exchange (group key == window partition
    key). opens/ends come from min/max over (turn_idx, role) structs
    — turn_idx is unique per conversation, so the struct extrema are
    deterministic; no sort beyond the window's, no joins, output is
    conversation-sized.

    Output: (conv_id, n_visible, opens_role, ends_role,
    n_role_repeats, n_tool_wo_assistant, lint_ok).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    visible = (
        df.filter(F.col("sink") != "drop_queue")
        .select("conv_id", "turn_idx", "role")
        .withColumn("_prev", F.lag("role").over(w))
    )
    agg = visible.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.min(F.struct("turn_idx", "role")).alias("_first"),
        F.max(F.struct("turn_idx", "role")).alias("_last"),
        F.sum(
            F.when(F.col("role") == F.col("_prev"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        ).alias("n_role_repeats"),
        F.sum(
            (
                (F.col("role") == "tool")
                & (F.coalesce(F.col("_prev"), F.lit("")) != "assistant")
            ).cast("long")
        ).alias("n_tool_wo_assistant"),
    )
    return agg.select(
        "conv_id",
        "n_visible",
        F.col("_first.role").alias("opens_role"),
        F.col("_last.role").alias("ends_role"),
        "n_role_repeats",
        "n_tool_wo_assistant",
        (
            (F.col("n_role_repeats") == 0)
            & (F.col("n_tool_wo_assistant") == 0)
            & (F.col("_last.role") == "assistant")
        ).alias("lint_ok"),
    )


def render_chat(routed: DataFrame) -> DataFrame:
    """Chat-template rendering — the LAST step of an SFT export:
    collapse each conversation's visible turns into the ONE training
    string the trainer tokenizes, in ChatML:
    <|im_start|>role\\nmessage<|im_end|> per turn, turns joined by
    newline (the de-facto open-weights markup).
    Dropped turns (drop_queue sink) are excluded BEFORE rendering —
    the same visibility rule every sft.py operator enforces, so a
    rendered conversation can never leak preamble/empty rows.

    Scale shape: ONE conv-keyed aggregate riding the pipeline's
    existing conv_id partitioning; per-turn markup happens inside a
    per-row transform AFTER collect_list, and the in-conversation
    ordering comes from array_sort over (turn_idx, ...) structs —
    order-independent of shuffle arrival, the repo-wide determinism
    rule for per-group sequences. State per group is the
    conversation itself (bounded by max turns), never corpus-sized.

    Output: (conv_id, n_turns, n_assistant_turns, text).
    """
    def render(x):
        return F.concat(
            F.lit("<|im_start|>"),
            x["role"],
            F.lit("\n"),
            x["message"],
            F.lit("<|im_end|>"),
        )

    turns = routed.filter(F.col("sink") != "drop_queue").select(
        "conv_id", "turn_idx", "role", "message"
    )
    agged = turns.groupBy("conv_id").agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "role", "message"))
        ).alias("_t")
    )
    return agged.select(
        "conv_id",
        F.size("_t").cast("long").alias("n_turns"),
        F.size(
            F.filter(F.col("_t"), lambda x: x["role"] == "assistant")
        )
        .cast("long")
        .alias("n_assistant_turns"),
        F.array_join(
            F.transform(F.col("_t"), render), "\n"
        ).alias("text"),
    )
