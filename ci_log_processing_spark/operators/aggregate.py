"""Per-sink grouped aggregates — the reference's monitoring
counters (`Monitoring.parse_metrics` per-job gauges,
logscraper.py:295-304) widened to the north-star shape:
counts by conv_id / severity / subsystem over hourly event-time
windows, per sink.

Plain groupBy().count(): Catalyst plans a partial (map-side)
hash aggregate before the shuffle, so the shuffled volume is the
number of distinct groups, not the number of turns — the property
that makes this viable at 10^12 turns.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hourly_agg(df: DataFrame) -> DataFrame:
    """counts by (sink, severity, subsystem, hour)."""
    return (
        df.groupBy(
            "sink",
            "severity",
            "subsystem",
            F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def append_hourly_agg(df: DataFrame, output_dir: str, batch_id: str) -> None:
    """Append hourly_agg(df), tagged with `batch_id`, to
    `<output_dir>/agg_hourly/`. The batch job and every follow
    micro-batch write this one flat table: top-level *.parquet files,
    no partition or staging subdirectories, which readers glob."""
    hourly_agg(df).withColumn("batch_id", F.lit(batch_id)).write.mode(
        "append"
    ).parquet(os.path.join(output_dir, "agg_hourly"))


def sink_counts(df: DataFrame) -> DataFrame:
    """rows per sink — the disjointness/coverage check aggregate."""
    return df.groupBy("sink").agg(F.count(F.lit(1)).alias("cnt"))


def conv_severity_counts(df: DataFrame) -> DataFrame:
    """per-conversation severity histogram (A1 analog)."""
    return df.groupBy("conv_id", "severity").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def rollup_hourly(df: DataFrame) -> DataFrame:
    """Multi-grain counts in ONE aggregate: (sink, severity, hour)
    detail plus per-(sink, severity), per-sink and grand-total
    subtotals via ROLLUP — the dashboard query family the reference
    answers with four separate Monitoring counters
    (logscraper.py:295-304), collapsed into a single pass.

    Catalyst expands the rollup BEFORE the partial aggregate, so the
    map-side combine applies to every grain and the shuffled volume
    is (distinct groups) x (grains), never rows x grains. `grain`
    (grouping_id) disambiguates a subtotal NULL from a genuine NULL
    severity — bit i set = column i rolled up.
    """
    return df.rollup(
        "sink",
        "severity",
        F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
    ).agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("grain"))


# idle gap (seconds) that closes a session_window_agg session
SESSION_GAP_SEC = 1800


def session_window_agg(df: DataFrame) -> DataFrame:
    """EVENT-TIME session windows: turns whose gap to the previous
    turn in the conversation is <= SESSION_GAP_SEC merge into one session
    (Spark merges an event landing exactly at the current window end
    — verified empirically; the oracle's island rule is `diff > gap
    starts a new session` to match). Complements the count-based
    traceback sessionization (pipe_sessionize) with the idle-gap
    definition the reference's follow loop applies between polls.

    Native F.session_window, so the IDENTICAL operator runs under
    Structured Streaming with watermark-driven state eviction — no
    bespoke gaps-and-islands window to port. Batch plan: one hash
    exchange on conv_id + sort, same class as every other conv-keyed
    stage. session_end = last event + gap (Spark's window.end).
    """
    return (
        df.filter(F.col("filled_ts").isNotNull())
        .groupBy(
            "conv_id",
            F.session_window(
                F.col("filled_ts"), f"{SESSION_GAP_SEC} seconds"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )


# sliding_window_agg's window length and slide, in seconds; the
# length must stay a multiple of the slide so the window set is
# exactly the aligned grid both engines can enumerate
SLIDING_WINDOW_SEC = 3600
SLIDING_SLIDE_SEC = 1800


def sliding_window_agg(df: DataFrame) -> DataFrame:
    """Overlapping (sliding) event-time windows — the smoothed
    rate/error-budget series a monitoring dashboard draws. Each event
    lands in SLIDING_WINDOW_SEC/SLIDING_SLIDE_SEC windows (2); F.window
    expands them BEFORE the partial aggregate, so the exchange carries
    groups x overlap rows, the same Expand-then-combine shape as the
    rollup.
    """
    return (
        df.filter(F.col("filled_ts").isNotNull())
        .groupBy(
            "sink",
            F.window(
                F.col("filled_ts"),
                f"{SLIDING_WINDOW_SEC} seconds",
                f"{SLIDING_SLIDE_SEC} seconds",
            ).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "sink",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cnt",
        )
    )


def severity_pivot_hourly(df: DataFrame) -> DataFrame:
    """Hour x severity WIDE counts — pivot with an EXPLICIT value
    list (the full grok taxonomy + NONE for unparsed lines), so no
    values-discovery job runs and the output schema is fixed at plan
    time: a single partial+final hash aggregate, one exchange on the
    hour key, n_<severity> long columns.
    """
    from ..functions.grok import SEVERITIES

    values = [*SEVERITIES, "NONE"]
    wide = (
        df.withColumn("_sev", F.coalesce(F.col("severity"), F.lit("NONE")))
        .groupBy(
            F.date_trunc("hour", F.col("filled_ts")).alias("window_start")
        )
        .pivot("_sev", values)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "window_start",
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(f"n_{v.lower()}")
            for v in values
        ],
    )


def error_spike_hours(df: DataFrame) -> DataFrame:
    """Hourly error-burst detection per subsystem: an hour is a
    SPIKE when its error count exceeds the subsystem's mean by more
    than two population standard deviations — the alerting query the
    reference answers by eyeballing its OpenSearch dashboards
    (loggearman monitoring counters, logscraper.py:295-304).

    The z-score test runs in EXACT integer arithmetic so the DuckDB
    oracle matches bit-for-bit with no float tolerance:
        n > mean + 2*sigma
     <=>  n*c - s1 > 0  AND  (n*c - s1)^2 > 4*(c*s2 - s1^2)
    with c = hours observed, s1 = sum(n), s2 = sum(n^2) per
    subsystem (multiply through by c^2; all terms are int64-exact at
    any realistic count).

    Scale shape: one partial+final hash aggregate on
    (subsystem, hour) — shuffled volume is distinct groups, not rows
    — then the stats window repartitions only those GROUP rows on
    subsystem. Nothing row-sized crosses the second exchange, so the
    plan is the same class at 10^12 turns.
    """
    from pyspark.sql.window import Window

    hourly = (
        df.filter(F.col("sink") == "errors")
        .groupBy(
            "subsystem",
            F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("subsystem")
    stats = hourly.select(
        "subsystem",
        "window_start",
        "n",
        F.count(F.lit(1)).over(w).alias("_c"),
        F.sum("n").over(w).alias("_s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("_s2"),
    )
    dev = F.col("n") * F.col("_c") - F.col("_s1")
    var4 = 4 * (F.col("_c") * F.col("_s2") - F.col("_s1") * F.col("_s1"))
    return stats.select(
        "subsystem",
        "window_start",
        "n",
        F.round(F.col("_s1") / F.col("_c"), 5).alias("mean_n"),
        ((dev > 0) & (dev * dev > var4)).alias("is_spike"),
    )


def turn_latency_percentiles(
    df: DataFrame,
    group_col: str = "sink",
    where_sink: str | None = None,
) -> DataFrame:
    """Inter-turn latency percentiles per routing class: for every
    turn, latency = gap to the NEXT turn of the same conversation,
    grouped by the current turn's sink — the tool_calls row is tool
    response latency (the reply arriving marks the call done), the
    errors row is time-to-next-activity after a failure. Exact
    discrete p50/p95/p99 per group.

    Exact percentiles distribute via the VALUE-HISTOGRAM shape, not
    a per-tool global sort: count occurrences per (tool, gap_ms) —
    a partial+final hash aggregate whose shuffled volume is distinct
    gap values — then a running-sum window over those DISTINCT-value
    rows picks the smallest gap whose cumulative count reaches
    rank_p = ceil(p * n) (type-1 / lower discrete quantile,
    integer-exact in both engines: ceil(p*n) = (p_num*n + p_den - 1)
    div p_den). The per-tool window sorts group rows, never turns,
    so a hot tool cannot recreate the single-partition global sort.
    At 10^12 turns you would reach for approx_percentile; this exact
    variant exists because the oracle gate needs bit-equality, and
    its plan is still bounded by distinct (tool, gap) pairs.

    `where_sink` keeps only the gaps whose CURRENT turn routed to
    that sink, applied AFTER the lead window — so the gap still ends
    at the next turn of ANY sink (a tool call is answered by
    whatever comes next, not by the next tool call). Filtering the
    input df instead would silently change the gap semantics.
    """
    from pyspark.sql.window import Window

    wc = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = df.withColumn("_next_ts", F.lead("filled_ts").over(wc)).filter(
        F.col("_next_ts").isNotNull()
    )
    if where_sink is not None:
        gaps = gaps.filter(F.col("sink") == where_sink)
    gaps = (
        gaps
        .select(
            group_col,
            (
                F.unix_millis(F.col("_next_ts"))
                - F.unix_millis(F.col("filled_ts"))
            ).alias("gap_ms"),
        )
    )
    hist = gaps.groupBy(group_col, "gap_ms").agg(
        F.count(F.lit(1)).alias("c")
    )
    wt = Window.partitionBy(group_col)
    cum = hist.select(
        group_col,
        "gap_ms",
        F.sum("c")
        .over(wt.orderBy("gap_ms").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )

    def pick(num: int, den: int, name: str) -> Column:
        # ceil(num*n/den) in pure integer arithmetic — no fp anywhere
        rank = F.expr(f"({num} * n + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum") >= rank, F.col("gap_ms"))).alias(
            name
        )

    return cum.groupBy(group_col).agg(
        F.max("n").alias("n_calls"),
        pick(1, 2, "p50_ms"),
        pick(19, 20, "p95_ms"),
        pick(99, 100, "p99_ms"),
    )


def hll_distinct_convs(df: DataFrame) -> DataFrame:
    """Distinct conversations per sink via a DETERMINISTIC
    HyperLogLog sketch (Flajolet et al. 2007) — the streamable,
    mergeable replacement for COUNT(DISTINCT) at 10^12 turns, where
    the exact expand-then-dedup would shuffle every (sink, conv_id)
    pair. Built from scratch on the shared md5-based h32 so the
    DuckDB oracle replays the registers bit-for-bit (Spark's own
    approx_count_distinct is also HLL++ but its hash is not
    reproducible outside the JVM).

    Register math, exact-integer end to end: h = h32(conv_id)
    (32 bits); bucket j = top 6 bits (m = 64 registers); rho =
    leading-zeros-in-low-26-bits + 1 = 27 - bitlength(w), 27 when
    w = 0. M_j = max(rho) per (sink, j) — ONE partial+final hash
    aggregate over at most sinks x 64 groups. The harmonic sum
    sum(2^-M_j) is kept integral as S = sum(2^(27 - M_j)) +
    missing_buckets * 2^27 (so sum = S / 2^27), and the raw
    estimate alpha_64 * m^2 * 2^27 / S does its only float ops on
    identical integers in both engines. Small-range correction
    (E <= 2.5m with empty registers): linear counting m*ln(m/V);
    the estimate is rounded to 2 decimals to absorb libm ulp skew.

    `exact_distinct` rides along from a second aggregate (broadcast-
    joined on the tiny sink key) so the sketch error is visible in
    the gate output — at production scale you would emit only the
    registers and merge them across partitions/days
    (hll_partial_registers / hll_estimate are exactly that seam;
    streaming/hll_stream.py merges per-micro-batch partials).
    """
    sketch = hll_estimate(hll_partial_registers(df))
    exact = df.groupBy("sink").agg(
        F.countDistinct("conv_id").alias("exact_distinct")
    )
    return sketch.join(F.broadcast(exact), "sink").select(
        "sink", "hll_distinct", "exact_distinct"
    )


_HLL_M, _HLL_WBITS = 64, 26


def hll_partial_registers(df: DataFrame) -> DataFrame:
    """The mergeable half of the sketch: (sink, j, mj) register rows
    for any slice of the data. max() is associative, commutative and
    IDEMPOTENT, so partials from partitions, micro-batches or days —
    including accidentally replayed ones — merge into the exact same
    registers the single-pass build produces. One partial+final hash
    aggregate over at most sinks x 64 groups."""
    from .dedup import h32

    wbits = _HLL_WBITS
    h = h32(F.col("conv_id"))
    j = F.shiftright(h, wbits)
    w = F.pmod(h, F.lit(1 << wbits))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(F.col("sink"), j.alias("j"), rho.alias("rho"))
        .groupBy("sink", "j")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Fold register rows (possibly partials from many slices) into
    the per-sink estimate. Re-maxing first makes the fold safe on
    already-final registers AND on stacked partials alike."""
    m, wbits = _HLL_M, _HLL_WBITS
    merged = regs.groupBy("sink", "j").agg(F.max("mj").alias("mj"))
    per_sink = merged.groupBy("sink").agg(
        F.sum(
            F.expr(
                f"shiftleft(cast(1 as bigint), cast({wbits + 1} - mj as int))"
            )
        ).alias("_s_present"),
        F.count(F.lit(1)).alias("_nb"),
    )
    s = F.col("_s_present") + (F.lit(m) - F.col("_nb")) * F.lit(
        1 << (wbits + 1)
    )
    v = F.lit(m) - F.col("_nb")  # empty registers
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    e_raw = alpha * F.lit(float(m * m)) * F.lit(float(1 << (wbits + 1))) / s
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return per_sink.select("sink", F.round(est, 2).alias("hll_distinct"))


# shortest run of identical consecutive turns agent_loop_runs reports
LOOP_MIN_RUN = 2


def agent_loop_runs(df: DataFrame) -> DataFrame:
    """Agent retry-loop detection: maximal runs of CONSECUTIVE turns
    in one conversation that repeat the identical (tool, message)
    pair — the "agent is stuck calling the same tool with the same
    arguments" signal a transcript pipeline alerts on, the way the
    reference's operators watch a job re-emitting one log line
    (logscraper.py:295-304 gauges / loggearman retry counters).

    Gaps-and-islands entirely inside the conv_id partitioning the
    pipeline already established: a change flag (lag over turn_idx),
    a running sum of flags = run id, then the run aggregate groups
    on (conv_id, run_id). HashPartitioning(conv_id) satisfies
    ClusteredDistribution(conv_id, run_id) — a subset of the
    grouping keys — so the run aggregate adds NO second exchange:
    the whole operator is ONE conv-keyed shuffle at any corpus size
    (asserted in tests/test_plan_shape.py).

    Output: one row per qualifying run —
    (conv_id, tool, run_len, start_turn, end_turn), run_len >=
    LOOP_MIN_RUN; drop-queue turns never form runs.
    """
    from pyspark.sql.window import Window

    base = df.filter(F.col("sink") != "drop_queue").select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.col("tool"), F.lit("")).alias("_tool"),
        F.coalesce(F.col("message"), F.lit("")).alias("_msg"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    changed = (
        (F.col("_tool") != F.lag("_tool").over(w))
        | (F.col("_msg") != F.lag("_msg").over(w))
    )
    flagged = base.withColumn(
        "_new_run",
        F.when(changed | F.lag("_tool").over(w).isNull(), 1).otherwise(0),
    ).withColumn(
        "_run_id",
        F.sum("_new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("conv_id", "_run_id")
        .agg(
            F.first("_tool").alias("tool"),
            F.count(F.lit(1)).alias("run_len"),
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
        )
        .filter(F.col("run_len") >= LOOP_MIN_RUN)
        .select("conv_id", "tool", "run_len", "start_turn", "end_turn")
    )


def conversation_funnel(df: DataFrame) -> DataFrame:
    """Per-conversation milestone funnel: how far did each
    conversation get — first tool invocation, first error, error
    count, and whether an error followed tool use (the
    "tool-call-then-failure" cohort a transcript dashboard slices
    on, mirroring the reference's per-build severity counters).

    ONE partial+final hash aggregate on conv_id: every milestone is
    a conditional min/count, so the shuffled volume is one row per
    conversation regardless of transcript length. No windows, no
    joins — the cheapest funnel shape at 10^12 turns.

    Output: (conv_id, n_turns, n_routed, first_tool_turn,
    first_error_turn, n_errors, error_after_tool); *_turn are NULL
    when the milestone never happened.
    """
    routed = F.col("sink") != "drop_queue"
    is_err = F.col("sink") == "errors"
    is_tool = routed & F.col("tool").isNotNull()
    first_tool = F.min(F.when(is_tool, F.col("turn_idx")))
    first_err = F.min(F.when(is_err, F.col("turn_idx")))
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(routed.cast("long")).alias("n_routed"),
        first_tool.alias("first_tool_turn"),
        first_err.alias("first_error_turn"),
        F.sum(is_err.cast("long")).alias("n_errors"),
        F.coalesce(
            first_err > first_tool, F.lit(False)
        ).alias("error_after_tool"),
    )


def turn_transition_matrix(df: DataFrame) -> DataFrame:
    """First-order role-transition (Markov) counts over each
    conversation's routed turns (drop_queue excluded) in turn order:
    count prev_state -> state transitions corpus-wide, with the
    transition probability as an EXACT rational rounded once
    (count/row_total at 5 dp) so the DuckDB twin matches bit-for-bit.

    Shape: the lag window reuses the conv_id partitioning (one
    data-sized exchange), then the transition aggregate collapses to
    at most |states|^2 group rows before its exchange, and the
    row-total window runs on those GROUP rows only. Same plan class
    at any corpus size.

    Output: (prev_state, state, n_transitions, p); the first
    qualifying turn of a conversation has no predecessor and is
    excluded.
    """
    from pyspark.sql.window import Window

    keep = F.col("role").isNotNull() & (F.col("sink") != "drop_queue")
    states = df.filter(keep).select(
        "conv_id", "turn_idx", F.col("role").alias("state")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = states.withColumn("prev_state", F.lag("state").over(w)).filter(
        F.col("prev_state").isNotNull()
    )
    counts = pairs.groupBy("prev_state", "state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = F.sum("n_transitions").over(Window.partitionBy("prev_state"))
    return counts.select(
        "prev_state",
        "state",
        "n_transitions",
        F.round(F.col("n_transitions") / tot, 5).alias("p"),
    )


def tool_outcomes(df: DataFrame) -> DataFrame:
    """Per-tool next-turn outcome attribution: for every tool
    invocation, what the NEXT routed turn in the same conversation
    was — an error (the call failed loudly), any other turn, or
    nothing (the conversation ended on the call). The per-tool error
    rate is the transcript analog of the reference's per-index
    failure gauges (logscraper.py:295-304): the table an operator
    scans to find which tool is breaking agents TODAY.

    Scale shape: one lead() window inside the conv_id partitioning
    the pipeline already established (same exchange class as
    agent_loop_runs/ffill — HashPartitioning(conv_id) satisfies the
    window), then one partial+final aggregate keyed on
    (tool, outcome); the per-tool total is a second window that runs
    on the GROUP rows only (tools x outcomes — dozens, never
    data-sized, the same bounded-window pattern as top_ngrams'
    final rank). Drop-queue turns are excluded BEFORE the window so
    "next turn" means next turn an operator would actually see.

    Output: the outcome DISTRIBUTION — one row per (tool, outcome)
    with outcome in {errors, agent_turns, tool_calls, terminal} —
    (tool, outcome, n, n_calls, frac); frac is n/n_calls for the
    tool, a long/long division rounded to 5 in both engines.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = (
        df.filter(F.col("sink") != "drop_queue")
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            "sink",
            F.lead("sink").over(w).alias("next_sink"),
        )
        .filter(F.col("sink") == "tool_calls")
        .select(
            "tool",
            F.coalesce(F.col("next_sink"), F.lit("terminal")).alias(
                "outcome"
            ),
        )
    )
    per_tool = Window.partitionBy("tool")
    return (
        nxt.groupBy("tool", "outcome")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "tool",
            "outcome",
            "n",
            F.sum("n").over(per_tool).alias("n_calls"),
        )
        .select(
            "tool",
            "outcome",
            "n",
            "n_calls",
            F.round(F.col("n") / F.col("n_calls"), 5).alias("frac"),
        )
    )


# significant bits kept below an HDR bucket's leading bit
HDR_SUB_BITS = 4


def hdr_partial_buckets(df: DataFrame) -> DataFrame:
    """The mergeable half of the HDR-style latency sketch: per-group
    log-histogram bucket counts over inter-turn gaps. This is the
    operator `turn_latency_percentiles`' own docstring points to for
    10^12 turns: the exact value-histogram shuffles distinct gap
    values (unbounded — microsecond timestamps make most gaps
    unique), while this quantizes each gap to its HdrHistogram
    bucket — top (1 + HDR_SUB_BITS) significant bits kept, the rest
    zeroed — so the aggregate state per group is AT MOST
    64 << HDR_SUB_BITS rows no matter the corpus, with relative value
    error < 2^-HDR_SUB_BITS by construction.

    count is associative/commutative, so partials from partitions,
    days, or replayed micro-batches sum into exactly the single-pass
    histogram (the HLL-register pattern, hll_partial_registers).

    All bucket math is integer bit arithmetic identical in both
    engines: e = length(bin(gap)) (unpadded in Spark and DuckDB),
    shift = max(e - 1 - HDR_SUB_BITS, 0), bucket = (gap >> shift) <<
    shift — the bucket LOWER BOUND is its own key and representative.
    """
    from pyspark.sql.window import Window

    wc = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = (
        F.unix_millis(F.col("_next_ts")) - F.unix_millis(F.col("filled_ts"))
    ).alias("gap_ms")
    gaps = (
        df.withColumn("_next_ts", F.lead("filled_ts").over(wc))
        .filter(F.col("_next_ts").isNotNull())
        .select("sink", gap)
    )
    return hdr_bucket_counts(gaps)


def hdr_bucket_counts(gaps: DataFrame) -> DataFrame:
    """Quantize a (sink, gap_ms) relation to HDR bucket counts — the
    shared bucket math for the batch sketch and the streaming
    per-micro-batch partials (streaming/hdr_stream.py). Pure-SQL
    expression (the python shiftright/shiftleft wrappers only take
    literal shift counts; the SQL functions accept expressions)."""
    sh = f"greatest(length(bin(gap_ms)) - 1 - {HDR_SUB_BITS}, 0)"
    bucket = F.expr(
        "CASE WHEN gap_ms <= 0 THEN gap_ms "
        f"ELSE shiftleft(shiftright(gap_ms, {sh}), {sh}) END"
    )
    return (
        gaps.select("sink", bucket.alias("bucket"))
        .groupBy("sink", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hdr_percentiles_from_buckets(buckets: DataFrame) -> DataFrame:
    """Finish the sketch: discrete quantiles over bucket lower
    bounds — smallest bucket whose cumulative count reaches
    ceil(p*n), the same integer rank rule as the exact operator, so
    approx vs exact differ ONLY by the in-bucket quantization
    (< 2^-HDR_SUB_BITS relative, asserted in tests). The window runs
    on GROUP x bucket rows (bounded by 64 << HDR_SUB_BITS per group),
    never on turns."""
    from pyspark.sql.window import Window

    wt = Window.partitionBy("sink")
    cum = buckets.select(
        "sink",
        "bucket",
        F.sum("c")
        .over(wt.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )

    def pick(num: int, den: int, name: str) -> Column:
        rank = F.expr(f"({num} * n + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum") >= rank, F.col("bucket"))).alias(
            name
        )

    return cum.groupBy("sink").agg(
        F.max("n").alias("n_gaps"),
        pick(1, 2, "p50_ms_lb"),
        pick(19, 20, "p95_ms_lb"),
        pick(99, 100, "p99_ms_lb"),
    )


def hdr_latency_percentiles(df: DataFrame) -> DataFrame:
    """Single-pass composition of the two halves above — the
    production approximate-percentile path at 10^12 turns: one
    conv-keyed window (shared with the rest of the pipeline), one
    partial+final aggregate whose state is bounded buckets, one
    group-row-sized window. Compare pipe_latency_pctl (exact twin,
    unbounded distinct-gap state) — both are gate queries so the
    error bound is visible in the artifacts."""
    return hdr_percentiles_from_buckets(hdr_partial_buckets(df))


def tool_health(df: DataFrame) -> DataFrame:
    """The operator-facing dashboard table: one row per tool with
    call volume, next-turn error fraction, and response-latency
    p50/p95 — tool_outcomes x turn_latency_percentiles joined on the
    tool key. This is the composed "which tool is breaking agents
    TODAY" view the reference answers with separate OpenSearch
    gauges (logscraper.py:295-304) and a dashboard join.

    Scale shape: both inputs ride the same conv-keyed exchange and
    reduce to GROUP rows (tools x outcomes; tools x distinct gaps)
    before anything joins; the final join is tool-keyed over dozens
    of rows (broadcast at any corpus size). Tools whose every call
    is terminal have no latency row — LEFT join, null percentiles,
    in both engines.
    """
    visible = df.filter(F.col("sink") != "drop_queue")
    out = tool_outcomes(df)
    err = out.groupBy("tool").agg(
        F.max("n_calls").alias("n_calls"),
        F.round(
            F.sum(F.when(F.col("outcome") == "errors", F.col("n")).otherwise(F.lit(0)))
            / F.max("n_calls"),
            5,
        ).alias("err_frac"),
    )
    lat = turn_latency_percentiles(
        visible, group_col="tool", where_sink="tool_calls"
    ).select("tool", "p50_ms", "p95_ms")
    return err.join(lat, "tool", "left").select(
        "tool", "n_calls", "err_frac", "p50_ms", "p95_ms"
    )


def error_spike_hours_mad(df: DataFrame) -> DataFrame:
    """Robust hourly error-burst detection per subsystem: the
    median/MAD companion to error_spike_hours. Mean/sigma spike
    tests (error_spike_hours) are themselves dragged upward by the
    spikes they are trying to flag — one huge hour inflates sigma
    enough to mask smaller real bursts. The robust form compares
    each hour against the subsystem's MEDIAN with a 3x
    median-absolute-deviation fence, which no single outlier hour
    can move (50% breakdown point vs 0% for the mean).

    Everything is EXACT integer arithmetic so the DuckDB twin
    matches bit-for-bit: medians of int64 counts are half-integers
    (both engines average the two middle values), so the test runs
    on doubled/quadrupled integers:

        dev2 = |2n - 2*med|              (integer)
        mad4 = 2 * median(dev2)          (= 4*MAD, integer)
        spike  <=>  |n - med| > 3*MAD  <=>  2*dev2 > 3*mad4

    2*med and 2*median(dev2) are integer-VALUED doubles (halves are
    exact in binary), cast to long before any comparison.

    Scale shape: one partial+final hash aggregate on
    (subsystem, hour) — shuffled volume is distinct groups — then
    two subsystem-keyed aggregates over those GROUP rows (median,
    then MAD of the deviations) joined back. Group-row-sized
    exchanges only; exact medians over a subsystem's hours are a
    bounded buffer (#hours in the retention window) at any corpus
    size.
    """
    hourly = (
        df.filter(F.col("sink") == "errors")
        .groupBy(
            "subsystem",
            F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    med = hourly.groupBy("subsystem").agg(
        (F.percentile(F.col("n"), F.lit(0.5)) * 2)
        .cast("long")
        .alias("_med2")
    )
    dev = hourly.join(med, "subsystem").withColumn(
        "_dev2", F.abs(2 * F.col("n") - F.col("_med2"))
    )
    mad = dev.groupBy("subsystem").agg(
        (F.percentile(F.col("_dev2"), F.lit(0.5)) * 2)
        .cast("long")
        .alias("_mad4")
    )
    return dev.join(mad, "subsystem").select(
        "subsystem",
        "window_start",
        "n",
        (F.col("_med2") / 2).alias("median_n"),
        (F.col("_mad4") / 4).alias("mad_n"),
        (2 * F.col("_dev2") > 3 * F.col("_mad4")).alias("is_spike"),
    )


def tool_arg_outcomes(df: DataFrame) -> DataFrame:
    """Per-(tool, argument) next-turn outcome attribution — the
    drill-down of tool_outcomes one level into the invocation
    payload: WHICH argument values make a tool fail. The parse tier
    already extracts the tool name (grok); this pulls the `args=`
    field out of the invocation message with the same vectorized
    regexp machinery (reference analog: logsender's field injection
    builds exactly such per-field failure breakdowns in OpenSearch,
    logscraper.py:171-249).

    Calls whose message carries no args= field group under arg
    '(none)' — absence of a payload is itself a signal worth a row.

    Scale shape: identical to tool_outcomes — the lead() window
    rides the conv_id exchange the pipeline already established, the
    regexp runs per-row in codegen, then ONE partial+final aggregate
    on (tool, arg); err_milli is exact integer division. Group count
    is tools x distinct arg values — audit-table sized, never
    corpus-sized (a web-scale run would cap arg cardinality with the
    same df-cut pattern the dedup tier uses).

    Output: (tool, arg, n_calls, n_errors, err_milli).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    calls = (
        df.filter(F.col("sink") != "drop_queue")
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            "sink",
            "message",
            F.lead("sink").over(w).alias("next_sink"),
        )
        .filter(F.col("sink") == "tool_calls")
        .select(
            "tool",
            F.when(
                F.regexp_extract(F.col("message"), r"args=(\w+)", 1)
                == "",
                F.lit("(none)"),
            )
            .otherwise(
                F.regexp_extract(F.col("message"), r"args=(\w+)", 1)
            )
            .alias("arg"),
            F.coalesce(F.col("next_sink"), F.lit("terminal")).alias(
                "outcome"
            ),
        )
    )
    return (
        calls.groupBy("tool", "arg")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum(
                F.when(F.col("outcome") == "errors", 1).otherwise(0)
            ).alias("n_errors"),
        )
        .select(
            "tool",
            "arg",
            "n_calls",
            "n_errors",
            F.expr("(n_errors * 1000) div n_calls").alias("err_milli"),
        )
    )


# last day offset after joining that retention_cohorts counts
RETENTION_HORIZON_DAYS = 90


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention over the events table: cohort = each user's
    first-seen calendar day; for every (cohort_day, day_offset) cell,
    how many of that cohort's users were active `day_offset` days
    after joining. The classic triangle the product side reads off
    the same telemetry the pipeline ingests.

    Scale shape: ONE user-keyed exchange — groupBy(user) collects
    min(day) and the distinct active-day set in the same partial
    aggregate (per-user state is bounded by RETENTION_HORIZON_DAYS
    after the
    post-agg filter; the collect_set itself is bounded by the
    retention horizon because offsets past it are dropped before the
    final rollup) — then explode + a partial-aggregated rollup onto
    the cohort × horizon matrix (≤ days × horizon rows, broadcast-
    trivial). Each user contributes at most one row per cell because
    the day set is distinct, so count(*) IS count(distinct user).
    No join-back, no second user shuffle, no window.
    """
    days = F.collect_set(F.to_date(F.col("ts"))).alias("_days")
    per_user = events.groupBy(F.col("user_id").alias("_u")).agg(
        F.min(F.to_date(F.col("ts"))).alias("cohort_day"), days
    )
    offsets = per_user.select(
        "cohort_day",
        F.explode("_days").alias("_d"),
    ).select(
        "cohort_day",
        F.datediff(F.col("_d"), F.col("cohort_day")).alias("day_offset"),
    )
    return (
        offsets.filter(F.col("day_offset") <= RETENTION_HORIZON_DAYS)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def log_templates(routed: DataFrame) -> DataFrame:
    """Drain-style log template mining (He 2017): collapse every
    whitespace-delimited token containing a digit to '<*>' and group
    identical masked messages — 'added port 808' / 'added port 1336'
    become one 'added port <*>' template with a count. The log-
    analytics primitive the reference's per-index browsing never had:
    a 10^12-turn corpus usually holds only thousands of templates,
    so this is the first query an operator runs on a new log source
    (reference parity: logsender ships raw lines, logscraper/README
    describes per-field browsing — template induction is the missing
    rollup).

    The mask is ONE regexp_replace over the whole message ('\\S*[0-9]
    \\S*' -> '<*>'): a single whole-stage-codegen regex pass, not a
    per-token higher-order lambda (interpreted per element) and not a
    UDF. Digit-class is written [0-9] so Java and RE2/DuckDB agree on
    non-ASCII digits.

    Scale shape: zero-shuffle projection, then one template-keyed
    partial+final aggregate; count(distinct conv_id) expands in the
    same exchange. Output is template-cardinality-sized (thousands),
    so the shuffled volume after partial agg is tiny at any corpus
    size.

    Output: (template, n_msgs, n_convs, example) with example =
    min(message) for determinism.
    """
    vis = routed.filter(F.col("sink") != "drop_queue")
    template = F.regexp_replace(
        F.col("message"), r"\S*[0-9]\S*", "<*>"
    )
    return (
        vis.select(
            template.alias("template"),
            F.col("message").alias("_m"),
            "conv_id",
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("_m").alias("example"),
        )
    )


# event_funnel's ordered steps (event_type values)
FUNNEL_STEPS = ("view", "click", "purchase")


def event_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel over raw events: step i counts the
    users whose FIRST qualifying step-i event happens at-or-after
    their first qualifying step-(i-1) event — the sequential rule
    (ClickHouse windowFunnel semantics without the window bound)
    that distinguishes a real view→click→purchase path from a user
    who purchased before ever viewing.

    Scale shape: one user-keyed min-aggregate per step over the
    TYPE-FILTERED events (the equality predicate pushes to the scan;
    each subsequent join is user-keyed against the shrinking
    prior-step user table, AQE broadcasts it once it fits), then a
    union of one-row counts and a lag window over the |steps|-row
    result. Nothing event-sized survives past the per-step
    aggregates.

    Output: (step, step_name, n_users, conv_milli) where conv_milli
    = (n_users * 1000) div previous step's n_users (NULL for step 1).
    """
    u, t = F.col("user_id"), F.col("ts")
    cur = (
        events.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy(u.alias("_u"))
        .agg(F.min(t).alias("_t"))
    )
    tiers = [cur]
    for s in FUNNEL_STEPS[1:]:
        nxt = (
            events.filter(F.col("event_type") == s)
            .select(u.alias("_u"), t.alias("_ts"))
            .join(tiers[-1], "_u")
            .filter(F.col("_ts") >= F.col("_t"))
            .groupBy("_u")
            .agg(F.min("_ts").alias("_t"))
        )
        tiers.append(nxt)
    from pyspark.sql.window import Window

    counts = None
    for i, (s, tier) in enumerate(zip(FUNNEL_STEPS, tiers)):
        one = tier.agg(
            F.lit(i + 1).alias("step"),
            F.lit(s).alias("step_name"),
            F.count(F.lit(1)).alias("n_users"),
        )
        counts = one if counts is None else counts.unionByName(one)
    w = Window.orderBy("step")
    return counts.select(
        "step",
        "step_name",
        "n_users",
        F.expr("n_users * 1000").alias("_nm"),
        F.lag("n_users").over(w).alias("_prev"),
    ).select(
        "step",
        "step_name",
        "n_users",
        F.when(
            F.col("_prev").isNotNull(),
            F.expr("_nm div _prev"),
        ).alias("conv_milli"),
    )


# cusum_error_drift's allowance k (errors per hour) and alarm level h
CUSUM_K_PER_HOUR = 2
CUSUM_H_THRESHOLD = 6


def cusum_error_drift(routed: DataFrame) -> DataFrame:
    """CUSUM (Page 1954) level-shift detection on per-subsystem
    hourly error counts: S_t = max(0, S_{t-1} + x_t - k), alarm when
    S_t > h. The sequential complement of the z-score / MAD SPIKE
    fences (error_spike_hours*): a spike fence catches one bad hour,
    CUSUM accumulates evidence and catches a sustained small DRIFT
    (x_t = k+1 forever never crosses a 3-sigma fence but ramps CUSUM
    linearly).

    The recurrence is non-associative, so it is computed via the
    prefix-sum identity S_t = P_t - min(0, min_{i<=t} P_i) with
    P_t = sum_{j<=t} (x_j - k) — TWO window functions over the same
    (subsystem ORDER BY hour) frame instead of a sequential loop:
    distributed, one subsystem-keyed exchange (the hourly rollup
    feeds it), exact integers throughout. Hours with zero errors are
    absent from the rollup and therefore skipped by the recurrence —
    detection over activity-weighted time; callers wanting
    wall-clock CUSUM densify the grid first.

    Output: (subsystem, window_start, cnt, cusum, alarm).
    """
    from pyspark.sql.window import Window

    hourly = (
        routed.filter(F.col("sink") == "errors")
        .groupBy(
            "subsystem",
            F.date_trunc("hour", F.col("filled_ts")).alias(
                "window_start"
            ),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("subsystem")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum(F.col("cnt") - F.lit(CUSUM_K_PER_HOUR)).over(w)
    stepped = hourly.select(
        "subsystem", "window_start", "cnt", p.alias("_p"),
        F.min(p).over(w).alias("_rmin"),
    )
    cusum = F.col("_p") - F.least(F.lit(0).cast("long"), F.col("_rmin"))
    return stepped.select(
        "subsystem",
        "window_start",
        "cnt",
        cusum.alias("cusum"),
        (cusum > CUSUM_H_THRESHOLD).alias("alarm"),
    )


def sessionize_events(events: DataFrame) -> DataFrame:
    """Gaps-and-islands sessionization of the raw events table: a
    new session starts when a user's inter-event gap exceeds
    SESSION_GAP_SEC. The batch SQL twin of the engine's streaming
    session operators (F.session_window / applyInPandasWithState in
    streaming/) — same session boundaries, computed with the classic
    lag + boundary-flag + running-sum island id, so the technique
    itself is under oracle test.

    Scale shape: ONE user-keyed exchange; lag, the boundary flag's
    running sum, and the final per-session rollup all ride the same
    (user ORDER BY ts) sort. Session ids are (user, island ordinal)
    — deterministic, no monotonically_increasing_id.

    Output: (user_id, session_idx, session_start, session_end,
    n_events, duration_sec).
    """
    from pyspark.sql.window import Window

    base = events.select(
        F.col("user_id").alias("_u"), F.col("ts").alias("_t")
    )
    w = Window.partitionBy("_u").orderBy("_t")
    gap = F.lit(SESSION_GAP_SEC)
    # three projections over the SAME (user ORDER BY ts) frame — one
    # sort, one exchange; Spark disallows a window inside a window's
    # argument, but lag and the running sum share the physical Sort.
    # Epoch seconds via unix_micros div 1e6: exact, NTZ-safe under
    # ANSI, mirrors the oracle's epoch_us // 1000000. The NTZ->LTZ
    # cast is identity under the session's pinned UTC timezone.
    lagged = base.select(
        "_u", "_t", F.lag(F.col("_t")).over(w).alias("_prev")
    )
    is_new = F.when(
        F.col("_prev").isNull()
        | (
            F.expr("unix_micros(cast(_t as timestamp)) div 1000000")
            - F.expr("unix_micros(cast(_prev as timestamp)) div 1000000")
            > gap
        ),
        1,
    ).otherwise(0)
    flagged = lagged.select("_u", "_t", is_new.alias("_nf")).select(
        "_u", "_t",
        F.sum("_nf")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
    return (
        flagged.groupBy(
            F.col("_u").alias("user_id"), "session_idx"
        )
        .agg(
            F.min("_t").alias("session_start"),
            F.max("_t").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_sec",
            F.expr("unix_micros(cast(session_end as timestamp)) div 1000000")
            - F.expr("unix_micros(cast(session_start as timestamp)) div 1000000"),
        )
    )


# trailing window of slo_burn_alert's long burn rate, in hours
SLO_LONG_HOURS = 6
# error budget, in thousandths of routed turns, that both burns exceed
SLO_MILLI = 50


def slo_burn_alert(routed: DataFrame) -> DataFrame:
    """Multi-window error-budget burn alert (the SRE-book
    multiwindow-multiburn rule): per hour, the SHORT burn is that
    hour's error fraction and the LONG burn is the trailing
    SLO_LONG_HOURS fraction; the alert fires only when BOTH exceed the
    SLO — the short window gives fast detection, the long window
    stops a single noisy hour from paging. Rates are exact integer
    milli (errors * 1000 div total).

    Scale shape: one hour-keyed partial+final aggregate collapses
    the corpus to the HOURS table (still only ~10^4-10^5 rows at
    10^12 turns — corpus-size-independent), then one ordered window
    over those rows computes the trailing sums with a RANGE frame on
    epoch seconds, so calendar GAPS between busy hours are handled
    correctly (a missing hour contributes zero, not a frame slot).
    The single-partition window is over the hours table, never the
    corpus.

    Output: (window_start, n_total, n_errors, short_burn_milli,
    long_burn_milli, alert).
    """
    from pyspark.sql.window import Window

    hourly = (
        routed.filter(F.col("sink") != "drop_queue")
        .groupBy(
            F.date_trunc("hour", F.col("filled_ts")).alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("sink") == "errors", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )
    span = (SLO_LONG_HOURS - 1) * 3600
    w = (
        Window.orderBy(
            F.expr(
                "unix_micros(cast(window_start as timestamp)) div 1000000"
            )
        )
        .rangeBetween(-span, 0)
    )
    stepped = hourly.select(
        "window_start",
        "n_total",
        "n_errors",
        F.sum("n_total").over(w).alias("_lt"),
        F.sum("n_errors").over(w).alias("_le"),
    )
    short = F.expr("(n_errors * 1000) div n_total")
    long_ = F.expr("(_le * 1000) div _lt")
    return stepped.select(
        "window_start",
        "n_total",
        "n_errors",
        short.alias("short_burn_milli"),
        long_.alias("long_burn_milli"),
        ((short > SLO_MILLI) & (long_ > SLO_MILLI)).alias("alert"),
    )


def merge_agg_deltas(
    stored: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: fold a DELTA batch's
    partial aggregate into a STORED rollup without re-reading the
    corpus — the materialized-view refresh the reference re-derives
    from scratch every scraper pass (logscraper.py:295-304 recomputes
    its gauges over each run's files).

    count/sum aggregates are commutative monoids, so the refresh is
    `union -> re-agg on the agg key`: both inputs are ALREADY
    aggregate-sized (distinct groups, not rows), the union never
    touches base data, and Catalyst plans a partial agg before the
    one group-keyed exchange. At 100 TB the stored side is the hours
    x sink x severity rollup (thousands of rows) and the delta side
    is one ingest batch — the merge costs seconds regardless of how
    much history the stored aggregate summarizes, which is the whole
    point of keeping aggregates as state instead of recomputing.

    Correctness identity (what the gate checks): for any disjoint
    partition base/delta of the input rows,
    merge(agg(base), agg(delta)) == agg(base UNION delta).
    """
    return (
        stored.unionByName(delta)
        .groupBy(*key_cols)
        .agg(F.sum("cnt").alias("cnt"))
    )


def volume_trend(df: DataFrame) -> DataFrame:
    """Per-sink daily volume TREND: the ordinary-least-squares
    slope of daily row counts against the day index — the
    capacity-planning companion to the three burst detectors
    (`error_spike_hours` finds hours that jump, the MAD variant
    resists the spike inflating its own fence, `cusum_error_drift`
    finds sustained level SHIFTS; this one quantifies the steady
    drift itself: "volume in group X grows by N/day"). The
    reference answers this by eyeballing its dashboard time series
    (logscraper.py:295-304 gauges); grouped on sink, it is the routing
    fan-out's growth.

    The slope runs in EXACT integer arithmetic so the DuckDB oracle
    matches bit-for-bit: with x = days-since-epoch and y = daily
    count over the n OBSERVED days (zero-error days contribute no
    row and are deliberately absent — the trend is over observed
    volume, documented contract),
        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    emitted as slope_milli = (1000 * num) div den via a single exact
    integer floor division (num first, so no compounded rounding).
    Every term fits int64: x < 2^15 (epoch days), so Sxx < n * 2^30
    and 1000*n*Sxy < 10^3 * n^2 * 2^15 * max_daily — safe past 10^9
    daily errors. Singleton subsystems (n == 1, den == 0) emit NULL.

    Scale shape: one partial+final hash aggregate on
    (sink, day) — shuffled volume is distinct groups, not rows
    — then a sink-keyed rollup over those GROUP rows computes the
    five OLS sums. Nothing row-sized crosses the second exchange;
    the plan class is independent of corpus size.

    Output: (sink, n_days, first_day, last_day, total_rows,
    slope_milli).
    """
    daily = (
        df.groupBy(
            "sink",
            F.to_date(F.col("filled_ts")).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "sink",
            "day",
            "n",
            F.datediff(F.col("day"), F.lit("1970-01-01")).cast(
                "long"
            ).alias("x"),
        )
    )
    sums = daily.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.sum("n").alias("total_rows"),
        F.sum("x").alias("_sx"),
        F.sum("n").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("x") * F.col("n")).alias("_sxy"),
    )
    den = F.col("n_days") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return sums.select(
        "sink",
        "n_days",
        # serialized yyyy-MM-dd so both engines emit the same string
        # (a DATE cell round-trips through pandas differently)
        F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        "total_rows",
        F.when(den != 0, F.expr(
            "(1000 * (n_days * _sxy - _sx * _sy))"
            " div (n_days * _sxx - _sx * _sx)"
        )).alias("slope_milli"),
    )


def cube_hourly(df: DataFrame) -> DataFrame:
    """CUBE companion to rollup_hourly: ALL 2^3 grouping-set
    combinations of (sink, severity, hour) in one aggregate — the
    slice-any-way dashboard cube, where ROLLUP only descends the
    hierarchy. Same Catalyst property that makes rollup scale-safe:
    the expansion happens BEFORE the partial aggregate, so map-side
    combine applies at every grain and the shuffle carries
    (distinct groups) x (grains), never rows x grains. grain =
    grouping_id() disambiguates subtotal NULLs (bit i = column i
    rolled up), matching DuckDB's bit order for the twin.
    """
    return df.cube(
        "sink",
        "severity",
        F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
    ).agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("grain"))


# EWMA detector: lags in the smoothing frame, and the alert's
# absolute floor in events per hour
EWMA_WINDOW = 16
EWMA_SLACK = 5


def ewma_alerts(df: DataFrame) -> DataFrame:
    """EWMA control chart over hourly volumes — the fourth classic
    of the anomaly family next to the two-sigma z (error_spike), MAD
    (error_spike_mad) and CUSUM (cusum_drift): smooth the recent
    series with exponentially decaying weights and alert when the
    current hour breaks away from the smoothed baseline. EWMA reacts
    faster than MAD/z (which weight all history equally) and, unlike
    CUSUM, needs no target mean.

    Integer-exact formulation (alpha = 1/2): the truncated EWMA over
    the last m <= EWMA_WINDOW OBSERVED hours (row lags, not calendar
    lags — gaps in the series are documented semantics, matching the
    other three detectors) with weights 2^(i-1) for the i-th oldest
    lag, renormalized over the available mass:

        ewma_milli = (1000 * sum_i lag_i * 2^(i-1)) div (2^m - 1)

    (geometric halving: the newest lag carries ~half the mass). The
    alert is a pure int64 predicate — 1000*cnt > 2*ewma_milli +
    1000*EWMA_SLACK — i.e. the hour more than DOUBLES the smoothed
    baseline with an absolute floor of EWMA_SLACK to mute cold groups.
    First observed hour per group has no lags: ewma NULL, no alert.

    Scale shape: one partial+final count aggregate (hours x groups
    shuffled, never rows), then one group-keyed window whose frame
    holds <= EWMA_WINDOW int64s — bounded state per row, the same
    bounded-frame argument as context_windows.
    """
    from pyspark.sql.window import Window

    hourly = df.groupBy(
        "sink",
        F.date_trunc("hour", F.col("filled_ts")).alias("window_start"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return ewma_over_counts(hourly)


def ewma_over_counts(hourly: DataFrame, group_col: str = "sink") -> DataFrame:
    """The EWMA window stage alone, over a PRECOMPUTED
    (group, window_start, cnt) series — factored out so any counts
    source feeds the same detector: the batch aggregate above, OR
    the streaming incremental rollup (read_rollup's monoid fold) —
    maintaining mergeable count partials and computing the detector
    on read is how a stream gets EWMA alerting without any new
    streaming state (see streaming/agg_incremental.py; the
    stream_ewma_alerts gate proves the composition equals the batch
    detector bit-for-bit)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy("window_start")
        .rowsBetween(-EWMA_WINDOW, -1)
    )
    lags = F.collect_list("cnt").over(w)
    # Horner fold over the reversed frame: acc*2 + x walked from the
    # newest lag down gives sum_i lag_i * 2^(i-1) with the newest
    # carrying weight 2^(m-1) — no per-element shift expression
    weighted = F.aggregate(
        F.reverse(lags),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )
    out = hourly.select(
        group_col,
        "window_start",
        "cnt",
        F.size(lags).alias("_m"),
        weighted.alias("_ws"),
    )
    ewma = F.when(
        F.col("_m") > 0,
        F.expr("(1000 * _ws) div (shiftleft(1L, _m) - 1)"),
    ).cast("long")
    return out.select(
        group_col,
        "window_start",
        "cnt",
        ewma.alias("ewma_milli"),
        (
            (F.col("_m") > 0)
            & (
                1000 * F.col("cnt")
                > 2 * ewma + F.lit(1000 * EWMA_SLACK)
            )
        ).alias("alert"),
    )
