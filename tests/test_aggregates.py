"""rollup_hourly / severity_pivot_hourly (operators/aggregate.py) and
tfidf_top_terms (operators/textstats.py): semantics vs hand-computed
expectations."""

import datetime as dt

import pytest

from ci_log_processing_spark.operators.aggregate import (
    rollup_hourly,
    severity_pivot_hourly,
)
from ci_log_processing_spark.operators.textstats import tfidf_top_terms

T = dt.datetime


@pytest.fixture()
def routed(spark):
    return spark.createDataFrame(
        [
            ("errors", "ERROR", "nova", T(2024, 1, 1, 0, 10)),
            ("errors", "ERROR", "nova", T(2024, 1, 1, 0, 50)),
            ("errors", "WARNING", "glance", T(2024, 1, 1, 1, 0)),
            ("agent_turns", None, None, T(2024, 1, 1, 0, 30)),
        ],
        "sink string, severity string, subsystem string, filled_ts timestamp",
    )


def test_rollup_grains_and_null_disambiguation(routed):
    rows = {
        (r["sink"], r["severity"], r["window_start"], r["grain"]): r["cnt"]
        for r in rollup_hourly(routed).collect()
    }
    h0, h1 = T(2024, 1, 1, 0), T(2024, 1, 1, 1)
    # detail grain (grain=0): genuine NULL severity survives with grain 0
    assert rows[("errors", "ERROR", h0, 0)] == 2
    assert rows[("errors", "WARNING", h1, 0)] == 1
    assert rows[("agent_turns", None, h0, 0)] == 1
    # hour rolled up (bit 0 -> grain=1)
    assert rows[("errors", "ERROR", None, 1)] == 2
    # severity+hour rolled up (grain=3): subtotal NULL != data NULL
    assert rows[("errors", None, None, 3)] == 3
    assert rows[("agent_turns", None, None, 3)] == 1
    # grand total (grain=7)
    assert rows[(None, None, None, 7)] == 4
    # one row per (grain, group): 3 detail + 3 hour + 2 sev+hour + 1
    assert len(rows) == 9


def test_pivot_wide_counts_and_zero_fill(routed):
    out = {r["window_start"]: r.asDict() for r in severity_pivot_hourly(routed).collect()}
    h0 = out[T(2024, 1, 1, 0)]
    assert (h0["n_error"], h0["n_none"], h0["n_warning"]) == (2, 1, 0)
    h1 = out[T(2024, 1, 1, 1)]
    assert (h1["n_warning"], h1["n_error"]) == (1, 0)
    # fixed schema: every taxonomy column present even when all-zero
    assert {c for c in h0 if c.startswith("n_")} == {
        "n_audit", "n_critical", "n_debug", "n_info", "n_trace",
        "n_warning", "n_error", "n_none",
    }


def test_tfidf_ranking_and_score(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "cherry cherry cherry shared"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs)
    got = {
        (r["doc_id"], r["term_rank"]): (r["term"], r["tf"], r["df_docs"])
        for r in out.collect()
    }
    # doc 1: apple tf=2 wins; banana (df=2) beats shared (df=3) on rarity
    assert got[(1, 1)] == ("apple", 2, 1)
    assert got[(1, 2)] == ("banana", 1, 2)
    # doc 3: cherry tf=3 first, shared second
    assert got[(3, 1)] == ("cherry", 3, 2)
    assert got[(3, 2)] == ("shared", 1, 3)
    # tie on tf=1 for doc 2: banana/cherry (df=2) beat shared (df=3),
    # banana < cherry lexicographically
    assert got[(2, 1)] == ("banana", 1, 2)
    assert got[(2, 2)] == ("cherry", 1, 2)
    # score: tf * ln(N/df)
    import math

    scores = {r["term"]: r["tfidf"] for r in out.filter("doc_id = 1").collect()}
    assert scores["apple"] == pytest.approx(2 * math.log(3 / 1))


def test_session_window_gap_semantics(spark):
    from ci_log_processing_spark.operators.aggregate import (
        SESSION_GAP_SEC,
        session_window_agg,
    )

    assert SESSION_GAP_SEC == 1800
    df = spark.createDataFrame(
        [
            ("c", 0, T(2024, 1, 1, 0, 0)),
            ("c", 1, T(2024, 1, 1, 0, 30)),   # exactly gap -> merges
            ("c", 2, T(2024, 1, 1, 1, 0, 1)), # 1 s past end -> new
            ("d", 0, None),                    # null ts dropped
        ],
        "conv_id string, turn_idx int, filled_ts timestamp",
    )
    rows = {
        (r["conv_id"], r["session_start"]): (
            r["session_end"], r["n_turns"], r["first_turn"], r["last_turn"]
        )
        for r in session_window_agg(df).collect()
    }
    assert rows == {
        ("c", T(2024, 1, 1, 0, 0)): (T(2024, 1, 1, 1, 0), 2, 0, 1),
        ("c", T(2024, 1, 1, 1, 0, 1)): (T(2024, 1, 1, 1, 30, 1), 1, 2, 2),
    }


def test_sliding_window_overlap(spark):
    from ci_log_processing_spark.operators.aggregate import (
        SLIDING_SLIDE_SEC,
        SLIDING_WINDOW_SEC,
        sliding_window_agg,
    )

    assert (SLIDING_WINDOW_SEC, SLIDING_SLIDE_SEC) == (3600, 1800)
    df = spark.createDataFrame(
        [("errors", T(2024, 1, 1, 0, 45))],
        "sink string, filled_ts timestamp",
    )
    rows = {
        (r["window_start"], r["window_end"]): r["cnt"]
        for r in sliding_window_agg(df).collect()
    }
    # one event -> exactly the two 1 h windows on the 30 min grid
    assert rows == {
        (T(2024, 1, 1, 0, 0), T(2024, 1, 1, 1, 0)): 1,
        (T(2024, 1, 1, 0, 30), T(2024, 1, 1, 1, 30)): 1,
    }


def test_approx_count_distinct_within_rsd(spark):
    """Sketch tier sanity: HLL++ approx distinct lands within 3x the
    requested rsd of the exact count on the documents table (the
    cardinality-estimate shape a 100 TB profiler uses instead of an
    exact distinct shuffle)."""
    import pyspark.sql.functions as Fn

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rsd = 0.05
    row = docs.agg(
        Fn.approx_count_distinct("text", rsd).alias("approx"),
        Fn.countDistinct("text").alias("exact"),
    ).collect()[0]
    assert row["exact"] > 0
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 3 * rsd


def test_session_window_fuzz_vs_islands(spark):
    """Randomized parity: session_window_agg vs an independent
    pandas gaps-and-islands implementation (rule: diff > gap starts
    a new session)."""
    import numpy as np
    import pandas as pd

    from ci_log_processing_spark.operators.aggregate import (
        SESSION_GAP_SEC,
        session_window_agg,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(400):
        conv = f"c{int(rng.integers(0, 12))}"
        ts = T(2024, 1, 1) + dt.timedelta(seconds=int(rng.integers(0, 43200)))
        rows.append((conv, i, ts))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, filled_ts timestamp"
    )
    gap = SESSION_GAP_SEC
    got = {
        (r["conv_id"], r["session_start"]): (
            r["session_end"], r["n_turns"], r["first_turn"], r["last_turn"]
        )
        for r in session_window_agg(df).collect()
    }

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"]).sort_values(
        ["conv_id", "ts", "turn_idx"], kind="stable"
    )
    exp = {}
    for conv, g in pdf.groupby("conv_id"):
        sid = (g["ts"].diff().dt.total_seconds() > gap).cumsum()
        for _, s in g.groupby(sid):
            exp[(conv, s["ts"].iloc[0].to_pydatetime())] = (
                s["ts"].iloc[-1].to_pydatetime() + dt.timedelta(seconds=gap),
                len(s),
                int(s["turn_idx"].min()),
                int(s["turn_idx"].max()),
            )
    assert got == exp


def test_error_spike_exact_zscore(spark):
    """One subsystem with a clear burst hour flags exactly that hour;
    a flat subsystem flags nothing. Rule: n > mean + 2*sigma_pop in
    exact integer arithmetic."""
    from ci_log_processing_spark.operators.aggregate import (
        error_spike_hours,
    )

    rows = []
    # nova: hours 0..5 have 2 errors each, hour 6 has 40 (clear spike)
    for h in range(6):
        rows += [("errors", "ERROR", "nova", T(2024, 1, 1, h, m))
                 for m in (5, 25)]
    rows += [("errors", "ERROR", "nova", T(2024, 1, 1, 6, m % 60))
             for m in range(40)]
    # glance: flat 3/hour over 4 hours -> sigma = 0, no spikes
    for h in range(4):
        rows += [("errors", "ERROR", "glance", T(2024, 1, 1, h, m))
                 for m in (1, 2, 3)]
    # non-error rows must be ignored
    rows += [("agent_turns", None, "nova", T(2024, 1, 1, 6, 0))] * 50
    df = spark.createDataFrame(
        rows,
        "sink string, severity string, subsystem string, "
        "filled_ts timestamp",
    )
    out = {(r["subsystem"], r["window_start"].hour): r
           for r in error_spike_hours(df).collect()}
    spikes = {k for k, r in out.items() if r["is_spike"]}
    assert spikes == {("nova", 6)}
    # mean over nova's 7 observed hours: (6*2 + 40)/7
    assert out[("nova", 6)]["mean_n"] == round(52 / 7, 5)
    # glance rows exist but none spike (sigma = 0 and n == mean)
    assert ("glance", 0) in out


def test_turn_latency_exact_discrete_percentiles(spark):
    """p50/p95/p99 pick the value at rank ceil(p*n) of the sorted
    gaps — verified against a hand-enumerated distribution."""
    from ci_log_processing_spark.operators.aggregate import (
        turn_latency_percentiles,
    )

    # one conv, 11 turns -> 10 gaps of 1..10 seconds, all same sink
    rows = []
    t = 0
    for i, gap in enumerate([0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10]):
        t += gap
        rows.append(("c1", i, "tool_calls", T(2024, 1, 1, 0, 0, t)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sink string, "
        "filled_ts timestamp",
    )
    out = {r["sink"]: r for r in turn_latency_percentiles(df).collect()}
    r = out["tool_calls"]
    assert r["n_calls"] == 10
    # ranks: ceil(.5*10)=5 -> 5s; ceil(.95*10)=10 -> 10s; ceil(.99*10)=10
    assert r["p50_ms"] == 5000
    assert r["p95_ms"] == 10000
    assert r["p99_ms"] == 10000


def test_hll_distinct_close_to_exact(spark):
    """The 64-register HLL estimate lands within ~3 standard errors
    (1.04/sqrt(64) ~ 13%) of the true distinct count, and the exact
    column is exact."""
    from ci_log_processing_spark.operators.aggregate import (
        hll_distinct_convs,
    )

    rows = [(f"conv-{i % 700}", "agent_turns") for i in range(5000)]
    rows += [(f"conv-{i}", "errors") for i in range(40)]
    df = spark.createDataFrame(rows, "conv_id string, sink string")
    out = {r["sink"]: r for r in hll_distinct_convs(df).collect()}
    assert out["agent_turns"]["exact_distinct"] == 700
    assert abs(out["agent_turns"]["hll_distinct"] - 700) / 700 < 0.40
    assert out["errors"]["exact_distinct"] == 40
    # small-range linear counting regime: much tighter
    assert abs(out["errors"]["hll_distinct"] - 40) / 40 < 0.30


def test_unigram_logprob_zipf_ordering(spark):
    """Rare-token docs carry more surprisal bits per token than docs
    made of the corpus's most common token; bit math is exact."""
    from ci_log_processing_spark.operators.textstats import (
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),          # 4x the commonest token
            (2, "the the the the"),
            (3, "rare1 rare2 the the"),      # two singletons
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # N = 12 total tokens -> bin length 4; 'the' cnt=10 -> 4, bits 0
    assert out[1]["surprisal_bits"] == 0
    assert out[1]["n_tokens"] == 4
    # rare tokens: cnt=1 -> bin length 1 -> 3 bits each
    assert out[3]["surprisal_bits"] == 6
    assert out[3]["bits_per_token"] == 1.5
    assert out[3]["bits_per_token"] > out[1]["bits_per_token"]


def test_hll_partials_merge_exactly(spark):
    """The mergeable-sketch property: registers built from any
    split of the data, merged by max, equal the single-pass build —
    including a replayed (duplicated) partial."""
    from ci_log_processing_spark.operators.aggregate import (
        hll_estimate,
        hll_partial_registers,
    )

    rows = [("s%d" % (i % 3), "conv-%d" % (i % 57)) for i in range(400)]
    df = spark.createDataFrame(rows, "sink string, conv_id string")
    whole = {
        r["sink"]: r["hll_distinct"]
        for r in hll_estimate(hll_partial_registers(df)).collect()
    }
    h1 = hll_partial_registers(df.filter("conv_id < 'conv-3'"))
    h2 = hll_partial_registers(df.filter("conv_id >= 'conv-3'"))
    merged = {
        r["sink"]: r["hll_distinct"]
        for r in hll_estimate(h1.unionAll(h2)).collect()
    }
    assert merged == whole
    # idempotence: replaying one partial changes nothing
    replay = {
        r["sink"]: r["hll_distinct"]
        for r in hll_estimate(h1.unionAll(h2).unionAll(h1)).collect()
    }
    assert replay == whole


def test_bigram_logprob_vs_python_reference(spark):
    """Both Stupid-Backoff arms vs an exhaustive pure-Python model."""
    from collections import Counter

    from ci_log_processing_spark.operators.textstats import (
        bigram_logprob,
    )

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "the dog ran under a rare bridge",  # singleton transitions
        "the cat sat",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    uni: Counter = Counter()
    bi: Counter = Counter()
    for t in texts:
        toks = t.lower().split(" ")
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n_total = sum(uni.values())
    kept = {p for p, c in bi.items() if c >= 2}

    def bits(w1, w2):
        if (w1, w2) in kept:
            return uni[w1].bit_length() - bi[(w1, w2)].bit_length(), 0
        return 2 + n_total.bit_length() - uni[w2].bit_length(), 1

    out = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    for i, t in enumerate(texts):
        toks = t.lower().split(" ")
        exp = [bits(a, b) for a, b in zip(toks, toks[1:])]
        assert out[i]["n_bigrams"] == len(exp)
        assert out[i]["bigram_bits"] == sum(b for b, _ in exp)
        assert out[i]["n_backoff"] == sum(bo for _, bo in exp)
    # the rare-words doc backs off and scores strictly worse per
    # position than the boilerplate docs
    assert out[2]["n_backoff"] > 0
    assert out[3]["n_backoff"] == 0
    assert out[2]["bits_per_bigram"] > out[3]["bits_per_bigram"]


def test_hdr_latency_error_bound_and_merge(spark):
    """The HDR sketch's per-percentile answer is the exact
    percentile's bucket lower bound: within 2^-sub_bits relative
    below the exact value, never above it. Partial bucket tables
    from disjoint slices sum-merge into the single-pass histogram."""
    import random

    from ci_log_processing_spark.operators.aggregate import (
        HDR_SUB_BITS,
        hdr_latency_percentiles,
        hdr_partial_buckets,
        hdr_percentiles_from_buckets,
        turn_latency_percentiles,
    )

    rng = random.Random(7)
    rows = []
    for c in range(40):
        t = 0
        for i in range(30):
            rows.append((f"c{c}", i, "tool_calls", T(2024, 1, 1, 0, 0, 0)
                         + dt.timedelta(milliseconds=t)))
            t += rng.randrange(1, 500_000)
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sink string, "
        "filled_ts timestamp",
    )
    exact = {r["sink"]: r for r in turn_latency_percentiles(df).collect()}
    hdr = {
        r["sink"]: r
        for r in hdr_latency_percentiles(df).collect()
    }
    e, h = exact["tool_calls"], hdr["tool_calls"]
    assert h["n_gaps"] == e["n_calls"] == 40 * 29
    for p in ("p50", "p95", "p99"):
        ex, lb = e[f"{p}_ms"], h[f"{p}_ms_lb"]
        assert lb <= ex, (p, lb, ex)
        assert ex - lb <= ex * 2.0 ** -HDR_SUB_BITS, (p, lb, ex)

    # merge property: per-conv-slice partials sum into the same
    # histogram (and thus the same percentiles) as the single pass
    half_a = df.filter(df.conv_id < "c2")   # lexicographic split
    half_b = df.filter(~(df.conv_id < "c2"))
    import pyspark.sql.functions as F

    merged = (
        hdr_partial_buckets(half_a)
        .unionAll(hdr_partial_buckets(half_b))
        .groupBy("sink", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    got = {
        r["sink"]: r
        for r in hdr_percentiles_from_buckets(merged).collect()
    }
    assert got["tool_calls"].asDict() == h.asDict()


def test_nb_quality_classifier_hand_computed(spark):
    """Hand-computed NB bit math: positive-vocab docs score > 0,
    negative-vocab docs < 0, a mixed doc lands where the LLR sum
    says, and a no-vocab doc falls back to the prior alone."""
    from ci_log_processing_spark.operators.textstats import (
        nb_quality_classifier,
    )

    docs = spark.createDataFrame(
        [
            (1, 1, "good clean prose here"),
            (2, 1, "good clean text here"),
            (3, 0, "spam spam buy buy"),
            (4, 0, "spam buy junk junk"),
            (5, 0, "good clean spam here"),
            (6, 0, "zzz"),
        ],
        "doc_id long, label int, text string",
    )
    out = {
        r["doc_id"]: r for r in nb_quality_classifier(docs).collect()
    }
    assert len(out) == 6
    # kept vocab (min_df=2): good/clean/here (2 pos, 1 neg each),
    # spam(0,4) buy(0,3) junk(0,2) -> V=6, pos_tot=6, neg_tot=12;
    # llr_bits: good=clean=here=+1, spam=buy=-1, junk=0;
    # prior = bits(2 pos docs) - bits(4 neg docs) = 2 - 3 = -1
    assert all(r["prior_bits"] == -1 for r in out.values())
    assert (out[1]["llr_bits"], out[1]["score_bits"]) == (3, 2)
    assert (out[3]["llr_bits"], out[3]["score_bits"]) == (-4, -5)
    assert (out[4]["llr_bits"], out[4]["score_bits"]) == (-2, -3)
    assert (out[5]["llr_bits"], out[5]["score_bits"]) == (2, 1)
    # pruned-singleton doc: zero in-vocab tokens, prior-only score
    assert (out[6]["n_vocab_tokens"], out[6]["score_bits"]) == (0, -1)
    assert [out[i]["predicted"] for i in range(1, 7)] == [
        1, 1, 0, 0, 1, 0,
    ]


def test_ewma_alerts_reference_and_spike(spark):
    """EWMA vs a pure-python truncated-geometric reference; a 10x
    spike after a flat baseline must alert, the flat tail must not,
    and the first hour has NULL ewma and no alert."""
    import datetime as dt

    from ci_log_processing_spark.operators.aggregate import (
        EWMA_SLACK,
        EWMA_WINDOW,
        ewma_alerts,
    )

    rows = []
    # 6 flat hours of 10 events, then a 100-event spike at hour 7
    for h, n in enumerate([10, 10, 10, 10, 10, 10, 100]):
        for i in range(n):
            rows.append(("errors", dt.datetime(2024, 3, 1, h)))
    df = spark.createDataFrame(rows, "sink string, filled_ts timestamp")
    got = {
        r["window_start"].hour: r
        for r in ewma_alerts(df).collect()
    }
    assert got[0]["ewma_milli"] is None and got[0]["alert"] is False
    # python reference
    series = [10, 10, 10, 10, 10, 10, 100]
    for t in range(1, 7):
        lags = series[max(0, t - EWMA_WINDOW):t]
        m = len(lags)
        ws = sum(x * (1 << (i)) for i, x in enumerate(lags))
        want = (1000 * ws) // ((1 << m) - 1)
        assert got[t]["ewma_milli"] == want
        want_alert = 1000 * series[t] > 2 * want + 1000 * EWMA_SLACK
        assert got[t]["alert"] is want_alert
    assert got[6]["alert"] is True
    assert not any(got[t]["alert"] for t in range(6))
