"""Curation operator semantics: decontamination (first snippet
wins), deterministic stratified downsampling, token histogram."""

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.curation import (
    DSIR_BUCKETS,
    LEAKAGE_TEST_PERMILLE,
    decontaminate,
    stratified_downsample,
    token_length_histogram,
)


def _is_test_group(source):
    """Python twin of leakage_safe_split's group draw."""
    import hashlib

    h = int(hashlib.md5(f"split1{source}".encode()).hexdigest()[:8], 16)
    return h % 1000 < LEAKAGE_TEST_PERMILLE


def test_decontaminate_first_snippet_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "clean document here"),
            (3, "beta gamma AND alpha beta both present"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["contaminated"], r["matched_snippet"])
        for r in decontaminate(docs, ["alpha beta", "beta gamma"]).collect()
    }
    assert out[1] == (True, "alpha beta")
    assert out[2] == (False, None)
    # doc 3 contains BOTH; list order decides
    assert out[3] == (True, "alpha beta")


def test_stratified_downsample_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}", i % 3) for i in range(90)],
        "doc_id long, text string, stratum int",
    )
    a = stratified_downsample(docs, "stratum", keep_one_in=5)
    b = stratified_downsample(docs, "stratum", keep_one_in=5)
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb  # bit-for-bit reproducible, no RNG
    per = {
        r["stratum"]: r["n"]
        for r in a.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert per == {0: 6, 1: 6, 2: 6}  # 30 per stratum / 5


def test_top_ngrams_counts_and_ties(spark):
    from ci_log_processing_spark.operators.curation import top_ngrams

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),   # 'a b' x2, 'b a' x1, 'b c' x1
            (2, "a b z"),       # 'a b' x1, 'b z' x1
        ],
        "doc_id long, text string",
    )
    out = {
        r["ngram"]: (r["occurrences"], r["doc_freq"], r["rank"])
        for r in top_ngrams(docs).collect()
    }
    assert out["a b"] == (3, 2, 1)
    # ties at occurrences=1 break lexicographically
    assert out["b a"][2] < out["b c"][2] < out["b z"][2]
    # top-k must plan as TakeOrderedAndProject (per-partition heap),
    # never a global sort of all distinct n-grams
    plan = (
        top_ngrams(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_chunk_documents_coverage_and_overlap(spark):
    from ci_log_processing_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # short: 1 chunk
            (2, " ".join(f"t{i}" for i in range(100))),  # 2 chunks
        ],
        "doc_id long, text string",
    )
    out = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_chunk_tokens"])
        for r in chunk_documents(docs).collect()
    )
    # doc 1: one short chunk; doc 2: 64-token windows at stride 48 ->
    # starts 0,48, the last one short
    assert out == [
        (1, 0, 0, 10),
        (2, 0, 0, 64),
        (2, 1, 48, 52),
    ]
    # every token of doc 2 is covered: 0-63, 48-99


def test_c4_line_filter_rules(spark):
    from ci_log_processing_spark.operators.textstats import c4_line_filter

    docs = spark.createDataFrame(
        [
            (1, "this line has enough words here.\nshort.\nno punct at all"),
            (2, "uses javascript so it must go away.\ngood line stays here fine!"),
            (3, "nothing survives this one"),
        ],
        "doc_id long, ltext string",
    )
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    assert out[1]["n_kept"] == 1
    assert out[1]["cleaned"] == "this line has enough words here."
    # blocklisted line dropped even with punctuation + words
    assert out[2]["n_kept"] == 1
    assert out[2]["cleaned"] == "good line stays here fine!"
    assert out[3]["n_kept"] == 0 and out[3]["doc_kept"] is False


def test_top_ngrams_short_docs(spark):
    from ci_log_processing_spark.operators.curation import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "a b c a b c")],
        "doc_id long, text string",
    )
    out = {
        r["ngram"]: r["occurrences"]
        for r in top_ngrams(docs).collect()
    }
    # docs 1-2 are shorter than n and contribute nothing (and must
    # not crash the slice under ANSI)
    assert out == {"a b": 2, "b c": 2, "c a": 1}


def test_overlap_decontaminate_ratio_and_plan(spark):
    from ci_log_processing_spark.operators.curation import (
        overlap_decontaminate,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),                               # benchmark member
            (2, base + " iota kappa"),               # high overlap
            (3, "one two three four five six seven"),  # disjoint
            (4, "tiny doc"),                          # < 5 tokens
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 1")
    q = overlap_decontaminate(docs, bench)
    out = {r["doc_id"]: r for r in q.collect()}
    assert out[1]["overlap_frac"] == 1.0 and out[1]["contaminated"]
    # doc 2: 6 shingles, 4 of them inside the benchmark text
    assert out[2]["n_shingles"] == 6 and out[2]["n_overlap"] == 4
    assert out[2]["contaminated"]
    assert out[3]["n_overlap"] == 0 and not out[3]["contaminated"]
    assert 4 not in out  # shingle-less docs are not judged
    plan = q._jdf.queryExecution().executedPlan().toString()
    # benchmark side broadcast; corpus shuffles once, on doc_id only
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_token_histogram_conserves_totals(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (i + 1))) for i in range(40)],
        "doc_id long, text string",
    )
    h = token_length_histogram(docs).collect()
    assert sum(r["n_docs"] for r in h) == 40
    assert sum(r["total_tokens"] for r in h) == sum(range(1, 41))
    los = sorted(r["bucket_lo"] for r in h)
    assert los == [0, 16, 32]


def test_priority_sample_keeps_k_and_estimator(spark):
    from ci_log_processing_spark.operators.curation import priority_sample

    docs = spark.createDataFrame(
        [(i, "g" if i < 30 else "small", (i % 7) + 1) for i in range(34)],
        "doc_id long, source string, n_chars long",
    )
    out = priority_sample(docs, k=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # exactly k from the big group; the 4-member group keeps all 4
    assert len(by_src["g"]) == 5
    assert len(by_src["small"]) == 4
    # small group has no tau -> w_hat falls back to the raw weight
    assert all(r["w_hat"] == float(r["w"]) for r in by_src["small"])
    # big group: every survivor's w_hat >= its weight (max(w, tau))
    assert all(r["w_hat"] >= r["w"] for r in by_src["g"])
    # deterministic: a re-run picks the identical id set
    again = priority_sample(docs, k=5).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_priority_sample_weight_bias(spark):
    from ci_log_processing_spark.operators.curation import priority_sample

    # one heavy doc among featherweights: w/u makes its priority
    # floor (w=10000, u<=1) exceed the others' ceiling (w=1, u>0
    # => q < 2^32 only when h+1 > w*2^32/that)... keep it simple:
    # heavy q >= 10000, light q = 2^32/(h+1) can exceed that, so
    # just assert the heavy doc is sampled at k=1 with high weight
    # ratio 10000:1 over 20 docs via the estimator property instead:
    docs = spark.createDataFrame(
        [(0, "s", 100000)] + [(i, "s", 1) for i in range(1, 21)],
        "doc_id long, source string, n_chars long",
    )
    out = priority_sample(docs, k=3).collect()
    assert 0 in {r["doc_id"] for r in out}  # the heavy doc survives


def test_perplexity_buckets_orders_by_fluency(spark):
    from ci_log_processing_spark.operators.curation import (
        perplexity_buckets,
    )

    common = "the the the the the the"
    rare = "zyx wvu tsr qpo nml kji"
    docs = spark.createDataFrame(
        [(1, "s", common), (2, "s", common), (3, "s", common),
         (4, "s", rare), (5, "s", rare), (6, "s", "the the zyx wvu a b")],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in perplexity_buckets(docs).collect()}
    # boilerplate (all-common tokens) lands in the head bucket,
    # rare-token gibberish in the tail
    assert out[1]["ppl_bucket"] == 0
    assert out[4]["ppl_bucket"] == 2 or out[5]["ppl_bucket"] == 2
    assert all(0 <= r["ppl_bucket"] <= 2 for r in out.values())
    # equal-frequency: 6 docs over 3 buckets = 2 each
    from collections import Counter

    assert Counter(r["ppl_bucket"] for r in out.values()) == {
        0: 2, 1: 2, 2: 2
    }


def test_bloom_decontaminate_flags_planted_and_never_misses(spark):
    from ci_log_processing_spark.operators.curation import (
        bloom_bits,
        bloom_decontaminate,
    )

    snippet = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"start {snippet} end"),          # contains the snippet
            (2, snippet),                          # is the snippet
            (3, "one two three four five six"),    # clean
            (4, "tiny"),                           # < 5 tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in bloom_decontaminate(docs, [snippet]).collect()
    }
    # no false negatives, ever: both planted docs flag
    assert out[1]["bloom_hit"] and out[2]["bloom_hit"]
    assert out[1]["n_hit_shingles"] >= 1
    assert not out[4]["bloom_hit"]  # shingle-less docs cannot flag
    # the bit build is shared and deterministic
    assert bloom_bits([snippet]) == bloom_bits([snippet])
    assert len(bloom_bits([snippet])) <= 4  # 1 shingle x 4 hashes


def test_sqrt_temperature_mixture_shares(spark):
    from ci_log_processing_spark.operators.curation import (
        sqrt_temperature_mixture,
    )

    # 4:1 imbalance -> tau=0.5 target shares 2:1; the small group
    # keeps rate exactly 1.0 (kept whole)
    docs = spark.createDataFrame(
        [(i, "big" if i < 4000 else "small") for i in range(5000)],
        "doc_id long, source string",
    )
    out = sqrt_temperature_mixture(docs).collect()
    kept = {}
    rates = {}
    for r in out:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
        rates[r["source"]] = r["keep_rate"]
    assert rates["small"] == 1.0
    assert abs(rates["big"] - 0.5) < 1e-12  # sqrt(1000/4000)
    assert kept["small"] == 1000  # rate 1 keeps everything
    # big group keeps ~ rate * n (md5 uniformity, 5% tolerance)
    assert abs(kept["big"] - 2000) < 150
    # deterministic
    again = sqrt_temperature_mixture(docs).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_leakage_safe_split_invariants(spark):
    from ci_log_processing_spark.operators.curation import (
        leakage_safe_split,
    )

    # 30 sources x 20 docs; doc 0 of every source is a verbatim copy
    # of one fixed sentence so identical text exists across sources
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for s in range(30):
        for d in range(20):
            did = s * 20 + d
            txt = leak if d == 0 else f"src{s} doc{d} " + " ".join(
                f"w{did}x{j}" for j in range(8)
            )
            rows.append((did, f"src{s}", txt))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = leakage_safe_split(docs).collect()
    assert len(out) == 600
    by_src: dict[str, set] = {}
    split_of = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["split"])
        split_of[r["doc_id"]] = r["split"]
    # groups never straddle the test boundary: a source is either
    # all-test or has no test docs at all
    for s, splits in by_src.items():
        assert splits == {"test"} or "test" not in splits
    test_srcs = {s for s, sp in by_src.items() if sp == {"test"}}
    assert test_srcs == {s for s in by_src if _is_test_group(s)}
    assert 0 < len(test_srcs) < 30  # both sides populated
    # every train-side copy of the leaked sentence is quarantined
    for s in range(30):
        if f"src{s}" not in test_srcs:
            assert split_of[s * 20] == "quarantined"
    # unique-text train docs stay train
    train_unique = [
        r for r in out
        if r["source"] not in test_srcs and r["doc_id"] % 20 != 0
    ]
    assert train_unique and all(r["split"] == "train" for r in train_unique)


def test_leakage_safe_split_short_docs_never_quarantined(spark):
    from ci_log_processing_spark.operators.curation import (
        leakage_safe_split,
    )

    # sub-k (k=5) docs carry no shingles -> cannot be quarantined
    # even when their full text appears inside a test doc, while a
    # train copy of the whole test doc is
    groups = [f"g{j}" for j in range(100)]
    test_grp = next(g for g in groups if _is_test_group(g))
    train_grp = next(g for g in groups if not _is_test_group(g))
    docs = spark.createDataFrame(
        [(0, test_grp, "one two three four five six seven"),
         (1, train_grp, "one two three"),
         (2, train_grp, "one two three four five six seven")],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r["split"]
           for r in leakage_safe_split(docs).collect()}
    assert out == {0: "test", 1: "train", 2: "quarantined"}


def _py_dsir_weights(rows, target_ids):
    """Pure-Python reference for dsir_importance: same h32 bucket,
    same Laplace whole-bit quantization."""
    import hashlib

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def bl(x):
        return x.bit_length()  # == length(bin(x)) for x >= 1

    def buckets(text):
        toks = text.lower().split(" ")
        return [
            h32(f"dsir1:{toks[i]} {toks[i + 1]}") % DSIR_BUCKETS
            for i in range(len(toks) - 1)
        ]

    raw_cnt, tgt_cnt = {}, {}
    for doc_id, text in rows:
        for b in buckets(text):
            raw_cnt[b] = raw_cnt.get(b, 0) + 1
            if doc_id in target_ids:
                tgt_cnt[b] = tgt_cnt.get(b, 0) + 1
    rt, tt = sum(raw_cnt.values()), sum(tgt_cnt.values())
    out = {}
    for doc_id, text in rows:
        bs = buckets(text)
        if not bs:
            continue
        s = sum(
            (bl(rt + DSIR_BUCKETS) - bl(raw_cnt[b] + 1))
            - (bl(tt + DSIR_BUCKETS) - bl(tgt_cnt.get(b, 0) + 1))
            for b in bs
        )
        out[doc_id] = (len(bs), s)
    return out


def test_dsir_weights_match_python_reference(spark):
    from ci_log_processing_spark.operators.curation import (
        dsir_importance,
        dsir_sample,
    )

    rows = [
        (0, "alpha beta gamma alpha beta"),
        (1, "alpha beta gamma delta"),
        (2, "noise junk spam noise junk"),
        (3, "alpha beta alpha beta alpha beta"),
        (4, "solo"),  # < 2 tokens: no bigram evidence, absent
        (5, "spam junk noise spam"),
    ]
    target_ids = {0, 1}
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id").isin(list(target_ids)))
    got = {
        r["doc_id"]: (r["n_pairs"], r["dsir_bits"])
        for r in dsir_importance(docs, target).collect()
    }
    assert got == _py_dsir_weights(rows, target_ids)
    # target-like docs must outrank the junk docs per pair
    ref = _py_dsir_weights(rows, target_ids)
    per_pair = {d: s / n for d, (n, s) in ref.items()}
    assert per_pair[3] > per_pair[2] and per_pair[0] > per_pair[5]

    # selection: m = ceil(kp * n_scoreable / 1000) rows, the top ones
    sel = dsir_sample(docs, target, keep_permille=400).collect()
    n_scoreable = len(ref)  # 5 docs have bigrams
    m = -(-(400 * n_scoreable) // 1000)
    assert len(sel) == m
    order = sorted(ref, key=lambda d: (-ref[d][1], d))
    assert {r["doc_id"] for r in sel} == set(order[:m])


def test_dsir_sample_validates_permille(spark):
    import pytest

    from ci_log_processing_spark.operators.curation import dsir_sample

    docs = spark.createDataFrame(
        [(0, "a b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):
        dsir_sample(docs, docs, keep_permille=1001)


def test_decontaminate_spans_excision(spark):
    from ci_log_processing_spark.operators.curation import (
        decontaminate_spans,
    )

    docs = spark.createDataFrame(
        [
            # two hits at pos 1 and 2 (k=3): [1,3] and [2,4] overlap
            # -> ONE merged island covering tokens 1..4
            (0, "keep The Quick brown Fox jumps end"),
            (1, "totally clean document here"),
            (2, "the quick brown fox"),
            # hits at 0 and 1 -> island [0,3] covers the WHOLE doc
            (3, "x y"),  # shorter than any shingle overlap
        ],
        "doc_id long, text string",
    )
    # k=3 shingles of the snippet: "the quick brown", "quick brown fox"
    out = {
        r["doc_id"]: r
        for r in decontaminate_spans(docs, ["the quick brown fox"]).collect()
    }
    assert len(out) == 4
    # doc 0: flagged positions 1,2 (lowercased match) -> one island
    # [1, 4]; original-CASE tokens removed, 'keep'+'jumps'+'end' stay
    assert out[0]["n_spans"] == 1
    assert out[0]["n_tokens_removed"] == 4
    assert out[0]["clean_text"] == "keep jumps end"
    # doc 1: untouched, original text (case preserved) passes through
    assert out[1]["n_spans"] == 0
    assert out[1]["n_tokens_removed"] == 0
    assert out[1]["clean_text"] == "totally clean document here"
    # doc 2: the whole doc is one contaminated island -> empty rebuild
    assert out[2]["n_spans"] == 1
    assert out[2]["n_tokens_removed"] == 4
    assert out[2]["clean_text"] == ""
    # doc 3: shorter than a shingle
    assert out[3]["clean_text"] == "x y"

    import pytest

    with pytest.raises(ValueError):
        decontaminate_spans(docs, ["short"])  # no >=3-token snippet


def test_decontaminate_spans_big_set_routes_to_semijoin(spark):
    """Above max_literal_keys the benchmark key set must NOT be
    inlined as an IN-list literal (plan-size cliff for huge suites):
    the operator auto-routes to a broadcast LeftSemi join with
    bit-identical output. Exercise both sides of the boundary on the
    same inputs: the snippet below yields 2 distinct k=3 shingle
    keys, so max_literal_keys=2 stays literal and =1 trips the
    semi-join."""
    from ci_log_processing_spark.operators.curation import (
        decontaminate_spans,
    )
    from ci_log_processing_spark.operators.dedup import release_persisted

    docs = spark.createDataFrame(
        [
            (0, "keep The Quick brown Fox jumps end"),
            (1, "totally clean document here"),
            (2, "the quick brown fox"),
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    snips = ["the quick brown fox"]  # 2 distinct k=3 shingles

    lit = decontaminate_spans(docs, snips, max_literal_keys=2)
    big = decontaminate_spans(docs, snips, max_literal_keys=1)

    lit_plan = lit._jdf.queryExecution().executedPlan().toString()
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    # boundary (== max) keeps the zero-job literal filter …
    assert "LeftSemi" not in lit_plan, lit_plan
    # … one past it swaps to the broadcast semi-join and the key set
    # never appears as an IN-list in the plan
    assert "LeftSemi" in big_plan, big_plan
    assert " IN (" not in big_plan, big_plan
    # the semi-join reads the key set the probe already computed
    assert "InMemoryRelation" in big_plan, big_plan

    rows_lit = sorted(map(tuple, lit.collect()), key=lambda t: t[0])
    rows_big = sorted(map(tuple, big.collect()), key=lambda t: t[0])
    assert rows_lit == rows_big
    assert rows_big[0][3] == "keep jumps end"
    release_persisted()


def test_fuzzy_decontaminate_near_dup_and_plan(spark):
    from ci_log_processing_spark.operators.curation import (
        fuzzy_decontaminate,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (1, base),  # verbatim benchmark leak
            (2, base + " phi chi"),  # near-dup of the benchmark
            (3, "one two three four five six seven eight nine ten"),
            (4, "tiny doc"),  # < 5 tokens, never judged but listed
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    q = fuzzy_decontaminate(docs, bench)
    out = {r["doc_id"]: r for r in q.collect()}
    assert sorted(out) == [1, 2, 3, 4]  # one row per corpus doc
    assert out[1]["contaminated"] and out[1]["best_jaccard"] == 1.0
    # doc 2: 18 of its 18 base shingles shared, 2 extra -> 16/18? —
    # assert the rule, not the arithmetic: flagged, 0 < j < 1
    assert out[2]["contaminated"]
    assert 0.5 <= out[2]["best_jaccard"] < 1.0
    assert out[2]["n_bench_matches"] == 1
    assert not out[3]["contaminated"] and out[3]["best_jaccard"] == 0.0
    assert not out[4]["contaminated"]
    plan = q._jdf.queryExecution().executedPlan().toString()
    # every join broadcasts (bench bands, candidates, flags) — the
    # corpus is never the build side and never sort-merge-joined
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_data_card_matches_pandas(spark):
    """data_card: per-source volume/dup/mode facts re-derived with
    plain pandas on the collected corpus must match exactly."""
    import os as _os

    from ci_log_processing_spark.operators.curation import data_card

    docs = spark.read.parquet(
        _os.path.join("/root/testdata/sf0.001", "documents.parquet")
    )
    card = {r["source"]: r.asDict() for r in data_card(docs).collect()}
    pdf = docs.select("doc_id", "source", "lang", "text").toPandas()
    assert set(card) == set(pdf["source"].unique())
    for src, g in pdf.groupby("source"):
        row = card[src]
        assert row["n_docs"] == len(g)
        dup = g["text"].map(g["text"].value_counts()).gt(1).sum()
        assert row["dup_doc_frac"] == round(dup / len(g), 5)
        lc = g.groupby("lang").size()
        top = sorted(lc.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert row["top_lang"] == top
        toks = g["text"].str.split().str.len()
        assert row["total_tokens"] == int(toks.sum())
        assert row["p50_tokens"] == float(toks.median())
        assert 0.0 <= row["mean_quality"] <= 1.0


def test_softdedup_weights_exact_and_cluster_modes(spark):
    from ci_log_processing_spark.operators.curation import (
        softdedup_weights,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc"), (4, "dd ee ff")],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id: (r.cluster_n, r.weight, r.n_tokens, r.weighted_tokens)
        for r in softdedup_weights(docs).collect()
    }
    assert exact[1] == (2, 0.5, 2, 1.0)
    assert exact[2] == (2, 0.5, 2, 1.0)
    assert exact[3] == (1, 1.0, 1, 1.0)
    assert exact[4] == (1, 1.0, 3, 3.0)
    milli = {
        r.doc_id: r.weighted_tokens_milli
        for r in softdedup_weights(docs).collect()
    }
    # integer floor division: (1000 * n_tokens) div cluster_n
    assert milli == {1: 1000, 2: 1000, 3: 1000, 4: 3000}

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, component long"
    )
    rows = softdedup_weights(docs, clusters=clusters).collect()
    soft = {
        r.doc_id: (r.cluster_key, r.cluster_n, r.weight, r.weighted_tokens)
        for r in rows
    }
    assert soft[1] == ("1", 3, 0.33333, 0.66667)
    assert soft[2] == ("1", 3, 0.33333, 0.66667)
    assert soft[3] == ("1", 3, 0.33333, 0.33333)
    assert soft[4] == ("4", 1, 1.0, 3.0)
    assert {r.doc_id: r.weighted_tokens_milli for r in rows} == {
        1: 666, 2: 666, 3: 333, 4: 3000,
    }
    # cluster mass conservation: weights within a cluster sum to ~1
    from collections import defaultdict

    mass = defaultdict(float)
    for _, (ck, _, w, _) in soft.items():
        mass[ck] += w
    assert all(abs(v - 1.0) < 1e-4 for v in mass.values())
