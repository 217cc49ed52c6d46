"""Physical-plan regression guards: the properties PLANS.md documents
must survive refactors — one conv-keyed exchange for the whole
parse→window→route path on a materialized table, broadcast-only
joins, and no shuffle joins of the fact table anywhere."""

import datetime as dt

from ci_log_processing_spark.plans.pipeline import full_pipeline


def _materialized(spark, tmp_path):
    rows = [
        (f"c{c}", i, "assistant",
         f"2024-03-01 10:00:0{i % 10}.000000 | INFO [nova.x] line {i}",
         None, dt.datetime(2024, 3, 1))
        for c in range(20)
        for i in range(30)
    ]
    p = str(tmp_path / "t")
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(p)
    return spark.read.parquet(p)


def test_native_pipeline_single_exchange(spark, tmp_path):
    t = _materialized(spark, tmp_path)
    meta = spark.createDataFrame([(f"c{c}",) for c in range(15)], "conv_id string")
    routed = full_pipeline(t, spark, meta=meta)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # exactly ONE fact-table exchange: the explicit conv repartition
    # that the ffill window and routing reuse (REPARTITION_BY_COL).
    # Exchanges under broadcast build sides (dim distinct before
    # broadcast) move dimension rows, not the fact table, and are
    # exempt — so count by the repartition tag, not by line.
    fact_exchanges = [
        ln for ln in plan.splitlines() if "REPARTITION_BY_COL" in ln
    ]
    assert len(fact_exchanges) == 1, plan
    # every join is broadcast: the fact table never shuffles on a key
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    # both window frames (ffill + prior count) share ONE Sort/Window
    assert plan.count("Window") == 1, plan


def test_pii_and_repetition_are_shuffle_free(spark, tmp_path):
    # both operators are pure per-row expression pipelines; any
    # Exchange appearing here is a regression
    from ci_log_processing_spark.operators.pii import pii_scrub
    from ci_log_processing_spark.operators.textstats import repetition_stats

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text {i}", f"line {i}") for i in range(10)],
        "doc_id long, pii_text string, ltext string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    for q in (pii_scrub(docs), repetition_stats(docs)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchScan" in plan or "FileScan" in plan or "Scan parquet" in plan


def test_pack_sequences_single_group_shuffle(spark, tmp_path):
    from ci_log_processing_spark.operators.curation import pack_sequences

    p = str(tmp_path / "pdocs")
    spark.createDataFrame(
        [("s" + str(i % 3), i, "a b c") for i in range(12)],
        "source string, doc_id long, text string",
    ).write.parquet(p)
    q = pack_sequences(spark.read.parquet(p), capacity=8)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # exactly one hash exchange on the group key feeding the Arrow
    # stage; the sequential pass itself runs inside FlatMapGroupsInPandas
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_full_curation_two_exchanges(spark):
    # clean -> quality -> dedup -> pack composes into exactly two
    # shuffles (dedup's md5 window + pack's group key); the
    # passthrough-column API exists so no stage needs a rejoin
    import __spark_entry__ as entry

    q = entry.q_full_curation(spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "FlatMapGroupsInPandas" in plan


def test_scan_prunes_columns(spark, tmp_path):
    # a projection that needs only conv_id/turn_idx/text must not
    # drag role/tool/ts through the scan (ReadSchema pruning)
    t = _materialized(spark, tmp_path)
    from ci_log_processing_spark.plans.pipeline import parse_transcripts

    q = parse_transcripts(t).select("conv_id", "turn_idx", "severity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "role" not in scan and "tool" not in scan, scan


def test_asof_join_single_operator_exchange(spark):
    """as-of join (operators/asof.py): ONE hash exchange total over
    pre-partitioned inputs — union + running window, never a join."""
    import datetime as dt

    from ci_log_processing_spark.operators.asof import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [("a", T(2024, 1, 1), 1)], "k string, ts timestamp, i int"
    )
    right = spark.createDataFrame(
        [("a", T(2024, 1, 1), "s", 0)],
        "k string, ts timestamp, v string, cfg_seq long",
    )
    plan = (
        asof_join(left, right, on=["k"], value_cols=["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan  # union + window, no join operator


def test_session_window_rides_existing_partitioning(spark, tmp_path):
    """session_window_agg adds ZERO exchanges on a conv-partitioned
    input (the aggregate's ClusteredDistribution(conv_id) is
    satisfied by the pipeline's existing repartition)."""
    import pyspark.sql.functions as Fn

    from ci_log_processing_spark.operators.aggregate import (
        session_window_agg,
    )

    t = _materialized(spark, tmp_path).select(
        "conv_id", "turn_idx", Fn.col("ts").alias("filled_ts")
    ).repartition("conv_id")
    plan = (
        session_window_agg(t)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # only the explicit repartition itself; the session aggregate
    # introduces no ENSURE_REQUIREMENTS exchange on top
    assert plan.count("Exchange hashpartitioning") == 1


def test_full_curation_v2_still_two_exchanges(spark):
    # v2 adds a model-quality gate (per-row) and a per-source cap
    # (window on source) — the cap's exchange is REUSED by pack's
    # applyInPandas grouping, so six stages still shuffle twice
    import __spark_entry__ as entry

    q = entry.q_full_curation_v2(spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "FlatMapGroupsInPandas" in plan


def test_full_curation_v3_plan_shape(spark):
    # v3 adds mixture sampling (per-row filter — no new exchange) and
    # the final global shuffle index. The ranked permutation is
    # persisted and read by BOTH consumers (output join + bucket
    # sizes), so the upstream 6-stage pipeline executes once; the
    # offset cumsum is a SinglePartition exchange over <=256 count
    # rows, never the data.
    import re

    import __spark_entry__ as entry
    from ci_log_processing_spark.operators.dedup import release_persisted

    q = entry.q_full_curation_v3(spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # both branches read the shared materialized rank...
    assert plan.count("InMemoryTableScan") == 2, plan
    # ...and no parquet scan exists outside the cached plan's print
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")
    # unique exchanges: dedup md5 window + shared source partitioning
    # (cap/pack) + 256-bucket rank inside the cached plan, plus the
    # post-cache partial-agg'd bucket-count hop = 4
    ids = set(
        re.findall(r"Exchange hashpartitioning\(.*?plan_id=(\d+)", plan)
    )
    assert len(ids) == 4, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    release_persisted()


def test_url_ops_plan_shape(spark, tmp_path):
    # normalize + blocklist are per-row (zero exchanges); the full
    # dedup adds exactly ONE url_norm-keyed window exchange
    from ci_log_processing_spark.operators.urls import (
        attach_urls,
        normalize_urls,
        url_dedup,
    )

    p = str(tmp_path / "udocs")
    spark.createDataFrame(
        [(i,) for i in range(24)], "doc_id long"
    ).write.parquet(p)
    docs = attach_urls(spark.read.parquet(p))
    plan = normalize_urls(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    plan = url_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_token_entropy_two_partial_agg_exchanges(spark, tmp_path):
    # explode -> (doc, term) count -> doc agg: exactly two hash
    # exchanges, both fed by partial aggregates (map-side combine)
    from ci_log_processing_spark.operators.textstats import token_entropy

    p = str(tmp_path / "edocs")
    spark.createDataFrame(
        [(i, "a b c a") for i in range(12)], "doc_id long, text string"
    ).write.parquet(p)
    plan = (
        token_entropy(spark.read.parquet(p))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_bloom_and_temperature_never_shuffle_the_corpus(spark, tmp_path):
    """bloom_decontaminate is a pure per-row expression; the
    temperature mixture's only exchanges aggregate GROUP COUNTS —
    the corpus rows themselves must reach the filter via broadcast
    join only."""
    from ci_log_processing_spark.operators.curation import (
        bloom_decontaminate,
        sqrt_temperature_mixture,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}", f"s{i % 3}")
         for i in range(30)],
        "doc_id long, text string, source string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)

    plan = (
        bloom_decontaminate(docs, ["alpha beta gamma delta epsilon"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan

    plan = (
        sqrt_temperature_mixture(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # corpus side joins broadcast; no sort-merge/shuffled-hash join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_priority_sample_single_group_exchange(spark, tmp_path):
    """One hash exchange on the group key feeds both the rank and
    tau windows (the quality_top_fraction plan class)."""
    from ci_log_processing_spark.operators.curation import priority_sample

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"s{i % 3}", i + 1) for i in range(30)],
        "doc_id long, source string, n_chars long",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        priority_sample(docs, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_latency_pctl_shuffles_distinct_values_not_turns(spark, tmp_path):
    """The value-histogram percentile: after the conv window, the
    only exchanges carry (group, gap) DISTINCT-value rows — the
    hash aggregate appears before any group-keyed exchange."""
    from ci_log_processing_spark.operators.aggregate import (
        turn_latency_percentiles,
    )

    rows = []
    import datetime as _dt

    for c in range(6):
        for i in range(10):
            rows.append(
                (f"c{c}", i, f"s{i % 2}",
                 _dt.datetime(2024, 3, 1, 10, 0, i))
            )
    p = str(tmp_path / "t")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sink string, filled_ts timestamp"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = (
        turn_latency_percentiles(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # partial aggregate (map-side combine) must exist: HashAggregate
    # appears at least twice per agg (partial + final)
    assert "HashAggregate" in plan, plan
    # three exchanges total: conv window, (sink,gap) histogram agg,
    # sink window/agg — anything more is a regression
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_dsir_no_shuffle_join_no_global_sort(spark, tmp_path):
    """dsir_sample: the ratio table and the histogram/threshold
    tables broadcast; the corpus never sort-merge-joins; and the
    global top-fraction has NO global sort — the selection comes from
    the tiny value histogram, not an ORDER BY over the corpus."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.curation import dsir_sample
    from ci_log_processing_spark.operators.dedup import release_persisted

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta w{i % 9} gamma w{i % 4}", "s" + str(i % 3))
         for i in range(50)],
        "doc_id long, text string, source string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = dsir_sample(docs, docs.filter(F.col("source") == "s0"))
    try:
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        release_persisted()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # no corpus-wide global sort: every Sort is window-local
    # (global=false) or inside a bounded broadcast subtree
    import re

    assert not re.search(r"Sort \[[^\]]*\], true,", plan), plan
    # the weights subtree is computed once and cached for its three
    # consumers (m, histogram, final join); AQE's printout may echo
    # the cached relation inside each scan, so assert presence, not
    # an exact count
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_decontaminate_spans_flag_is_scan_side(spark, tmp_path):
    """decontaminate_spans: the shingle-hash membership test is a
    literal filter on the positional-shingle stream (no join for the
    test set), and the only joins are the doc-keyed span join —
    broadcast here, plain equi-join at scale."""
    from ci_log_processing_spark.operators.curation import (
        decontaminate_spans,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "the quick brown fox jumps " + f"w{i}") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = decontaminate_spans(docs, ["quick brown fox"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    # the benchmark set appears as an IN-list/join-free predicate on
    # the scan side: exactly one join in the whole plan (spans->docs)
    assert plan.count("Join") == 1, plan


def test_preference_pairs_no_join_single_lineage(spark, tmp_path):
    """The repair text must come from the struct-min window, never a
    self-join: a join here re-derives the entire upstream pipeline
    for the second side (two parse lineages — the regression PLANS.md
    documents). Guard: no join operator at all, exactly one scan of
    the routed input, and exactly ONE exchange — the (conv, tool)
    repair window is satisfied by the conv-keyed partitioning the
    lead window already established (subset-key clustering), so it
    adds only a local sort, not a shuffle."""
    from ci_log_processing_spark.operators.sft import preference_pairs

    p = str(tmp_path / "routed")
    spark.createDataFrame(
        [
            ("c1", 0, "assistant", "search", "q", "tool_calls"),
            ("c1", 1, "assistant", None, "boom", "errors"),
            ("c1", 2, "assistant", "search", "q2", "tool_calls"),
        ],
        "conv_id string, turn_idx int, role string, tool string, "
        "message string, sink string",
    ).write.parquet(p)
    routed = spark.read.parquet(p)
    plan = (
        preference_pairs(routed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_nb_classifier_shuffles_vocab_not_instances(spark, tmp_path):
    """nb_quality_classifier: the training explode aggregates with
    map-side combine (shuffled volume = vocabulary), the 1-row
    totals/priors reach the plan as broadcasts, and no cartesian
    product or data-sized collect appears anywhere."""
    from pyspark.sql import functions as F
    from ci_log_processing_spark.operators.dedup import release_persisted
    from ci_log_processing_spark.operators.textstats import (
        nb_quality_classifier,
    )

    p = str(tmp_path / "nbdocs")
    spark.createDataFrame(
        [(i, i % 3, "tok%d common words here" % (i % 7)) for i in range(40)],
        "doc_id long, lbl int, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p).withColumn(
        "label", (F.col("lbl") == 0).cast("int")
    )
    plan = (
        nb_quality_classifier(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_persisted()
    # vocab agg + instance-side join key + per-doc sum + final
    # doc-keyed join: four hash exchanges, no more
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    # totals and priors are 1-row aggregates, not data-sized plans
    assert plan.count("Exchange SinglePartition") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_stratified_split_single_exchange_no_join(spark, tmp_path):
    """One stratum-keyed hash exchange feeds both the rank and count
    windows; assignment is per-row arithmetic — no joins anywhere."""
    from ci_log_processing_spark.operators.curation import (
        stratified_split,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)],
        "doc_id long, source string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        stratified_split(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_length_batches_group_agg_rides_window_exchange(spark, tmp_path):
    """The (source, batch_id) rollup's group key is a superset of the
    window's partition key, so HashPartitioning(source) satisfies it
    — ONE exchange for the window AND the batch aggregate."""
    from ci_log_processing_spark.operators.curation import (
        length_batches,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"s{i % 3}", "w " * (i % 7 + 1)) for i in range(30)],
        "doc_id long, source string, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        length_batches(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_skipgram_single_pair_exchange_no_join(spark, tmp_path):
    """Pair generation is a per-row array expression — the ONLY
    exchange is the (tok_a, tok_b) count aggregate; a positional
    self-join here would be the quadratic anti-pattern."""
    from ci_log_processing_spark.operators.textstats import (
        skipgram_pairs,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b c d e f") for i in range(10)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        skipgram_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_inverted_index_band_filters_before_collect(spark, tmp_path):
    """The df band must gate the posting collect (LeftSemi against
    the banded term table), and nothing may go cartesian."""
    from ci_log_processing_spark.operators.dedup import (
        release_persisted,
    )
    from ci_log_processing_spark.operators.retrieval import (
        inverted_index,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"t{i % 3} common") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        inverted_index(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    release_persisted()
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_count_cosine_no_cartesian_tf_reused(spark, tmp_path):
    """Candidate generation must stay on the term-keyed equi-join
    (df-cut bounded) — never a cartesian — and the persisted tf
    grain must feed norms, df, and the pair join from cache."""
    from ci_log_processing_spark.operators.dedup import (
        count_cosine_pairs,
        release_persisted,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"u{i} v{i} w{i} x{i} y{i}") for i in range(20)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = (
        count_cosine_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    release_persisted()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_salted_join_scatters_without_broadcast(spark, tmp_path):
    """salted_join must (a) return exactly the unsalted join's rows,
    (b) put the salt in the join keys, and (c) stay a shuffle join
    when broadcast is disabled — splitting the hot key over N_SALTS
    reducers is its whole reason to exist."""
    from ci_log_processing_spark.operators.skew import salted_join

    p = str(tmp_path / "fact")
    # skewed fact: one hot key with 500 rows, 20 cold keys
    rows = [("hot", i, "s") for i in range(500)]
    rows += [(f"k{j}", i, "s") for j in range(20) for i in range(5)]
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, sink string"
    ).write.parquet(p)
    fact = spark.read.parquet(p)
    dim = fact.groupBy("conv_id").count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = salted_join(fact, dim, "conv_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "_salt" in plan, plan
        got = sorted(
            (r["conv_id"], r["turn_idx"], r["count"])
            for r in out.collect()
        )
        want = sorted(
            (r["conv_id"], r["turn_idx"], r["count"])
            for r in fact.join(dim, "conv_id").collect()
        )
        assert got == want
        # the hot key's fact rows spread across >1 salt
        n_salt_vals = (
            salted_join(fact, dim, "conv_id")
            .filter("conv_id = 'hot'")
            .count()
        )
        assert n_salt_vals == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cube_expands_before_partial_aggregate(spark, tmp_path):
    """cube_hourly: the Expand node must sit BELOW the first
    HashAggregate (map-side combine applies to every grain) and the
    grain count is complete (2^3 grouping sets)."""
    import datetime as dt

    from ci_log_processing_spark.operators.aggregate import cube_hourly

    p = str(tmp_path / "routed_cube")
    rows = [
        ("c1", "errors", "ERROR", dt.datetime(2024, 3, 1, 10 + (i % 3)))
        for i in range(30)
    ]
    spark.createDataFrame(
        rows, "conv_id string, sink string, severity string, "
              "filled_ts timestamp"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = cube_hourly(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan, plan
    # partial+final agg pair around one exchange
    assert plan.count("HashAggregate") >= 2, plan
    grains = {r["grain"] for r in out.collect()}
    assert grains == set(range(8))
