#!/usr/bin/env python
"""Query timer — prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "checksums": {name: [rows, hash]}, ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default: this process's CPU affinity count).

  python bench.py              # the default SUITE plus the recall extras
  python bench.py NAME [...]   # any SUITE name or __spark_entry__.queries() key

Each query runs twice: the first run pays one-time JVM codegen/JIT
compile and is reported under `cold_first_run_sec`; the second is
the steady-state time in `queries`. Both are forced by a checksum
over every output column (a bare count() would let Catalyst prune
the work away), so two checkouts can also be compared on
`checksums`.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from ci_log_processing_spark.operators.dedup import (  # noqa: E402
    release_persisted,
)
from ci_log_processing_spark.session import get_spark  # noqa: E402
from ci_log_processing_spark.sources.transcripts import (  # noqa: E402
    load_transcripts,
)


def checksum(df) -> list:
    """[rows, sum of xxhash64 over all columns]: row-order free, and a
    row emitted twice changes it (a bit_xor would cancel it out).
    Map columns go through to_json (xxhash64 rejects maps); the
    decimal sum cannot overflow under ANSI."""
    cols = [F.to_json(df[c]) if "map<" in t else df[c] for c, t in df.dtypes]
    n, s = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return [n, None if s is None else int(s)]


def main(names):
    default = not names
    names = names or [name for name, _ in SUITE]
    resolve(names)  # fail on a typo before starting Spark
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    # the session's Python workers import the package too; they get
    # the JVM's PYTHONPATH, not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )
    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    out = {
        "metric": "headline suite wall time, steady-state (parse+route pipeline, aggs, dedup, ANN, text)",
        "unit": "sec",
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "cpus": cpus,
    }
    if default:
        # warms the events scan
        out["n_turns"] = load_transcripts(spark, sf_dir).count()
    steady, cold, sums = run(spark, sf_dir, names)
    if default:
        for name, key in (
            ("pipeline_native", "pipeline_native_turns_per_sec"),
            ("pipeline_pandas_udf", "pipeline_pandas_turns_per_sec"),
        ):
            out[key] = round(out["n_turns"] / steady[name], 1)
        out.update(recall_extras(spark, sf_dir))
        out["round3_suite"] = R3_QUERIES
    for key, members in SUBSETS.items():
        if all(m in steady for m in members):
            out[key] = round(sum(steady[m] for m in members), 3)
    out.update({
        "cold_first_run_sec": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
        "queries": steady,
        "checksums": sums,
        "value": round(sum(steady.values()), 3),
    })
    print(json.dumps(out))
    spark.stop()


# bench names that differ from their queries() name; the bench name
# stays the output key, as in BENCH_r01-r05
RENAMED = {
    "text_bigram_lm": "text_bigram_logprob",
    "text_bpe_train": "text_bpe_token_counts",
    "text_bpe_encode_arrow": "text_bpe_token_counts_arrow",
    "pipe_preference_pairs": "cur_preference_pairs",
}

# the default suite in run order, as (bench name, registry name)
SUITE = [(name, RENAMED.get(name, name)) for name in """
    pipeline_native pipeline_pandas_udf agg_hourly dedup_minhash_lsh
    ann_brute_force_topk ann_pq_rerank text_quality text_pii_scrub
    text_repetition text_repetition_arrow cur_pack_sequences
    dedup_components op_asof_join text_tfidf text_tfidf_pruned
    text_line_dedup cur_shuffle_index dedup_semantic_cluster
    cur_full_curation_v3 pipe_latency_pctl pipe_latency_hdr
    pipe_hll_distinct sim_knn_graph dedup_minhash_estimate
    cur_full_curation_v4 text_bigram_lm text_nb_quality
    cur_leakage_split cur_dsir_sample cur_decontaminate_spans
    cur_full_curation_v5 text_bpe_train text_bpe_encode_arrow
    pipe_tool_pagerank pipe_preference_pairs ret_bm25_topk
    dedup_winnow_pairs pipe_log_templates cur_zorder_audit
    pipe_conv_dedup cur_full_curation_v7 cur_apply_cdc
    pipe_scd2_intervals pipe_agg_incremental cur_dq_audit
    pipe_skew_audit cur_snapshot_asof cur_compaction_plan
    cur_column_profile pipe_volume_trend cur_chat_lint
    cur_stratified_split cur_length_batches text_skipgram_pairs
    ret_inverted_index dedup_count_cosine text_collocations
    mm_ahash_pairs text_phrase_merge ret_rrf_fusion cur_ks_drift
    dedup_sorted_neighborhood cur_pack_bfd text_bpe_fertility
    stream_ewma_alerts pipe_pseudonymize text_eval_f1
    src_csv_quarantine op_asof_forward dedup_cluster_cards
    pipe_ewma_alerts pipe_agg_cube op_salted_join text_source_keyness
    cur_render_chat text_watermark sim_kcenter_select mm_scene_cuts
    cur_reliability_iso dedup_symspell_pairs cur_sft_examples
""".split()]

def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _routed(impl):
    """full_pipeline's routed rows on the events-derived input, with
    the grok level on engine `impl` ('native' or 'arrow'; the bench
    name pipeline_pandas_udf, as in BENCH_r01-r05, is the arrow
    engine)."""

    def q(spark, sf_dir):
        from ci_log_processing_spark.plans.pipeline import full_pipeline
        from ci_log_processing_spark.sources.derived import conv_meta_sql

        transcripts = load_transcripts(spark, sf_dir)  # events view
        meta = spark.sql(conv_meta_sql("spark"))
        return full_pipeline(transcripts, spark, impl=impl, meta=meta)

    return q


def _agg_hourly(spark, sf_dir):
    from ci_log_processing_spark.operators.aggregate import hourly_agg
    from ci_log_processing_spark.plans.pipeline import full_pipeline

    return hourly_agg(full_pipeline(load_transcripts(spark, sf_dir), spark))


def _ann_brute_force_topk(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 16), k=10)


def _ann_pq_rerank(spark, sf_dir):
    from ci_log_processing_spark.operators.similarity import pq_ann_topk

    emb = _emb(spark, sf_dir)
    return pq_ann_topk(
        emb, emb.filter(F.col("vec_id") < 16),
        m=4, k_codes=8, n_iter=2, k=10, rerank=50,
    )


def _op_asof_join(spark, sf_dir):
    from ci_log_processing_spark.operators.asof import asof_join
    from ci_log_processing_spark.sources.derived import config_updates_sql

    transcripts = load_transcripts(spark, sf_dir)  # events view
    cfg = spark.sql(config_updates_sql("spark"))
    return asof_join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        cfg.withColumnRenamed("cfg_ts", "ts"),
        on=["conv_id"],
        value_cols=["cfg_state"],
    ).withColumn("cfg_state", F.coalesce("cfg_state", F.lit("")))


# suite entries with no queries() twin
BENCH_ONLY = {
    "pipeline_native": _routed("native"),
    "pipeline_pandas_udf": _routed("arrow"),
    "agg_hourly": _agg_hourly,
    "ann_brute_force_topk": _ann_brute_force_topk,
    "ann_pq_rerank": _ann_pq_rerank,
    "op_asof_join": _op_asof_join,
}


def resolve(names):
    """{name: query(spark, sf_dir) -> DataFrame} for suite names and
    queries() keys; raises KeyError naming every unknown one."""
    registry = entry.queries()
    to_registry = dict(SUITE)
    out, unknown = {}, []
    for name in names:
        reg = to_registry.get(name, name)
        fn = BENCH_ONLY.get(reg) or registry.get(reg)
        if fn is None:
            unknown.append(name)
        out[name] = fn
    if unknown:
        raise KeyError(f"unknown bench or query names: {unknown}")
    return out


def run(spark, sf_dir, names):
    """Time each query cold then steady-state; returns
    (steady, cold, checksums), each keyed by name."""
    steady, cold, sums = {}, {}, {}
    for name, fn in resolve(names).items():
        for times in (cold, steady):
            t0 = time.time()
            sums[name] = checksum(fn(spark, sf_dir))
            times[name] = round(time.time() - t0, 3)
            # several operators persist() intermediates referenced by
            # their returned plan; drop them after every run, or the
            # cache manager serves the steady-state run the cold
            # run's data and later queries run under cache pressure
            release_persisted()
            spark.catalog.clearCache()
    return steady, cold, sums


def recall_extras(spark, sf_dir) -> dict:
    """ANN / kNN-graph recall against brute force, and the rows the
    tf-idf Zipf-head prune removes from its tf ⋈ df join."""
    from ci_log_processing_spark.operators.similarity import (
        brute_force_topk,
        bucketed_ann_topk,
        ivf_multiprobe_topk,
        ivfpq_ann_topk,
        knn_graph,
        pq_ann_topk,
    )

    emb = _emb(spark, sf_dir)

    def recall(truth, approx) -> float:
        hit = approx.select("query_id", "neighbor_id").join(
            truth, ["query_id", "neighbor_id"]
        )
        return round(hit.count() / truth.count(), 4)

    # recall@10 of each probe/rerank setting over 16 queries: the
    # (nprobe, recall) and (rerank, recall) pairs are the operating
    # curves. PQ's pure ADC sits near the cell-occupancy floor; the
    # exact re-rank of an ADC shortlist (IVFADC+R) is the production
    # recall, and R=200 covers a whole sf0.1 cluster.
    ann_q = emb.filter(F.col("vec_id") < 16)
    truth = (
        brute_force_topk(emb, ann_q, k=10)
        .select("query_id", "neighbor_id")
        .persist()
    )
    pq = dict(m=4, k_codes=8, n_iter=2, k=10)
    out = {"ann_recall_at_10": {
        "bucketed_1probe": recall(truth, bucketed_ann_topk(emb, ann_q)),
        **{
            f"ivf_nprobe{p}": recall(
                truth, ivf_multiprobe_topk(emb, ann_q, nprobe=p)
            )
            for p in (2, 4, 8, 16)
        },
        "pq_adc": recall(truth, pq_ann_topk(emb, ann_q, **pq)),
        "pq_adc_rerank50": recall(
            truth, pq_ann_topk(emb, ann_q, rerank=50, **pq)
        ),
        "pq_adc_rerank200": recall(
            truth, pq_ann_topk(emb, ann_q, rerank=200, **pq)
        ),
        "ivfpq_nprobe2_rerank50": recall(
            truth, ivfpq_ann_topk(emb, ann_q, nprobe=2, rerank=50, **pq)
        ),
        "ivfpq_nprobe8_rerank200": recall(
            truth, ivfpq_ann_topk(emb, ann_q, nprobe=8, rerank=200, **pq)
        ),
    }}
    truth.unpersist()

    # kNN-graph recall@5 over a 64-vector probe sample, at nprobe=1
    # (argmin cell only) and nprobe=2
    g_truth = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") < 64), k=5)
        .select("query_id", "neighbor_id")
        .persist()
    )
    out["knn_graph_recall_at_5"] = {
        f"nprobe{p}": recall(
            g_truth,
            knn_graph(emb, nprobe=p)
            .filter(F.col("vec_id") < 64)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("nbr_id").alias("neighbor_id"),
            ),
        )
        for p in (1, 2)
    }
    g_truth.unpersist()

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").count()
    hot = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 0.5 * docs.count())
        .select("term")
    )
    out["tfidf_prune_join_rows"] = {
        "tf_rows_total": tf.count(),
        "tf_rows_after_df_cut_0.5": tf.join(
            F.broadcast(hot), "term", "left_anti"
        ).count(),
    }
    release_persisted()
    spark.catalog.clearCache()
    return out


# frozen per-round subsets: their subtotals keep cross-round
# comparisons apples-to-apples as the suite grows
R1_QUERIES = [
    "pipeline_native", "pipeline_pandas_udf", "agg_hourly",
    "dedup_minhash_lsh", "ann_brute_force_topk", "text_quality",
]
R2_QUERIES = R1_QUERIES + [
    "text_pii_scrub", "text_repetition", "cur_pack_sequences",
    "dedup_components",
]
R3_QUERIES = R2_QUERIES + [
    "op_asof_join", "text_tfidf", "text_line_dedup",
    "cur_shuffle_index", "dedup_semantic_cluster",
    "cur_full_curation_v3",
]
R4_QUERIES = R3_QUERIES + [
    "text_repetition_arrow", "text_tfidf_pruned",
    "pipe_latency_pctl", "pipe_latency_hdr", "pipe_hll_distinct",
    "sim_knn_graph",
    "dedup_minhash_estimate", "cur_full_curation_v4",
    "text_bigram_lm", "cur_leakage_split",
    "cur_dsir_sample", "cur_decontaminate_spans",
    "cur_full_curation_v5", "ret_bm25_topk", "dedup_winnow_pairs",
    "pipe_log_templates", "cur_zorder_audit", "pipe_conv_dedup",
    "cur_full_curation_v7", "cur_apply_cdc", "pipe_scd2_intervals",
    "pipe_agg_incremental", "cur_dq_audit", "pipe_skew_audit",
    "cur_snapshot_asof", "cur_compaction_plan",
    "cur_column_profile",
]
# round-4 closing batch, frozen before dedup_sorted_neighborhood and
# cur_ks_drift landed (those two are the round-5 subset)
R4F_QUERIES = [
    "dedup_symspell_pairs", "cur_reliability_iso",
    "mm_scene_cuts", "sim_kcenter_select", "text_watermark",
    "cur_render_chat", "text_source_keyness", "pipe_agg_cube",
    "op_salted_join", "pipe_ewma_alerts", "dedup_cluster_cards",
    "op_asof_forward", "src_csv_quarantine", "text_eval_f1",
    "pipe_pseudonymize", "stream_ewma_alerts",
    "text_bpe_fertility", "cur_pack_bfd",
]
R5_QUERIES = ["dedup_sorted_neighborhood", "cur_ks_drift"]
SUBSETS = {
    "value_round1_subset": R1_QUERIES,
    "value_round2_subset": R2_QUERIES,
    "value_round3_subset": R3_QUERIES,
    "value_round4_subset": R4_QUERIES,
    "value_round4f_subset": R4F_QUERIES,
    "value_round5_subset": R5_QUERIES,
}



if __name__ == "__main__":
    main(sys.argv[1:])
