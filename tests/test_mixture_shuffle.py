"""Tests for the round-3 curation additions: deterministic mixture
sampling, the distributed global shuffle index, corpus-wide line
dedup, and SemDeDup-style cluster dedup."""

import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark.operators.curation import (
    mixture_sample,
    shuffle_index,
)
from ci_log_processing_spark.operators.similarity import (
    EMB_DUP_THRESHOLD,
    QUANTIZER_ITERS,
    cosine_col,
    kmeans_fit,
    semantic_cluster_dedup,
)
from ci_log_processing_spark.operators.textstats import (
    attach_boilerplate,
    line_dedup,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"unique body line {i} with words", "src%d" % (i % 4)) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_mixture_sample_rates_and_determinism(docs):
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = mixture_sample(docs, rates, default_rate=0.25).toPandas()
    by_src = out.groupby("source").size().to_dict()
    # rate 1.0 keeps everything, rate 0.0 keeps nothing
    assert by_src.get("src0", 0) == 50
    assert by_src.get("src2", 0) == 0
    # fractional rates keep a nonempty strict subset
    assert 0 < by_src.get("src1", 0) < 50
    assert 0 < by_src.get("src3", 0) < 50
    # re-run reproduces the identical survivor set (no RNG anywhere)
    again = mixture_sample(docs, rates, default_rate=0.25).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])


def test_mixture_sample_rejects_bad_rate(docs):
    with pytest.raises(ValueError):
        mixture_sample(docs, {"src0": 1.5})
    with pytest.raises(ValueError):
        mixture_sample(docs, {}, default_rate=-0.1)


def test_shuffle_index_is_dense_global_permutation(docs):
    from ci_log_processing_spark.operators.dedup import release_persisted

    out = shuffle_index(docs, shard_size=32).toPandas()
    release_persisted()
    assert len(out) == 200
    assert sorted(out["global_idx"]) == list(range(200))
    # the two-level rank must equal the single-window global rank
    ref = (
        docs.select(
            "doc_id",
            F.md5(
                F.concat(F.lit("shuf1"), F.col("doc_id").cast("string"))
                .cast("binary")
            ).alias("k"),
        )
        .toPandas()
        .sort_values(["k", "doc_id"])
        .reset_index(drop=True)
    )
    got = out.sort_values("global_idx").reset_index(drop=True)
    assert list(got["doc_id"]) == list(ref["doc_id"])
    # shards are contiguous ranges of shard_size
    assert (out["shard"] == out["global_idx"] // 32).all()


def test_shuffle_index_no_global_window(docs, spark):
    # the plan must never sort/window the DATA in one partition: the
    # only SinglePartition exchange allowed is the <=256-row
    # bucket-offset cumsum, and the data window is hash-partitioned
    # on the bucket key
    from ci_log_processing_spark.operators.dedup import release_persisted

    release_persisted()  # hermetic: drop any cache an earlier test left
    plan = (
        shuffle_index(docs, shard_size=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_persisted()
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Exchange hashpartitioning(_bkt" in plan, plan
    # the single-partition side carries only the bucket-count rows
    # (grep its input columns: _bkt + the count, never _key/doc_id)
    single = plan.split("Exchange SinglePartition")[1]
    assert "_key" not in single.split("Exchange")[0]


def test_line_dedup_removes_hot_lines_in_order(spark):
    rows = (
        [(i, f"keep one {i}\nBOILER\nkeep two {i}") for i in range(10)]
        + [(100, "BOILER")]  # all-boilerplate doc: must vanish
    )
    docs = spark.createDataFrame(rows, "doc_id long, btext string")
    out = line_dedup(docs).toPandas().set_index("doc_id")
    assert 100 not in out.index
    assert len(out) == 10
    for i in range(10):
        assert out.loc[i, "clean_text"] == f"keep one {i}\nkeep two {i}"
        assert out.loc[i, "n_lines"] == 3
        assert out.loc[i, "n_kept"] == 2


def test_line_dedup_threshold_boundary(spark):
    # a line occurring exactly min_count-1 times survives
    rows = [(i, f"only {i}\nTWICE" if i < 2 else f"only {i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, btext string")
    out = line_dedup(docs).toPandas()
    kept_twice = out[out["doc_id"] < 2]
    assert (kept_twice["n_kept"] == 2).all()


def test_line_dedup_broadcasts_hot_set(spark):
    docs = spark.createDataFrame(
        [(i, f"x {i}\nB") for i in range(8)], "doc_id long, btext string"
    )
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_attach_boilerplate_rules(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (3, "b"), (5, "c"), (15, "d"), (97, "e"), (0, "f")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["btext"]
        for r in attach_boilerplate(docs).collect()
    }
    assert got[1] == "boilerplate banner 1\na"
    assert got[3] == "b"  # %3==0: no banner
    assert got[5] == "boilerplate banner 5\nc\nboilerplate footer"
    assert got[15] == "d\nboilerplate footer"
    assert got[97] == "boilerplate footer"  # replaced outright
    assert got[0] == "boilerplate footer"  # %97==0 wins over banner/footer


def test_semantic_cluster_dedup_keep_rule(spark):
    # 3 tight groups of near-identical vectors + outliers, each group
    # and outlier on its own axis, so cross-group cosines are ~0
    import random

    rng = random.Random(7)

    def axis(a):
        return [1.0 if j == a else 0.0 for j in range(8)]

    rows = []
    for g in range(3):
        for i in range(6):
            rows.append(
                (g * 10 + i, [v + rng.uniform(-1e-3, 1e-3) for v in axis(g)])
            )
    for i in range(5):
        rows.append((100 + i, axis(3 + i)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_cluster_dedup(emb)
    pdf = out.toPandas().set_index("vec_id")
    assert len(pdf) == 23  # one row per input vector
    # verify the keep rule brute-force: kept iff no lower-id
    # same-cluster vector within threshold
    assigned = kmeans_fit(emb, n_iter=QUANTIZER_ITERS, keep_vec=True)
    a = assigned.alias("a")
    b = assigned.alias("b")
    viol = (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(
            cosine_col(F.col("a.embedding"), F.col("b.embedding"))
            >= EMB_DUP_THRESHOLD
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .toPandas()["vec_id"]
        .tolist()
    )
    for vid in pdf.index:
        assert pdf.loc[vid, "is_kept"] == (vid not in viol)
    # each tight group keeps at least its lowest id
    for g in range(3):
        assert pdf.loc[g * 10, "is_kept"]


def test_quality_top_fraction_integer_cut(spark):
    from ci_log_processing_spark.operators.curation import (
        quality_top_fraction,
    )

    rows = [(i, "g", float(i)) for i in range(10)] + [
        (100 + i, "h", float(i % 3)) for i in range(7)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = quality_top_fraction(docs, 2, 5).toPandas()
    g = out[out["source"] == "g"]
    # ceil(2/5 * 10) = 4 survivors: the four highest scores
    assert sorted(g["doc_id"]) == [6, 7, 8, 9]
    h = out[out["source"] == "h"]
    # qualities are [0,1,2,0,1,2,0]; ceil(2/5 * 7) = 3 keeps both
    # 2.0s and ONE 1.0 — the tie at 1.0 breaks by doc_id ascending
    assert len(h) == 3
    assert sorted(h["doc_id"]) == [101, 102, 105]
    with pytest.raises(ValueError):
        quality_top_fraction(docs, 0, 5)


def test_token_budget_sample_running_sum(spark):
    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(i, "s", "tok " * 9 + "tok") for i in range(20)],
        "doc_id long, source string, text string",
    )
    # every doc is 10 tokens; budget 45 admits exactly 4 docs
    out = token_budget_sample(docs, 45).toPandas()
    assert len(out) == 4
    assert list(sorted(out["cum_tok"])) == [10, 20, 30, 40]
    # admitted set is the md5-order prefix — rerun reproduces it
    again = token_budget_sample(docs, 45).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])
    # zero budget admits nothing
    assert token_budget_sample(docs, 0).count() == 0


def test_token_budget_sample_precomputed_counts(spark):
    """n_tok_col swaps the whitespace proxy for a precomputed
    (tokenizer-true) per-doc count — admission must follow the
    supplied column, not the text."""
    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )

    # text says 10 tokens each, the real tokenizer says 25 — with
    # n_tok_col the budget of 45 admits only 1 doc, not 4
    docs = spark.createDataFrame(
        [(i, "s", "tok " * 9 + "tok", 25) for i in range(20)],
        "doc_id long, source string, text string, n_real long",
    )
    out = token_budget_sample(docs, 45, n_tok_col="n_real").toPandas()
    assert len(out) == 1
    assert list(out["n_tok"]) == [25] and list(out["cum_tok"]) == [25]
    # the admitted doc is the md5-order head — same doc the
    # whitespace path admits first
    ws = token_budget_sample(docs, 45).toPandas()
    assert out["doc_id"].iloc[0] == ws.sort_values("cum_tok")["doc_id"].iloc[0]
