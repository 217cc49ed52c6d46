"""The vector tier's shared stages: a corpus smaller than k, an empty
corpus, and IVF+PQ probing every list, which must be plain PQ."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from ci_log_processing_spark import oracle_data as od
from ci_log_processing_spark.operators.similarity import (
    ivfpq_ann_topk,
    kmeans_fit,
    knn_graph,
    pq_ann_topk,
    srp_near_dup_pairs,
)

SF = "/root/testdata/sf0.001"
EMB_SCHEMA = "vec_id long, label int, embedding array<float>"


def test_kmeans_fit_fewer_vectors_than_k_matches_twin(spark, tmp_path):
    # 3 vectors, k=8: the fit uses the 3 seeds drawn, as the twin's
    # LIMIT k does
    p = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [
            (1, 0, [0.5, 1.25, -2.0]),
            (2, 0, [3.0, 0.75, 1.5]),
            (3, 1, [-1.0, 2.5, 0.25]),
        ],
        EMB_SCHEMA,
    ).coalesce(1).write.parquet(p)
    got = sorted(
        tuple(r) for r in kmeans_fit(spark.read.parquet(p), n_iter=2)
        .select("vec_id", "bkt", "dist").collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}/*.parquet'")
    want = sorted(con.execute(od.q_kmeans_fit(8, 2)).fetchall())
    assert got == want
    assert sorted(b for _, b, _ in got) == [0, 1, 2]


EMPTY_INPUT_CALLS = {
    "pq_ann_topk": lambda e: pq_ann_topk(e, e),
    "srp_near_dup_pairs": lambda e: srp_near_dup_pairs(e),
    "kmeans_fit": lambda e: kmeans_fit(e),
    "knn_graph": lambda e: knn_graph(e),
    "ivfpq_ann_topk": lambda e: ivfpq_ann_topk(e, e),
}


@pytest.mark.parametrize("op", sorted(EMPTY_INPUT_CALLS))
def test_vector_operator_rejects_empty_input(spark, op):
    empty = spark.createDataFrame([], EMB_SCHEMA)
    with pytest.raises(ValueError, match="embedding input is empty"):
        EMPTY_INPUT_CALLS[op](empty)


@pytest.mark.parametrize("rerank", [None, 50])
def test_ivfpq_probing_every_list_is_pq(spark, rerank):
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 4)
    pq = dict(m=4, k_codes=8, n_iter=2, k=10, rerank=rerank)
    ivf = ivfpq_ann_topk(emb, q, nprobe=8, k_coarse=8, **pq).cache()
    flat = pq_ann_topk(emb, q, **pq).cache()
    assert ivf.count() == flat.count() == 40
    assert ivf.exceptAll(flat).count() == 0
    assert flat.exceptAll(ivf).count() == 0
    ivf.unpersist()
    flat.unpersist()
