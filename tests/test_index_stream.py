"""streaming/index_stream.py: the streamed posting-partial fold must
equal the one-pass batch index, and a replayed batch must REPLACE its
partial (batch-addressed overwrite), never double-index."""

import os
import shutil

from ci_log_processing_spark.operators.dedup import release_persisted
from ci_log_processing_spark.operators.retrieval import (
    inverted_index,
    posting_rows,
)
from ci_log_processing_spark.streaming.index_stream import (
    read_index,
    run_index_maintenance,
)

DOCS_SCHEMA = "doc_id long, text string"


def _write_wave(df, work, in_dir, name, mtime):
    tmp = os.path.join(work, "w_" + name)
    df.coalesce(1).write.parquet(tmp)
    pq = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    dst = os.path.join(in_dir, name + ".parquet")
    shutil.copy(os.path.join(tmp, pq[0]), dst)
    os.utime(dst, (mtime, mtime))


def _index_map(df):
    return {
        r.term: (r.df, r.n_occurrences, r.postings)
        for r in df.collect()
    }


def test_streamed_index_equals_batch_and_survives_replay(
    spark, tmp_path
):
    docs = spark.createDataFrame(
        [(i, f"t{i % 3} common t{i % 5}") for i in range(30)],
        DOCS_SCHEMA,
    )
    work = str(tmp_path)
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    w0 = docs.filter("doc_id % 2 = 0")
    _write_wave(w0, work, in_dir, "w0", 1_000_000)
    _write_wave(docs.filter("doc_id % 2 = 1"), work, in_dir, "w1",
                2_000_000)
    out_dir = os.path.join(work, "out")
    served = _index_map(run_index_maintenance(spark, in_dir, out_dir))
    release_persisted()
    whole = _index_map(inverted_index(docs))
    release_persisted()
    assert served == whole
    # both batches left their partial
    index_dir = os.path.join(out_dir, "index")
    assert sorted(
        d for d in os.listdir(index_dir) if d.startswith("b")
    ) == ["b0", "b1"]

    # REPLAY batch 0 (crash-after-write, retry): the recomputed
    # partial overwrites b0 in place — the served index must be
    # bit-identical, not doubled
    posting_rows(w0).write.mode("overwrite").parquet(
        os.path.join(index_dir, "b0")
    )
    again = _index_map(read_index(spark, index_dir))
    release_persisted()
    assert again == whole
