"""streaming/partials.py: the one batch-addressed partial layout the
foreachBatch modules share — which partials a read selects, and that
every partial-reading module works on a Hadoop FS URI exactly as on a
plain local path."""

import os

import pytest

from ci_log_processing_spark.streaming.partials import (
    read_partials,
    write_partial,
)

SF = "/root/testdata/sf0.001"
SCHEMA = "batch long, v string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_partials_selects_by_batch(spark, tmp_path):
    root = str(tmp_path / "parts")
    for k in (0, 1, 2, 10):
        write_partial(
            spark.createDataFrame([(k, f"b{k}")], SCHEMA), root, k
        )
    # not partials: only b<k> directories are read, never a staging
    # dir or any other b-prefixed name
    stray = spark.createDataFrame([(-1, "stray")], SCHEMA)
    stray.write.parquet(os.path.join(root, "b_compact"))
    stray.write.parquet(os.path.join(root, "_stage_b3"))

    every = _rows(read_partials(spark, root, SCHEMA))
    assert [r[0] for r in every] == [0, 1, 2, 10]
    # batch 2 sees strictly earlier batches: not its own attempt, not
    # later ones (a full replay with a fresh checkpoint)
    assert _rows(read_partials(spark, root, SCHEMA, before=2)) == [
        (0, "b0"),
        (1, "b1"),
    ]
    assert _rows(read_partials(spark, root, SCHEMA, before=0)) == []
    later = read_partials(spark, root, SCHEMA, before=11)
    assert [r[0] for r in _rows(later)] == [0, 1, 2, 10]
    # the same selection through a file:// URI
    assert _rows(
        read_partials(spark, "file://" + root, SCHEMA, before=2)
    ) == [(0, "b0"), (1, "b1")]

    missing = read_partials(spark, str(tmp_path / "absent"), SCHEMA)
    assert missing.schema.simpleString() == "struct<batch:bigint,v:string>"
    assert missing.count() == 0


def _write_waves(df, in_dir, n):
    """`n` input files, one micro-batch each (max_files_per_trigger=1)."""
    df.repartition(n).write.parquet(in_dir)


def _hll(spark, work):
    from ci_log_processing_spark.sources.transcripts import load_transcripts
    from ci_log_processing_spark.streaming.hll_stream import (
        run_streaming_hll,
    )

    in_dir = os.path.join(work, "in")
    load_transcripts(spark, SF).repartition(2, "conv_id").write.parquet(
        in_dir
    )
    return lambda out: run_streaming_hll(
        spark, in_dir, out, max_files_per_trigger=1
    )


def _hdr(spark, work):
    from ci_log_processing_spark.sources.transcripts import load_transcripts
    from ci_log_processing_spark.streaming.hdr_stream import (
        run_streaming_hdr,
    )

    in_dir = os.path.join(work, "in")
    load_transcripts(spark, SF).repartition(2, "conv_id").write.parquet(
        in_dir
    )
    return lambda out: run_streaming_hdr(spark, in_dir, out)


def _cms(spark, work):
    from ci_log_processing_spark.streaming.cms_stream import (
        run_streaming_cms,
    )

    in_dir = os.path.join(work, "in")
    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} filler{i}") for i in range(40)],
        "doc_id long, text string",
    )
    _write_waves(docs, in_dir, 2)
    return lambda out: run_streaming_cms(
        spark, in_dir, out, candidates_k=5, width=32, depth=3
    )


def _drift(spark, work):
    from ci_log_processing_spark.streaming.drift_stream import (
        run_streaming_drift,
    )

    schema = "vec_id long, label int, embedding array<float>"
    in_dir = os.path.join(work, "in")
    ref_dir = os.path.join(work, "ref")
    stream = spark.createDataFrame(
        [(i, i % 3, [float(i % 5), 1.0]) for i in range(30)], schema
    )
    _write_waves(stream, in_dir, 2)
    spark.createDataFrame(
        [(100 + i, i % 3, [2.0, float(i % 4)]) for i in range(15)], schema
    ).write.parquet(ref_dir)
    return lambda out: run_streaming_drift(spark, in_dir, ref_dir, out)


def _templates(spark, work):
    from ci_log_processing_spark.streaming.template_stream import (
        run_streaming_templates,
    )

    in_dir = os.path.join(work, "in")
    turns = spark.createDataFrame(
        [
            (f"c{i % 4}", i, f"step {i} took {i * 3}s", "agent_turns")
            for i in range(20)
        ],
        "conv_id string, turn_idx int, message string, sink string",
    )
    _write_waves(turns, in_dir, 2)
    return lambda out: run_streaming_templates(spark, in_dir, out)


@pytest.mark.parametrize(
    "setup", [_hll, _hdr, _cms, _drift, _templates],
    ids=["hll", "hdr", "cms", "drift", "templates"],
)
def test_partial_readers_accept_uri_output_dir(spark, tmp_path, setup):
    run = setup(spark, str(tmp_path))
    plain = _rows(run(str(tmp_path / "out_plain")))
    uri = _rows(run("file://" + str(tmp_path / "out_uri")))
    assert plain, "the stream produced no rows"
    assert uri == plain
    # the partials landed under the URI's local path, one per batch
    out_uri = tmp_path / "out_uri"
    batch_dirs = [
        d.name
        for sub in out_uri.iterdir()
        if sub.is_dir() and not sub.name.startswith("_")
        for d in sub.iterdir()
        if d.name.startswith("b")
    ]
    assert "b0" in batch_dirs and "b1" in batch_dirs

