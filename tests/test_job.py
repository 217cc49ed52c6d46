"""The spark-submit job (plans/job.py) end to end: summary counts
from the write's Observation, checkpoint resume, --no-write, the
--transcripts-parquet input with and without a conv_meta.parquet
sibling, and the outputs the job and follow mode share: a run of
either mode after the other over one output directory commits every
turn exactly once.

The job runs in a subprocess: its main() stops its SparkSession,
which would also stop the shared test session."""

import json
import os
import subprocess
import sys

import duckdb
from pyspark.sql import functions as F

from ci_log_processing_spark.plans.pipeline import full_pipeline
from ci_log_processing_spark.sources.derived import conv_meta_sql
from ci_log_processing_spark.sources.transcripts import load_transcripts
from test_route import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = {
    "rows", "skipped_already_processed", "sinks", "wall_sec",
    "rows_per_sec", "impl",
}


def _run_job(out_dir, summary_path, *extra, source=("--input-dir", SF)):
    r = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "run_pipeline.py"),
            "--master", "local[2]",
            *source,
            "--output-dir", str(out_dir),
            "--summary-json", str(summary_path),
            *extra,
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    with open(summary_path) as f:
        return json.load(f)


def _sink_counts(spark, out_dir):
    t = spark.read.parquet(os.path.join(str(out_dir), "sinks"))
    return {r["sink"]: r["count"] for r in t.groupBy("sink").count().collect()}


def test_job_summary_resume_and_no_write(spark, tmp_path):
    t = load_transcripts(spark, SF)  # registers the events view
    meta = spark.sql(conv_meta_sql("spark"))
    routed = full_pipeline(t, spark, meta=meta)
    expected = {
        r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()
    }

    out = tmp_path / "out"
    first = _run_job(out, tmp_path / "first.json")
    assert set(first) == KEYS
    assert first["rows"] == 1000 == sum(first["sinks"].values())
    assert first["sinks"] == expected
    assert _sink_counts(spark, out) == first["sinks"]
    hourly = spark.read.parquet(str(out / "agg_hourly"))
    assert hourly.agg(F.sum("cnt")).first()[0] == first["rows"]

    # same batch again: every conv is checkpointed, nothing is appended
    rerun = _run_job(out, tmp_path / "rerun.json")
    assert set(rerun) == KEYS
    assert rerun["rows"] == 0 and rerun["sinks"] == {}
    assert rerun["skipped_already_processed"] > 0
    assert _sink_counts(spark, out) == first["sinks"]

    dry_out = tmp_path / "dry"
    dry = _run_job(dry_out, tmp_path / "dry.json", "--no-write")
    assert set(dry) == KEYS | {"no_write"}
    assert dry["no_write"] is True
    assert dry["sinks"] == first["sinks"]
    assert not (dry_out / "sinks").exists()


def _assert_exactly_once(spark, out, turns):
    """Every input turn is in the sink table exactly once, and the
    hourly aggregate, the lineage metrics and the conv manifest each
    account for exactly those rows."""
    sinks = spark.read.parquet(str(out / "sinks"))
    rows = sinks.count()
    keys = sinks.select("conv_id", "turn_idx").distinct().count()
    assert rows == keys == turns

    def total(table, col):
        return duckdb.sql(
            f"SELECT sum({col}) FROM read_parquet('{out / table}/*.parquet')"
        ).fetchone()[0]

    assert total("agg_hourly", "cnt") == rows
    assert total("metrics", "rows") == total("checkpoint", "rows") == rows


def _counts(df, col):
    return {r[col]: r["count"] for r in df.groupBy(col).count().collect()}


def _parquet_input(root, t, meta=None):
    """`t` as a transcripts parquet table under `root`, with `meta` as
    its conv_meta.parquet sibling when given; returns the table path."""
    path = str(root / "transcripts")
    t.write.parquet(path)
    if meta is not None:
        meta.write.parquet(str(root / "conv_meta.parquet"))
    return path


def test_job_transcripts_parquet_with_sibling_meta(spark, tmp_path):
    from ci_log_processing_spark.streaming.follow import run_follow

    t = load_transcripts(spark, SF)
    convs = sorted(
        r["conv_id"] for r in t.select("conv_id").distinct().collect()
    )
    meta = spark.createDataFrame(
        [(c,) for i, c in enumerate(convs) if i % 10], "conv_id string"
    )
    path = _parquet_input(tmp_path, t, meta)
    expected = full_pipeline(t, spark, meta=meta)

    out = tmp_path / "out"
    got = _run_job(
        out, tmp_path / "s.json", source=("--transcripts-parquet", path)
    )
    assert got["sinks"] == _counts(expected, "sink")
    written = spark.read.parquet(str(out / "sinks"))
    drops = _counts(written, "drop_reason")
    assert drops["no_metadata"] > 0
    assert drops == _counts(expected, "drop_reason")

    _assert_exactly_once(spark, out, t.count())

    # a follow drain over the same output reads the job's manifest and
    # skips every conv the job committed; agg_hourly/ stays flat
    # top-level parquet files (the layout readers glob)
    run_follow(spark, path, str(out), meta=meta)
    agg = out / "agg_hourly"
    assert not [e.name for e in os.scandir(agg) if e.is_dir()]
    _assert_exactly_once(spark, out, got["rows"])


def test_follow_then_job_one_output(spark, tmp_path):
    """A job run over the output of a follow drain of the same input
    skips every conv the drain committed."""
    from ci_log_processing_spark.streaming.follow import run_follow

    t = load_transcripts(spark, SF)
    # conv-aligned files: a conv is the unit of readiness
    path = str(tmp_path / "transcripts")
    t.repartition(4, "conv_id").write.parquet(path)
    out = tmp_path / "out"
    run_follow(spark, path, str(out))
    turns = t.count()
    _assert_exactly_once(spark, out, turns)

    got = _run_job(
        out, tmp_path / "s.json", source=("--transcripts-parquet", path)
    )
    assert got["rows"] == 0 and got["sinks"] == {}
    convs = t.select("conv_id").distinct().count()
    assert got["skipped_already_processed"] == convs
    _assert_exactly_once(spark, out, turns)


def test_job_transcripts_parquet_without_meta(spark, tmp_path):
    t = load_transcripts(spark, SF)
    path = _parquet_input(tmp_path, t)
    out = tmp_path / "out"
    got = _run_job(
        out, tmp_path / "s.json", source=("--transcripts-parquet", path)
    )
    assert got["sinks"] == _counts(full_pipeline(t, spark), "sink")
    written = spark.read.parquet(str(out / "sinks"))
    assert written.filter(F.col("drop_reason") == "no_metadata").count() == 0
