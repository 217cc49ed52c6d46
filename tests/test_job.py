"""The spark-submit job (plans/job.py) end to end: summary counts
from the write's Observation, checkpoint resume, and --no-write.

The job runs in a subprocess: its main() stops its SparkSession,
which would also stop the shared test session."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from ci_log_processing_spark.plans.pipeline import full_pipeline
from ci_log_processing_spark.sources.derived import conv_meta_sql
from ci_log_processing_spark.sources.transcripts import load_transcripts
from test_route import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = {
    "rows", "skipped_already_processed", "sinks", "wall_sec",
    "rows_per_sec", "impl", "fanout_write_sec",
}


def _run_job(out_dir, summary_path, *extra):
    r = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "run_pipeline.py"),
            "--master", "local[2]",
            "--input-dir", SF,
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
    meta = spark.sql(conv_meta_sql("spark", "events"))
    routed = full_pipeline(t, spark, meta=meta)
    expected = {
        r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()
    }

    out = tmp_path / "out"
    first = _run_job(out, tmp_path / "first.json")
    assert set(first) == KEYS | {"post_write_sec"}
    assert first["rows"] == 1000 == sum(first["sinks"].values())
    assert first["sinks"] == expected
    assert _sink_counts(spark, out) == first["sinks"]
    hourly = spark.read.parquet(str(out / "agg_hourly"))
    assert hourly.agg(F.sum("cnt")).first()[0] == first["rows"]

    # same batch again: every conv is checkpointed, nothing is appended
    rerun = _run_job(out, tmp_path / "rerun.json")
    assert set(rerun) == KEYS | {"post_write_sec"}
    assert rerun["rows"] == 0 and rerun["sinks"] == {}
    assert rerun["skipped_already_processed"] > 0
    assert _sink_counts(spark, out) == first["sinks"]

    dry_out = tmp_path / "dry"
    dry = _run_job(dry_out, tmp_path / "dry.json", "--no-write")
    assert set(dry) == KEYS | {"no_write"}
    assert dry["no_write"] is True
    assert dry["sinks"] == first["sinks"]
    assert not (dry_out / "sinks").exists()
