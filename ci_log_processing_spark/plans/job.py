"""spark-submit entry point: the whole parse -> enrich -> route ->
aggregate job: filter_unprocessed (skip convs the manifest records)
-> full_pipeline -> sinks.commit_batch, the batch commit each follow
micro-batch also runs.

Usage (local or cluster — only master/size differ):

  spark-submit --py-files ci_log_processing_spark.zip \
      -m ci_log_processing_spark.plans.job \
      --input-dir /root/testdata/sf0.001 \
      --output-dir /tmp/clp_out \
      [--batch-ts "2024-01-01 00:00:00"] \
      [--impl native|pandas]

  --transcripts-parquet PATH replaces --input-dir: it reads a
  materialized transcripts table, and a conv_meta.parquet beside it
  (if any) drives the no_metadata rule.

Writes (sinks.commit_batch; follow mode appends the same four):
  <out>/sinks/sink=<s>/event_date=<d>/
                              the one sink table (Iceberg analog,
                              partitioned by sink and date)
  <out>/agg_hourly/           per-sink windowed counts
  <out>/metrics/              per-partition lineage + row counts
  <out>/checkpoint/           processed conv manifest (resume via
                              left-anti join on the next run or
                              micro-batch, of either mode)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-dir", default=None)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--batch-ts", default="2024-01-01 00:00:00")
    # native is the default: measured faster than the pandas grok at
    # BOTH local[8] (948k vs 537k compute rows/s) and local[32]
    # (2.41M vs 1.42M) with better N->4N efficiency (BASELINE.md; the
    # UDF then also parsed the timestamp, message and program/pid).
    # --impl pandas stays as the mandated-path parity option.
    ap.add_argument("--impl", choices=["native", "pandas"], default="native")
    ap.add_argument("--no-write", action="store_true",
                    help="compute every sink row and count per-sink "
                         "rows, but write to Spark's noop sink instead "
                         "of the tables; no aggregates, metrics or "
                         "checkpoint (isolates engine throughput from "
                         "single-disk sink bandwidth in scaling "
                         "measurements)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--transcripts-parquet", default=None,
                    help="read a materialized transcripts table instead of deriving from events")
    ap.add_argument("--summary-json", default=None,
                    help="also write the run summary JSON to this file "
                         "(stdout can interleave with JVM GC logs)")
    args = ap.parse_args(argv)
    if args.input_dir is None and args.transcripts_parquet is None:
        ap.error("one of --input-dir or --transcripts-parquet is required")

    from ..operators.checkpoint import filter_unprocessed
    from ..operators.route import SINKS
    from ..session import get_spark, hadoop_fs
    from ..sinks import commit_batch, fanout_rows, observe_counts
    from ..sources.transcripts import load_transcripts
    from .pipeline import full_pipeline

    spark = get_spark(master=args.master)
    t0 = time.time()

    # conv-level metadata presence drives the no_metadata drop rule
    # (reference: builds without buildinfo/inventory never route,
    # logsender.py:136-141). The events-derived input ships a conv
    # metadata table; a materialized transcripts parquet may ship a
    # conv_meta.parquet sibling — absent that, all convs are treated
    # as having metadata.
    meta = None
    if args.transcripts_parquet:
        transcripts = spark.read.parquet(args.transcripts_parquet)
        meta_path = os.path.join(
            os.path.dirname(args.transcripts_parquet.rstrip("/")),
            "conv_meta.parquet",
        )
        # Hadoop FS, not os.path: the transcripts path is an
        # HDFS/S3 URI in the deployment this job is designed for,
        # where os.path.exists would silently disable the
        # no_metadata rule
        fs, Path = hadoop_fs(spark, meta_path)
        if fs.exists(Path(meta_path)):
            meta = spark.read.parquet(meta_path)
    else:
        from ..sources.derived import conv_meta_sql

        transcripts = load_transcripts(spark, args.input_dir)
        meta = spark.sql(conv_meta_sql("spark"))

    transcripts, already = filter_unprocessed(
        spark, transcripts, os.path.join(args.output_dir, "checkpoint")
    )

    routed = full_pipeline(
        transcripts,
        spark,
        batch_ts=args.batch_ts,
        impl=args.impl,
        meta=meta,
    )

    # one commit, shared with follow (sinks.commit_batch): the
    # fan-out write, then agg_hourly, metrics and the conv manifest
    # that makes a re-run skip processed convs (at-least-once like the
    # reference's remove-dir-on-success, logsender.py:550-560)
    batch_id = args.batch_ts.replace(" ", "T").replace(":", "-")
    if args.no_write:

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        rows = fanout_rows(routed, batch_id)
        # warmup on a 2% sample: pays the one-time Janino codegen /
        # JIT compile (~8-10 s, identical generated classes) outside
        # the measured window, so wall_sec is steady-state engine
        # throughput — the quantity that scales with executors on a
        # real cluster where compile cost amortizes to zero
        noop(rows.sample(0.02, seed=7))
        t0 = time.time()
        observed, obs = observe_counts(rows)
        noop(observed)
        got = obs.get
    else:
        got = commit_batch(routed, args.output_dir, batch_id)
    n_rows = got["n"]
    wall = time.time() - t0
    summary = {
        "rows": n_rows,
        "skipped_already_processed": already,
        # zero-count sinks are left out, like a GROUP BY over the sinks
        "sinks": {s: got[s] for s in SINKS if got[s]},
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "impl": args.impl,
        **({"no_write": True} if args.no_write else {}),
    }
    print(json.dumps(summary))
    if args.summary_json:
        with open(args.summary_json, "w") as f:
            json.dump(summary, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
