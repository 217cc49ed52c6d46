"""One follow-mode drain in its own process: create the session, run
`streaming.follow.run_follow(..., processing_time=None)` (availableNow)
over a directory of transcript files, and write the drain wall time and
the query's own progress reports as JSON.

  python3 perfbench/follow_child.py --transcripts DIR --meta FILE \
      --output-dir OUT --master local[4] --batch-ts TS --result OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--meta", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--batch-ts", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from ci_log_processing_spark.session import get_spark
    from ci_log_processing_spark.streaming.follow import run_follow

    t0 = time.perf_counter()
    spark = get_spark(master=args.master)
    t1 = time.perf_counter()
    meta = spark.read.parquet(args.meta)
    q = run_follow(spark, args.transcripts, args.output_dir, batch_ts=args.batch_ts, meta=meta)
    t2 = time.perf_counter()
    batches = [
        {"rows": p["numInputRows"], "duration_ms": dict(p["durationMs"])}
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    files = len([f for f in os.listdir(args.transcripts) if f.endswith(".parquet")])
    result = {
        "session_s": t1 - t0,
        "drain_s": t2 - t1,
        "files": files,
        "batches": batches,
        "exception": str(q.exception()) if q.exception() else None,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    gateway = spark.sparkContext._gateway
    spark.stop()
    # reap the JVM so the parent's wait4 sees its peak RSS
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    return 0 if result["exception"] is None else 1


if __name__ == "__main__":
    sys.exit(main())
