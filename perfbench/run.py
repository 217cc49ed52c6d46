#!/usr/bin/env python3
"""Job benchmark for ci_log_processing_spark.

  python3 perfbench/run.py --workload batch_fresh --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads (closed loop: one job at a
time, each starting after the previous one has exited):

  batch_fresh   spark-submit `run_pipeline.py` into an empty output dir
  follow_drain  `streaming.follow.run_follow(..., processing_time=None)`
                draining conv-aligned small files, in its own process

`--trace 0` repeats the workload until `--seconds` is spent and prints
the end-to-end metrics (medians over the repetitions). `--trace 1` runs
it once untraced, then replays the job's calls in one traced session
and prints the per-layer ledger. Every output is checked against the
DuckDB twin (`oracle.pipeline_cte`). Inputs and oracle answers are
cached under perfbench/.work/. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as the `perfbench` package, and the program from ROOT
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)
sys.path.insert(0, ROOT)
PACKAGE = os.path.join(ROOT, "ci_log_processing_spark")
LAUNCHER = os.path.join(ROOT, "run_pipeline.py")

FRESH_TS = "2024-03-01 00:00:00"
DRIVER_MEM = "2g"
REP_TIMEOUT_S = 120  # one launch; a run must end within 180 s
MAX_REPS = 12


def batch_id_of(batch_ts: str) -> str:
    return batch_ts.replace(" ", "T").replace(":", "-")


@dataclasses.dataclass
class Rep:
    """One job launch or follow drain, as measured from outside."""

    ok: bool
    problems: list
    proc_wall: float = 0.0  # launch to exit
    session_s: float = 0.0  # in-session work: the job's wall_sec, or the drain
    job_wall: float = 0.0
    rows: int = 0
    rss_mb: float = 0.0
    files: int = 0
    nbytes: int = 0
    batches: list = dataclasses.field(default_factory=list)
    follow: dict | None = None  # follow_child's result


class Bench:
    def __init__(self, seed: int):
        self.t_start = time.perf_counter()
        self.seed = seed
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.work = os.path.join(HERE, ".work")
        self.tmp = os.path.join(self.work, "tmp")
        self.local_dir = os.path.join(self.work, "spark-local")
        self.runs = os.path.join(self.work, "runs")
        # Spark's block manager dirs of a killed launch are never removed
        shutil.rmtree(self.local_dir, ignore_errors=True)
        for d in (self.tmp, self.local_dir, self.runs):
            os.makedirs(d, exist_ok=True)
        self.env = self._env()
        # the in-process traced session launches its JVM from this env too
        os.environ.update(self.env)
        tempfile.tempdir = self.tmp
        self.spark_submit = shutil.which("spark-submit", path=self.env["PATH"]) or os.path.join(
            os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")
        self.zip = self._build_zip()

    def _env(self) -> dict:
        env = dict(os.environ)
        env["TMPDIR"] = self.tmp
        env["SPARK_LOCAL_DIRS"] = self.local_dir
        env["SPARK_SUBMIT_OPTS"] = " ".join(
            [env.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={self.tmp}", "-XX:-UsePerfData"]).strip()
        env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        env.pop("SPARK_GRAFT_CPUS", None)
        return env

    def _build_zip(self) -> str:
        """The --py-files archive of the package, rebuilt from source."""
        path = os.path.join(self.work, "build", "ci_log_processing_spark.zip")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with zipfile.ZipFile(path + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
            for d, dirs, files in os.walk(PACKAGE):
                dirs[:] = sorted(x for x in dirs if x != "__pycache__")
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, ROOT))
        os.replace(path + ".tmp", path)
        return path

    def run_dir(self, tag: str) -> str:
        d = os.path.join(self.runs, tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # --- one job launch --------------------------------------------------
    def job(self, transcripts: str, out_dir: str, batch_ts: str, cwd: str):
        from perfbench.procs import run

        summary = os.path.join(cwd, "summary.json")
        cmd = [
            self.spark_submit, "--master", self.master, "--driver-memory", DRIVER_MEM,
            "--py-files", self.zip, LAUNCHER,
            "--master", self.master, "--transcripts-parquet", transcripts,
            "--input-dir", "unused", "--output-dir", out_dir,
            "--batch-ts", batch_ts, "--summary-json", summary,
        ]
        fin = run(cmd, self.env, cwd, os.path.join(cwd, "job.log"), REP_TIMEOUT_S)
        result = None
        if fin.ok and os.path.exists(summary):
            with open(summary) as f:
                result = json.load(f)
        return fin, result

    def job_rep(self, transcripts, out_dir, batch_ts, expect, cwd) -> Rep:
        from perfbench.check import check_output

        fin, summary = self.job(transcripts, out_dir, batch_ts, cwd)
        if summary is None:
            return Rep(False, [f"job exit {fin.returncode} timed_out={fin.timed_out}: {fin.log_tail(600)}"])
        problems = check_output(out_dir, expect, self.nproc, batch_id=batch_id_of(batch_ts), summary=summary)
        files, nbytes = sink_files(out_dir)
        wall = summary["wall_sec"]
        return Rep(not problems, problems, proc_wall=fin.wall_s, session_s=wall, job_wall=fin.wall_s,
                   rows=summary["rows"], rss_mb=fin.peak_rss_mb, files=files, nbytes=nbytes,
                   batches=[wall])

    def follow_rep(self, inp, expect, cwd) -> Rep:
        from perfbench.check import check_output
        from perfbench.procs import run

        out_dir = os.path.join(cwd, "out")
        result_path = os.path.join(cwd, "follow.json")
        cmd = [sys.executable, os.path.join(HERE, "follow_child.py"),
               "--transcripts", inp.transcripts, "--meta", inp.meta, "--output-dir", out_dir,
               "--master", self.master, "--batch-ts", FRESH_TS, "--result", result_path]
        fin = run(cmd, self.env, cwd, os.path.join(cwd, "follow.log"), REP_TIMEOUT_S)
        if not (fin.ok and os.path.exists(result_path)):
            return Rep(False, [f"follow exit {fin.returncode} timed_out={fin.timed_out}: {fin.log_tail(600)}"])
        with open(result_path) as f:
            res = json.load(f)
        # the check pins sink rows to the input turns; the progress
        # reports' numInputRows counts each scan of a micro-batch
        problems = check_output(out_dir, expect, self.nproc)
        files, nbytes = sink_files(out_dir)
        trig = [b["duration_ms"]["triggerExecution"] / 1e3 for b in res["batches"]]
        return Rep(not problems, problems, proc_wall=fin.wall_s, session_s=res["drain_s"],
                   job_wall=res["drain_s"], rows=expect["turns"], rss_mb=fin.peak_rss_mb, files=files,
                   nbytes=nbytes, batches=trig, follow=res)


def sink_files(out_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) under out_dir/sinks."""
    files = nbytes = 0
    for d, _dirs, names in os.walk(os.path.join(out_dir, "sinks")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


# --- workloads: set-up (cached, untimed) and one repetition ----------------

class Workload:
    """set-up once per run, then `rep()` as often as the run allows."""

    def __init__(self, bench: Bench, name: str):
        from perfbench import inputs
        from perfbench.check import oracle_answers

        b = self.bench = bench
        self.name = name
        if name == "batch_fresh":
            self.inp = inputs.fresh_input(b.work, b.seed)
        elif name == "follow_drain":
            self.inp = inputs.follow_input(b.work, b.seed)
        else:
            raise ValueError(name)
        self.batch_ts = FRESH_TS
        self.expect = oracle_answers(self.inp.transcripts, self.inp.meta, FRESH_TS,
                                     os.path.join(self.inp.root, "oracle.json"), b.nproc)

    def rep(self, tag: str) -> Rep:
        b = self.bench
        cwd = b.run_dir(tag)
        if self.name == "follow_drain":
            return b.follow_rep(self.inp, self.expect, cwd)
        return b.job_rep(self.inp.transcripts, os.path.join(cwd, "out"), self.batch_ts, self.expect, cwd)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(reps: list[Rep]) -> tuple[dict, str]:
    good = [r for r in reps if r.ok] or reps
    med = statistics.median
    batches = [x for r in good for x in r.batches]
    tail_v, tail_p, tail_n = tail(batches) if batches else (0.0, 100.0, 0)
    values = {
        "setup_s": med([r.proc_wall - r.session_s for r in good]),
        "job_wall_s": med([r.job_wall for r in good]),
        "turns_per_s": med([r.rows / r.session_s if r.session_s else 0.0 for r in good]),
        "microbatch_p50_s": med(batches) if batches else 0.0,
        "microbatch_tail_s": tail_v,
        "sink_files": med([r.files for r in good]),
        "sink_bytes": med([r.nbytes for r in good]),
    }
    note = f"microbatch_tail_s is p{tail_p:.1f} of {tail_n} batches over {len(good)} repetition(s)"
    return values, note


def measure(bench: Bench, workload: str, seconds: float):
    wl = Workload(bench, workload)
    reps, costs = [], []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        rep = wl.rep(f"{workload}-{len(reps)}")
        costs.append(time.perf_counter() - t0)
        reps.append(rep)
        for p in rep.problems:
            print(f"# {workload} repetition {len(reps)}: {p}", file=sys.stderr)
        elapsed = time.perf_counter() - t_start
        if len(reps) >= MAX_REPS or elapsed + statistics.median(costs) > seconds:
            break
    values, note = end_to_end(reps)
    print(f"# {note}")
    return values, len(reps), sum(not r.ok for r in reps)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.metrics import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not (os.path.isfile(LAUNCHER) and os.path.isdir(PACKAGE)):
        print(f"perfbench: no program to run: {LAUNCHER} and {PACKAGE} are required", file=sys.stderr)
        return 2

    from perfbench.procs import adopt_orphans, reap_orphans

    # a terminated run unwinds, so the processes it started end too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        return _run(args)
    finally:
        try:
            _stop_jvm()
        finally:
            reap_orphans()


def _stop_jvm() -> None:
    """End the traced run's in-process JVM, which outlives its session."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _run(args) -> int:
    from perfbench.metrics import END_TO_END, PER_LAYER, render

    bench = Bench(args.seed)
    if args.trace:
        from perfbench.calibrate import calibrate
        from perfbench.tracing import traced

        # one calibration beside each set of runs: the traced run's
        host = calibrate(bench.nproc, bench.env)
        print("# host " + json.dumps({"nproc": bench.nproc, **host}))
        values, attempted, failed = traced(bench, Workload(bench, args.workload))
        values.update({f"host.{k}": v for k, v in host.items()})
        metrics = render(values, PER_LAYER)
    else:
        values, attempted, failed = measure(bench, args.workload, args.seconds)
        metrics = render(values, END_TO_END)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
