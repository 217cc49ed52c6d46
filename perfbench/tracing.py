"""The traced run: one untraced repetition for reference, then the
ledger replay in one session at local[N], then (batch_fresh) the lazy
prefixes and the sink append again at local[1], for each layer's
1 -> N speedup."""

from __future__ import annotations

import os
import sys
import threading
import time

from . import inputs, ledger
from .check import check_output
from .metrics import PER_LAYER, SPEEDUP_LAYERS

REPEAT = 2  # runs of each lazy prefix; their median is the prefix time
# a run must end within 180 s: the local[1] replay (25-45 s) starts only
# by LOCAL1_START_BY_S, and is cut off at LOCAL1_END_BY_S
LOCAL1_START_BY_S = 125
LOCAL1_END_BY_S = 165


def _replay(bench, wl, master: str, tag: str, repeat: int, full: bool = True, deadline: float | None = None):
    """(spans, folded event log, replay result, problems, input bytes).

    With `full`, a batch replay is checked and then followed by its
    resume probe, in spans of its own so that it stays out of the traced
    total; without, it is `ledger.replay_job(full=False)`. At `deadline`
    (a perf_counter time) the running Spark jobs are cancelled and no
    further span starts."""
    cwd = bench.run_dir(tag)
    out = os.path.join(cwd, "out")
    log_dir = os.path.join(cwd, "eventlog")
    spark = ledger.session(master, log_dir)
    spans = ledger.Spans(spark, deadline)
    problems = []
    timer = None
    if deadline is not None:
        timer = threading.Timer(max(0.0, deadline - time.perf_counter()), spark.sparkContext.cancelAllJobs)
        timer.daemon = True
        timer.start()
    try:
        if wl.name == "follow_drain":
            files = sorted(
                os.path.join(wl.inp.transcripts, f) for f in os.listdir(wl.inp.transcripts) if f.endswith(".parquet")
            )[:inputs.FOLLOW_PER_TRIGGER]
            res = ledger.replay_microbatch(spark, spans, files, wl.inp.meta, out, wl.batch_ts, repeat=repeat)
        else:
            files = [os.path.join(wl.inp.transcripts, f) for f in os.listdir(wl.inp.transcripts)]
            res = ledger.replay_job(spark, spans, wl.inp.transcripts, wl.inp.meta, out, wl.batch_ts,
                                    repeat=repeat, full=full)
            if full:
                problems = check_output(out, wl.expect, bench.nproc, batch_id=res["batch_id"], summary=res)
                res["resume"] = ledger.resume_probe(spark, ledger.Spans(spark), wl.inp.transcripts, out,
                                                    repeat=repeat)
                # every conv the batch routed is checkpointed, so a rerun skips them all
                if res["resume"]["skipped"] != wl.expect["convs"]:
                    problems.append(f"resume skipped {res['resume']['skipped']} convs, want {wl.expect['convs']}")
    finally:
        if timer is not None:
            timer.cancel()
        groups = ledger.stop_and_fold(spark, log_dir)
    return spans, groups, res, problems, sum(os.path.getsize(f) for f in files if f.endswith(".parquet"))


def traced(bench, wl):
    """(per-layer values without host.*, attempted, failed)."""
    values = {n: 0.0 for n in PER_LAYER if not n.startswith("host.")}
    t0 = time.perf_counter()
    rep = wl.rep(f"{wl.name}-untraced")
    t1 = time.perf_counter()
    failed = int(not rep.ok)
    for p in rep.problems:
        print(f"# {wl.name} untraced repetition: {p}", file=sys.stderr)

    spans, groups, res, problems, input_bytes = _replay(bench, wl, bench.master, f"{wl.name}-traced", REPEAT)
    t2 = time.perf_counter()
    failed += int(bool(problems))
    for p in problems:
        print(f"# {wl.name} traced replay: {p}", file=sys.stderr)

    self_n = ledger.self_times(spans)
    for layer, secs in self_n.items():
        key = {"operators.checkpoint.read": "operators.checkpoint.read_s",
               "operators.checkpoint.write": "operators.checkpoint.write_s",
               "plans.job.metrics": "plans.job.metrics_s"}.get(layer, f"{layer}.self_s")
        values[key] = secs
    values.update(ledger.folded_layers(groups, spans, input_bytes))
    if "resume" in res:
        # self time of the resumed read: the probe minus the plain scan
        values["operators.checkpoint.read_s"] = res["resume"]["seconds"] - spans.median("sources")
        values["operators.checkpoint.skipped_convs"] = res["resume"]["skipped"]
    obs = res["observed"]
    values["plans.pipeline.parse.event_ts_null"] = obs["event_ts_null"]
    values["operators.ffill.batch_ts_fallback"] = obs["batch_ts_fallback"]
    for k, v in obs.items():
        if k.startswith(("rows.", "drop.")):
            values[f"operators.route.{k}"] = v
    values["sinks.files"] = rep.files
    values["sinks.bytes"] = rep.nbytes
    values["process.peak_rss_mb"] = rep.rss_mb

    if wl.name == "follow_drain":
        batches = (rep.follow or {}).get("batches", [])
        for key, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                          ("getBatch", "get_batch_s"), ("walCommit", "wal_commit_s")):
            values[f"streaming.follow.{name}"] = ledger.median(
                [b["duration_ms"].get(key, 0) / 1e3 for b in batches])
        if batches:
            values["streaming.follow.files_per_batch"] = rep.follow["files"] / len(batches)
        untraced = ledger.median(rep.batches)
    else:
        untraced = rep.session_s
    values["trace_overhead_s"] = spans.wall() - untraced
    values["unattributed_s"] = untraced - sum(self_n.values())

    t3 = None
    spent = time.perf_counter() - bench.t_start
    if wl.name == "batch_fresh" and spent > LOCAL1_START_BY_S:
        print(f"# local[1] replay skipped: the run had already taken {spent:.0f} s; speedups read 0")
    elif wl.name == "batch_fresh":
        deadline = bench.t_start + LOCAL1_END_BY_S
        try:
            spans_1, _g, _r, _p, _b = _replay(bench, wl, "local[1]", f"{wl.name}-traced-local1", 1, full=False,
                                              deadline=deadline)
        except Exception as e:
            if time.perf_counter() < deadline:
                raise
            print(f"# local[1] replay cut off at {LOCAL1_END_BY_S} s ({type(e).__name__}); speedups read 0")
        else:
            t3 = time.perf_counter()
            self_1 = ledger.self_times(spans_1)
            for layer in SPEEDUP_LAYERS:
                values[f"{layer}.speedup_1_to_n"] = self_1[layer] / self_n[layer] if self_n[layer] > 0 else 0.0
    print(f"# traced run phases: reference launch {t1 - t0:.1f} s, replay {t2 - t1:.1f} s, "
          f"local[1] replay {0.0 if t3 is None else t3 - t2:.1f} s")
    print("# layer self seconds: " + ", ".join(f"{k}={v:.3f}" for k, v in self_n.items()))
    # the reference launch and the replay are checked; the local[1] pass is not
    return values, 2, failed
