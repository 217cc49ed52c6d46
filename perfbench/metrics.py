"""The benchmark's metric catalogue: names, units, direction, and for
each per-layer metric the end-to-end metric and workload it should
move. `BENCHMARK.json` lists the same names (tests/test_ledger.py
checks that the two agree)."""

from __future__ import annotations

WORKLOADS = {
    "batch_fresh": "the normal scheduled job into an empty output dir; every layer works, fan-out write and parse dominate",
    "follow_drain": "availableNow follow drain of many small conv-aligned files; fixed per-micro-batch cost dominates",
}

# name: (unit, better, bound). A job launch costs 30-45 s, so a 30 s
# run holds one launch and is a single sample. On a shared 4-core host
# the spread of wall-time metrics over ten seeds (quartile distance over
# median) ranged from 0.04 to 0.23 between sets of runs, with the host's
# load, hence the widest bounds. The sink counts depend only on the
# input; on follow_drain, whose few long convs set how many
# (task, event_date) files each sink gets, they spread up to 0.14.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "job_wall_s": ("s", "lower", 0.25),
    "turns_per_s": ("1/s", "higher", 0.25),
    "microbatch_p50_s": ("s", "lower", 0.25),
    "microbatch_tail_s": ("s", "lower", 0.25),
    "sink_files": ("count", "lower", 0.25),
    "sink_bytes": ("bytes", "lower", 0.25),
}

LAZY_LAYERS = (
    "sources",
    "operators.checkpoint.read",
    "operators.skew",
    "plans.pipeline.parse",
    "operators.ffill",
    "operators.enrich",
    "operators.route",
)
SPEEDUP_LAYERS = (
    "sources",
    "operators.skew",
    "plans.pipeline.parse",
    "operators.ffill",
    "operators.enrich",
    "operators.route",
    "sinks",
)
SINKS = ("errors", "tool_calls", "agent_turns", "drop_queue")
DROP_REASONS = ("no_metadata", "preamble", "debug", "empty_message")

# name: (unit, better, [(end-to-end metric, workload), ...])
_FRESH_TPS = [("turns_per_s", "batch_fresh")]
_WALL = [("job_wall_s", "batch_fresh")]
_FOLLOW = [("microbatch_p50_s", "follow_drain"), ("microbatch_tail_s", "follow_drain")]
PER_LAYER = {
    "sources.self_s": ("s", "lower", _FRESH_TPS),
    "sources.bytes_read": ("bytes", "lower", _FRESH_TPS),
    # from the traced run's resume probe: the checkpoint read of a rerun
    # of the same batch, after the replay has checkpointed every conv
    "operators.checkpoint.read_s": ("s", "lower", _WALL),
    "operators.checkpoint.skipped_convs": ("count", "higher", _WALL),
    "operators.checkpoint.write_s": ("s", "lower", _WALL),
    "operators.skew.self_s": ("s", "lower", _FRESH_TPS),
    "operators.skew.shuffle_bytes": ("bytes", "lower", _FRESH_TPS),
    "operators.skew.partition_skew": ("ratio", "lower", _FRESH_TPS),
    "plans.pipeline.parse.self_s": ("s", "lower", _FRESH_TPS),
    "plans.pipeline.parse.gc_s": ("s", "lower", _FRESH_TPS),
    "plans.pipeline.parse.event_ts_null": ("count", "lower", _FRESH_TPS),
    "operators.ffill.self_s": ("s", "lower", _FRESH_TPS),
    "operators.ffill.spill_bytes": ("bytes", "lower", _FRESH_TPS),
    "operators.ffill.batch_ts_fallback": ("count", "lower", _FRESH_TPS),
    "operators.enrich.self_s": ("s", "lower", _FRESH_TPS + [("microbatch_p50_s", "follow_drain")]),
    "operators.route.self_s": ("s", "lower", _FRESH_TPS),
    **{f"operators.route.rows.{s}": ("count", "higher", _FRESH_TPS) for s in SINKS},
    **{f"operators.route.drop.{r}": ("count", "lower", _FRESH_TPS) for r in DROP_REASONS},
    "sinks.self_s": ("s", "lower", _WALL + [("sink_files", "*")]),
    "sinks.shuffle_bytes": ("bytes", "lower", _WALL),
    "sinks.task_skew": ("ratio", "lower", _WALL),
    "sinks.files": ("count", "lower", [("sink_files", "*")]),
    "sinks.bytes": ("bytes", "lower", [("sink_bytes", "*")]),
    "operators.aggregate.self_s": ("s", "lower", _WALL),
    "operators.aggregate.rows_reread": ("count", "lower", _WALL),
    "plans.job.metrics_s": ("s", "lower", _WALL),
    "streaming.follow.add_batch_s": ("s", "lower", _FOLLOW),
    "streaming.follow.query_planning_s": ("s", "lower", _FOLLOW),
    "streaming.follow.get_batch_s": ("s", "lower", _FOLLOW),
    "streaming.follow.wal_commit_s": ("s", "lower", _FOLLOW),
    "streaming.follow.files_per_batch": ("count", "higher", _FOLLOW),
    **{f"{layer}.speedup_1_to_n": ("x", "higher", _FRESH_TPS) for layer in SPEEDUP_LAYERS},
    # peak RSS swings by a fifth between launches, so it is a traced-run
    # figure (from the untraced reference launch), not a bounded one
    "process.peak_rss_mb": ("MB", "lower", []),
    "unattributed_s": ("s", "lower", []),
    "trace_overhead_s": ("s", "lower", []),
    "host.cpu_mhash_per_s": ("Mhash/s", "higher", []),
    "host.membw_gb_per_s": ("GB/s", "higher", []),
}


def render(values: dict, catalogue: dict) -> dict:
    """{name: {"value", "unit"}} for every name in the catalogue, in order."""
    missing = [n for n in catalogue if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": values[n], "unit": catalogue[n][0]} for n in catalogue}


def benchmark_json() -> dict:
    """The BENCHMARK.json this catalogue implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 30,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b, _t) in PER_LAYER.items()],
    }
