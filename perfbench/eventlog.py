"""Fold a Spark event log into per-job-group task totals.

Spark writes one JSON event per line when `spark.eventLog.enabled` is
set. A job's local properties name its job group; its stages inherit
the group, and every `SparkListenerTaskEnd` is charged to the group of
its stage. Per group this returns run/CPU/GC time, shuffle read and
write bytes, spill, input bytes and records, and per stage the task
durations and shuffle records read (for max/median skew ratios).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_GROUP_KEY = "spark.jobGroup.id"


def _new_totals() -> dict:
    return {
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "input_records": 0,
        # stage id -> [(task seconds, shuffle records read)]
        "stages": defaultdict(list),
    }


def fold(path: str) -> dict[str, dict]:
    """{job group: totals} for every task that ended in the log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_new_totals)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_KEY) or "(none)"
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid, "(none)")]
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                inp = m.get("Input Metrics", {})
                g["tasks"] += 1
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["input_bytes"] += inp.get("Bytes Read", 0)
                g["input_records"] += inp.get("Records Read", 0)
                dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                g["stages"][sid].append((dur, sr.get("Total Records Read", 0)))
    return dict(groups)


def max_over_median(values) -> float:
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return max(values) / statistics.median(values)


def task_skew(totals: dict) -> float:
    """max/median task time of the group's last stage that ran tasks."""
    if not totals or not totals["stages"]:
        return 0.0
    last = max(totals["stages"])
    return max_over_median(d for d, _ in totals["stages"][last])


def partition_skew(totals: dict) -> float:
    """max/median shuffle records read per task, over the group's
    stages that read a shuffle (one task reads one partition)."""
    if not totals:
        return 0.0
    reads = [r for tasks in totals["stages"].values() for _, r in tasks if r > 0]
    return max_over_median(reads)


def find_log(log_dir: str, app_id: str) -> str:
    """The event log file of `app_id` (uncompressed, not rolled)."""
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
