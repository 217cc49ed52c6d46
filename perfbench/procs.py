"""Launch one job process tree, time it from launch to exit, and take
its peak RSS; end every process the tree left behind.

The child runs in its own session so a timeout kills the whole tree
(spark-submit's JVM and the Python driver under it). Peak RSS comes
from `wait4`: the largest resident set of the child and of every
descendant it reaped, which for spark-submit is the driver JVM.

pyspark's worker daemon moves itself into a process group of its own
and ends only after it sees its JVM's pipe close, so killing the job's
group misses it. `adopt_orphans` makes the benchmark the subreaper of
all it starts: such a process is re-parented to it when its parent
exits, and `reap_orphans` kills and waits for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time


class Finished:
    def __init__(self, returncode: int, wall_s: float, peak_rss_mb: float, timed_out: bool, log: str):
        self.returncode = returncode
        self.wall_s = wall_s
        self.peak_rss_mb = peak_rss_mb
        self.timed_out = timed_out
        self.log = log

    @property
    def ok(self) -> bool:
        return self.returncode == 0 and not self.timed_out

    def log_tail(self, n: int = 2000) -> str:
        try:
            with open(self.log, errors="replace") as f:
                return f.read()[-n:]
        except OSError:
            return ""


def run(cmd: list[str], env: dict, cwd: str, log: str, timeout_s: float) -> Finished:
    keep = children()
    timed_out = threading.Event()
    with open(log, "w") as out:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, env=env, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )

        def kill():
            timed_out.set()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        timer = threading.Timer(timeout_s, kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        except BaseException:
            # interrupted (SIGTERM arrives as SystemExit): take the tree down too
            kill()
            os.waitpid(proc.pid, 0)
            reap_orphans(keep)
            raise
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        proc.returncode = os.waitstatus_to_exitcode(status)
    reap_orphans(keep)
    return Finished(proc.returncode, wall, usage.ru_maxrss / 1024.0, timed_out.is_set(), log)


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Re-parent to this process every descendant whose parent exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> frozenset:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.add(int(name))
    return frozenset(out)


def reap_orphans(keep=frozenset(), deadline_s: float = 30.0) -> None:
    """Kill and wait for every child of this process not in `keep`, until
    none is left (a killed child's own children are re-parented here)."""
    end = time.monotonic() + deadline_s
    while True:
        pids = children() - keep
        if not pids:
            return
        if time.monotonic() > end:
            raise RuntimeError(f"processes {sorted(pids)} did not end")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in pids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass
