"""Same-session host ceilings at `nproc` worker processes.

The md5 chain and the numpy sweep follow `tools/run_scaling.hardware_ceiling`:
independent processes with no shared state, so a swing in these rates
between two sets of runs is host noise, not a change in the program.
Workers start together (each waits for a line on stdin, sent once all
have started) and time their own loops; the ceiling is the sum of
their rates.

  python3 perfbench/calibrate.py cpu|membw   # one worker: prints its rate
"""

from __future__ import annotations

import subprocess
import sys
import time

_MD5_ROUNDS = 1_000_000
_MEM_WORDS = 8_000_000  # 64 MB per worker
_MEM_SWEEPS = 32


def _md5_chain() -> float:
    import hashlib

    h = b"x" * 64
    t0 = time.perf_counter()
    for _i in range(_MD5_ROUNDS):
        h = hashlib.md5(h).digest()
    return _MD5_ROUNDS / (time.perf_counter() - t0) / 1e6


def _mem_sweep() -> float:
    import numpy as np

    a = np.zeros(_MEM_WORDS, dtype=np.int64)
    a += 1  # fault the pages in before timing
    t0 = time.perf_counter()
    for _i in range(_MEM_SWEEPS):
        a += 1  # one read and one write of the array
    return 2 * a.nbytes * _MEM_SWEEPS / (time.perf_counter() - t0) / 1e9


_KINDS = {"cpu": _md5_chain, "membw": _mem_sweep}


def calibrate(workers: int, env: dict | None = None) -> dict:
    """{'cpu_mhash_per_s', 'membw_gb_per_s'} summed over `workers`
    concurrent processes."""
    out = {}
    for kind, key in (("cpu", "cpu_mhash_per_s"), ("membw", "membw_gb_per_s")):
        procs = [
            subprocess.Popen([sys.executable, __file__, kind], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True, env=env)
            for _ in range(workers)
        ]
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        rates = []
        for p in procs:
            stdout, _ = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"calibration worker {kind} exited {p.returncode}")
            rates.append(float(stdout))
        out[key] = sum(rates)
    return out


if __name__ == "__main__":
    work = _KINDS[sys.argv[1]]
    sys.stdin.readline()
    print(work())
