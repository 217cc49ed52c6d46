"""Seeded inputs for the two workloads, cached per (workload, size, seed).

Every input uses the layout that `plans/job.py --transcripts-parquet`
expects: a `transcripts/` directory of parquet files with a
`conv_meta.parquet` sibling that leaves out a seeded ~2% of the convs
(those route to drop_queue as `no_metadata`).

  batch_fresh   one `datagen.generate_transcripts` table
  follow_drain  conv-aligned files: each conversation sits entirely in
                one file, so the batch oracle applies to the drain

Generation runs from this one process with at most `nproc` worker
processes; nothing here is timed work.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRESH_TURNS = 200_000
FOLLOW_TURNS = 16_000
FOLLOW_FILES = 16
# streaming/follow.py maxFilesPerTrigger: 2 micro-batches, so microbatch_p50_s
# is their mean, over ~30 s of drain; with 3 it was the slower steady batch,
# a single ~12 s sample that spread twice as much as the drain wall
FOLLOW_PER_TRIGGER = 8
MTIME_BASE = 1_700_000_000
BATCH_FILES = 16
META_DROP = 0.02
TAIL_MIN = 1000  # datagen's long-transcript class draws 1k-5k turns
TAIL_SHARE = 0.4


def _chunk(n_rows: int, seed: int, prefix: str):
    from ci_log_processing_spark.datagen import generate_transcripts

    pdf = generate_transcripts(n_rows, seed)
    pdf["conv_id"] = prefix + pdf["conv_id"].str[5:]
    return pdf


def _table(n_turns: int, seed: int):
    """`datagen.generate_transcripts` rows with a fixed long-tail share.

    Whole convs are taken in datagen order: long ones (>= TAIL_MIN
    turns) until they hold TAIL_SHARE of the turns, the others until
    n_turns. The last conv of each class is cut short, keeping its
    turn_idx gap-free from 0. Without this, the Poisson count of 1k-5k
    turn convs swings the conv count, and with it file counts and
    timings, by a third between seeds.

    datagen makes about 20k rows/s in one process, so the chunks it
    draws from (1.5 x n_turns rows a round) are made `nproc` at a time;
    chunk k has seed `seed + 7919 k` and conv_id prefix `c{k}-`."""
    import pandas as pd

    workers = len(os.sched_getaffinity(0))
    rows = -(-n_turns * 3 // 2 // workers)
    tail = round(n_turns * TAIL_SHARE)
    budget = {True: tail, False: n_turns - tail}
    parts, chunk = [], 0
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
        while any(budget.values()):
            ks = range(chunk, chunk + workers)
            for pdf in pool.map(_chunk, [rows] * workers, [seed + 7919 * k for k in ks],
                                [f"c{k}-" for k in ks]):
                take = {}
                for conv, size in pdf.groupby("conv_id", sort=False).size().items():
                    cls = bool(size >= TAIL_MIN)
                    if budget[cls]:
                        take[conv] = min(int(size), budget[cls])
                        budget[cls] -= take[conv]
                keep = pdf["turn_idx"] < pdf["conv_id"].map(take).fillna(0)
                parts.append(pdf[keep])
            chunk += workers
    return pd.concat(parts, ignore_index=True)


def _meta(conv_ids: np.ndarray, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    keep = rng.random(len(conv_ids)) >= META_DROP
    return pa.table({"conv_id": pa.array(conv_ids[keep])})


def _write_split(pdf, out_dir: str, n_files: int, stem: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    per = -(-len(pdf) // n_files)
    for i in range(n_files):
        lo = i * per
        if lo >= len(pdf):
            break
        pq.write_table(table.slice(lo, per), os.path.join(out_dir, f"{stem}-{i:04d}.parquet"))


def _write_conv_aligned(pdf, out_dir: str, n_files: int, per_trigger: int) -> None:
    """Whole convs packed largest-first into n_files files; the files
    are then dealt, heaviest first, to the lightest micro-batch of
    `per_trigger` files, and written with increasing mtimes so the file
    stream source reads them in that micro-batch order."""
    sizes = pdf.groupby("conv_id", sort=True).size().sort_values(ascending=False, kind="stable")
    load = np.zeros(n_files, dtype=np.int64)
    slot = {}
    for conv, size in sizes.items():
        f = int(np.argmin(load))
        slot[conv] = f
        load[f] += size
    n_batches = -(-n_files // per_trigger)
    batch_load = np.zeros(n_batches, dtype=np.int64)
    batches = [[] for _ in range(n_batches)]
    for f in np.argsort(-load, kind="stable"):
        b = min((b for b in range(n_batches) if len(batches[b]) < per_trigger), key=lambda b: batch_load[b])
        batches[b].append(int(f))
        batch_load[b] += load[f]
    files = pdf["conv_id"].map(slot)
    order = [f for b in batches for f in b]
    for pos, f in enumerate(order):
        path = os.path.join(out_dir, f"part-{pos:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf[files == f], preserve_index=False), path)
        os.utime(path, (MTIME_BASE + pos, MTIME_BASE + pos))


class Input:
    """Paths and sizes of one generated input."""

    def __init__(self, root: str):
        self.root = root
        self.transcripts = os.path.join(root, "transcripts")
        self.meta = os.path.join(root, "conv_meta.parquet")

    @property
    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_DONE"))

    def mark_ready(self, **info) -> None:
        with open(os.path.join(self.root, "_DONE"), "w") as f:
            f.write(" ".join(f"{k}={v}" for k, v in sorted(info.items())) + "\n")

    def start(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.transcripts)


def fresh_input(work: str, seed: int) -> Input:
    inp = Input(os.path.join(work, "inputs", f"batch_fresh-{FRESH_TURNS}-s{seed}"))
    if not inp.ready:
        inp.start()
        pdf = _table(FRESH_TURNS, seed)
        _write_split(pdf, inp.transcripts, BATCH_FILES, "part")
        pq.write_table(_meta(pdf["conv_id"].unique(), seed), inp.meta)
        inp.mark_ready(turns=FRESH_TURNS, seed=seed)
    return inp


def follow_input(work: str, seed: int) -> Input:
    inp = Input(os.path.join(work, "inputs", f"follow_drain-{FOLLOW_TURNS}x{FOLLOW_FILES}b-s{seed}"))
    if not inp.ready:
        inp.start()
        pdf = _table(FOLLOW_TURNS, seed)
        _write_conv_aligned(pdf, inp.transcripts, FOLLOW_FILES, FOLLOW_PER_TRIGGER)
        pq.write_table(_meta(pdf["conv_id"].unique(), seed), inp.meta)
        inp.mark_ready(turns=FOLLOW_TURNS, seed=seed)
    return inp

