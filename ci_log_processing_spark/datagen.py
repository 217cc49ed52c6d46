"""Seeded, vectorized generator for the large skewed transcripts
table used by the benchmark / scaling runs.

FIXTURES.md §1 requirements implemented:
  * stable, gap-free turn_idx per conv;
  * skewed conv sizes — most 5-50 turns, a long tail of 1k-5k turn
    "long transcripts" (exercises AQE + salting);
  * a small fraction of convs route whole to drop_queue via
    metadata-missing (modeled by an all-DEBUG conv here);
  * every text line class from sources/transcripts.py (same
    class = line_id % 12 cycling), timestamps formatted with
    pandas strftime (bit-compatible with the parse cascade).

Determinism: numpy PCG64(seed); no wall clock. Output: parquet via
pyarrow in `n_files` row-group-sized files so any Spark parallelism
level gets balanced input splits.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEED = 42
BASE_TS = np.datetime64("2024-01-01T00:00:00.000000")

_SEVERITIES = np.array(["INFO", "WARNING", "ERROR", "CRITICAL", "TRACE"])
_SUBSYSTEMS = np.array(
    ["neutron.agent.l3", "nova.compute.manager", "keystone.auth", "cinder.volume.driver"]
)
_TOOLS = np.array(["bash", "search", "python"])


def generate_transcripts(n_turns: int, seed: int = SEED) -> pd.DataFrame:
    rng = np.random.default_rng(seed)

    # --- skewed conversation sizes ---
    sizes = []
    total = 0
    while total < n_turns:
        u = rng.random()
        if u < 0.92:
            s = int(rng.integers(5, 51))
        elif u < 0.99:
            s = int(rng.integers(51, 201))
        else:
            s = int(rng.integers(1000, 5001))  # long transcripts
        sizes.append(s)
        total += s
    sizes = np.array(sizes)
    sizes[-1] -= total - n_turns
    n_conv = len(sizes)

    conv_idx = np.repeat(np.arange(n_conv), sizes)
    conv_id = np.char.add(
        "conv-", np.char.zfill(conv_idx.astype("U8"), 8)
    )
    turn_idx = np.concatenate([np.arange(s) for s in sizes]).astype("int32")

    # timestamps: per-conv base + growing offsets (deterministic)
    conv_base_s = rng.integers(0, 30 * 86400, n_conv)
    step_us = rng.integers(1_000, 60_000_000, n_turns)
    base_us = np.repeat(conv_base_s, sizes) * 1_000_000
    # cumulative within conv: global cumsum minus per-conv start
    cum = np.cumsum(step_us)
    conv_start = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    cum0 = cum - np.repeat(cum[conv_start], sizes) + np.repeat(step_us[conv_start], sizes)
    ts = BASE_TS + (base_us + cum0).astype("timedelta64[us]")
    ts_s = pd.Series(ts)

    line_id = np.arange(n_turns, dtype=np.int64)
    cls = (line_id % 12).astype(np.int8)

    # precompute strftime renderings (vectorized, C-side)
    f1 = ts_s.dt.strftime("%Y-%m-%dT%H:%M:%S.%fZ").to_numpy()
    f2 = ts_s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").to_numpy()
    f3 = ts_s.dt.strftime("%b %d %H:%M:%S.%f").to_numpy()
    f4 = ts_s.dt.strftime("%b %d %H:%M:%S").to_numpy()
    f5 = (
        ts_s.dt.strftime("%Y-%m-%dT%H:%M:%S.")
        + ts_s.dt.strftime("%f").str[:3]
        + "Z"
    ).to_numpy()
    f6 = (
        ts_s.dt.strftime("%A %d %B %Y") + "  " + ts_s.dt.strftime("%H:%M:%S")
    ).to_numpy()

    # object dtype so elementwise str concatenation works uniformly
    eid = line_id.astype("U12").astype(object)
    sev = _SEVERITIES[line_id % 5].astype(object)
    sub = _SUBSYSTEMS[line_id % 4].astype(object)
    # % 7 first, mirroring sources/transcripts.py: line_id % 3 on
    # the cls == 10 rows would always be 1 (one tool everywhere)
    tool = _TOOLS[(line_id % 7) % 3].astype(object)

    text = np.empty(n_turns, dtype=object)
    m = cls == 0
    text[m] = f2[m] + " | Job console starting for run " + eid[m]
    m = cls == 1
    text[m] = f1[m] + " | Last metadata expiration check " + eid[m]
    m = cls == 2
    text[m] = f3[m] + " host-x kernel: event " + eid[m]
    m = cls == 3
    text[m] = f4[m] + " host sudo[" + eid[m] + "]: zuul executed command"
    m = cls == 4
    text[m] = f5[m] + "|00040|connmgr|INFO|br-int: added port " + eid[m]
    m = cls == 5
    text[m] = f6[m] + " +0000 (0:00:00.056)"
    m = cls == 6
    text[m] = f2[m] + " | DEBUG noisy internal detail " + eid[m]
    m = cls == 7
    text[m] = '    raise ValueError("boom ' + eid[m] + '")'
    m = cls == 8
    text[m] = "-- Logs begin at Mon 2024-01-01 00:00:00 UTC. --"
    m = cls == 9
    text[m] = (
        f2[m] + " | " + sev[m] + " [" + sub[m] + "] operation failed code=" + eid[m]
    )
    m = cls == 10
    text[m] = f2[m] + " | TOOL " + tool[m] + " invoke args=run"
    m = cls == 11
    text[m] = f2[m] + " | "

    role = np.select(
        [np.isin(cls, [0, 1, 6, 7, 9]), np.isin(cls, [2, 3, 4, 5, 8]), cls == 10],
        ["assistant", "system", "tool"],
        default="user",
    )
    tool_col = np.where(cls == 10, tool, None)

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool_col,
            "ts": ts_s,
        }
    )


def _gen_chunk(args) -> None:
    """Worker: generate one independent chunk with a disjoint conv-id
    namespace (prefix per chunk) and write it as parquet files."""
    out_dir, chunk_id, n_turns, seed, files_per_chunk = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_transcripts(n_turns, seed)
    # re-prefix conv ids so chunks never collide (each chunk restarts
    # conv numbering at 0)
    pdf["conv_id"] = f"c{chunk_id:02d}-" + pdf["conv_id"].str[5:]
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    n = len(pdf)
    per = (n + files_per_chunk - 1) // files_per_chunk
    for i in range(files_per_chunk):
        lo, hi = i * per, min((i + 1) * per, n)
        if lo >= hi:
            break
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(out_dir, f"part-{chunk_id:02d}-{i:04d}.parquet"),
        )


_N_CHUNKS = 16
_FILES_PER_CHUNK = 4


def write_transcripts_parallel(out_dir: str, n_turns: int) -> str:
    """Multiprocess generator for large bench inputs (the
    single-process path is ~30 s per million turns). _N_CHUNKS chunks
    of _FILES_PER_CHUNK files each use disjoint seeds (SEED + chunk)
    and conv-id prefixes; output is still fully deterministic for a
    given n_turns."""
    from multiprocessing import Pool

    marker = os.path.join(out_dir, "_GENERATED")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    per = (n_turns + _N_CHUNKS - 1) // _N_CHUNKS
    jobs = []
    remaining = n_turns
    for c in range(_N_CHUNKS):
        take = min(per, remaining)
        if take <= 0:
            break
        jobs.append((out_dir, c, take, SEED + c, _FILES_PER_CHUNK))
        remaining -= take
    with Pool(min(len(jobs), os.cpu_count() or 8)) as p:
        p.map(_gen_chunk, jobs)
    with open(marker, "w") as f:
        f.write(f"n_turns={n_turns} seed={SEED} chunks={len(jobs)}\n")
    return out_dir


_VOCAB = [f"w{i}" for i in range(360)] + [
    "the", "a", "and", "of", "to", "in", "is", "table", "scan", "row",
    "batch", "merge", "sort", "hash", "join", "value", "query", "part",
    "fast", "slow", "data", "line", "key", "agg", "window", "filter",
    "stream", "group", "order", "column", "small", "big", "spark",
    "vector", "customer", "date", "file", "disk", "node", "task",
]


def write_documents(out_dir: str, n_docs: int) -> str:
    """`documents.parquet` (doc_id, text, lang, source, n_chars) in the
    sf layout under out_dir, generated JVM-side: 61-120 words per doc
    drawn from a 400-word vocabulary by xxhash64(doc_id, position).
    `load_corpus` plants the exact and near copies. Cached by a marker."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from .session import get_spark

    marker = os.path.join(out_dir, "_GENERATED")
    if os.path.exists(marker):
        return out_dir
    own = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="write_documents")
    v = F.array(*[F.lit(w) for w in _VOCAB])
    doc_id = F.col("id")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(60) + F.pmod(doc_id, 60)),
            lambda i: F.element_at(
                v, F.pmod(F.xxhash64(doc_id, i), len(_VOCAB)).cast("int") + 1
            ),
        ),
    )
    langs = F.array(*[F.lit(x) for x in ("en", "zh", "es", "fr", "de")])
    (
        spark.range(n_docs)
        .select(
            doc_id.alias("doc_id"),
            text.alias("text"),
            F.element_at(langs, F.pmod(doc_id, 5).cast("int") + 1).alias("lang"),
            F.concat(F.lit("s"), F.pmod(doc_id, 64)).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism * 2, "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    if own:
        spark.stop()
    with open(marker, "w") as f:
        f.write(f"n_docs={n_docs}\n")
    return out_dir
