"""Correctness check of one run's outputs against the DuckDB twin.

The expected answers come from `oracle.pipeline_cte` over the same
input parquet and are cached beside the input (`oracle.json`). A run
passes when its per-sink counts, per-`drop_reason` counts and
`agg_hourly` group sums equal the twin's, when its sink rows equal its
distinct `(conv_id, turn_idx)` keys equal the batch's input turns, and
when the job summary is consistent with all of that.
"""

from __future__ import annotations

import json
import os
import tempfile

import duckdb

ORACLE_VERSION = 1


def _con(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    # spills stay in the process's temp dir, never the working dir
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}/duckdb'")
    return con


def _parquet(path: str) -> str:
    return f"read_parquet('{path}')"


def oracle_answers(transcripts_dir: str, meta_path: str, batch_ts: str, cache_path: str, threads: int) -> dict:
    """Expected answers for a job launched with `--batch-ts batch_ts`."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("version") == ORACLE_VERSION and cached.get("batch_ts") == batch_ts:
            return cached
    from ci_log_processing_spark.oracle import BATCH_TS, pipeline_cte

    cte = pipeline_cte(
        transcripts_rel=_parquet(os.path.join(transcripts_dir, "*.parquet")),
        meta_rel=_parquet(meta_path),
    )
    # the twin hard-codes the job's default fallback timestamp
    fallback = f"TIMESTAMP '{BATCH_TS}'"
    if cte.count(fallback) != 1:
        raise RuntimeError("oracle.pipeline_cte no longer has exactly one batch_ts fallback")
    cte = cte.replace(fallback, f"TIMESTAMP '{batch_ts}'")
    con = _con(threads)
    try:
        con.execute("CREATE TEMP TABLE routed_t AS " + cte + " SELECT * FROM routed")
        out = {
            "version": ORACLE_VERSION,
            "batch_ts": batch_ts,
            "turns": con.execute("SELECT count(*) FROM routed_t").fetchone()[0],
            "convs": con.execute("SELECT count(DISTINCT conv_id) FROM routed_t").fetchone()[0],
            "sinks": dict(con.execute("SELECT sink, count(*) FROM routed_t GROUP BY 1").fetchall()),
            "drops": dict(
                con.execute(
                    "SELECT drop_reason, count(*) FROM routed_t "
                    "WHERE drop_reason IS NOT NULL GROUP BY 1"
                ).fetchall()
            ),
            "hourly": _hourly(con, "routed_t", "filled_ts"),
        }
    finally:
        con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def _hourly(con, rel: str, ts_expr: str, where: str = "", cnt: str = "count(*)") -> list:
    rows = con.execute(
        f"SELECT sink, coalesce(severity, ''), coalesce(subsystem, ''), "
        f"CAST(epoch(date_trunc('hour', {ts_expr})) AS BIGINT) AS h, {cnt} "
        f"FROM {rel} {where} GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"
    ).fetchall()
    return [list(r) for r in rows]


def _sinks_rel(out_dir: str) -> str:
    glob = os.path.join(out_dir, "sinks", "**", "*.parquet")
    return f"read_parquet('{glob}', hive_partitioning=true, union_by_name=true)"


def check_output(
    out_dir: str,
    expect: dict,
    threads: int,
    batch_id=None,
    summary: dict | None = None,
) -> list[str]:
    """Problems found in `out_dir` (empty when the run is correct).

    `batch_id` selects this run's rows (the job's sinks carry it)."""
    problems = []

    def same(what, got, want):
        if got != want:
            problems.append(f"{what}: got {got!r}, want {want!r}")

    con = _con(threads)
    try:
        sinks = _sinks_rel(out_dir)
        where = "" if batch_id is None else f"WHERE CAST(batch_id AS VARCHAR) = '{batch_id}'"
        con.execute(f"CREATE TEMP VIEW this AS SELECT * FROM {sinks} {where}")
        same("sink counts", dict(con.execute("SELECT sink, count(*) FROM this GROUP BY 1").fetchall()), expect["sinks"])
        same(
            "drop_reason counts",
            dict(con.execute("SELECT drop_reason, count(*) FROM this WHERE drop_reason IS NOT NULL GROUP BY 1").fetchall()),
            expect["drops"],
        )
        rows, keys = con.execute("SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM this").fetchone()
        same("sink rows", rows, expect["turns"])
        same("distinct (conv_id, turn_idx)", keys, expect["turns"])
        agg = os.path.join(out_dir, "agg_hourly", "*.parquet")
        got_hourly = _hourly(
            con,
            f"read_parquet('{agg}')",
            "window_start",
            where=where,
            cnt="CAST(sum(cnt) AS BIGINT)",
        )
        same("agg_hourly sums", got_hourly, expect["hourly"])
    finally:
        con.close()
    if summary is not None:
        same("summary rows", summary.get("rows"), expect["turns"])
        same("summary sinks sum", sum((summary.get("sinks") or {}).values()), summary.get("rows"))
        same("summary sinks", summary.get("sinks"), expect["sinks"])
    return problems

