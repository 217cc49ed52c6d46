"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB (views over the same parquet), then
compares row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [name_filter] [out_json]

When out_json is given (e.g. GATE_LOCAL_r5.json) the full per-query
result is ALSO written there in the driver CORRECTNESS_r{N}.json
shape — {name: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}, plus `rows_only: true` (and null matches) for a
query with no DuckDB twin — so one can diff the local 222-query sweep
against the driver's 50-query round artifact mechanically.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from ci_log_processing_spark.session import get_spark  # noqa: E402
from ci_log_processing_spark.sources.tables import TABLES  # noqa: E402


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6f}"
    return str(v)


def _norm_rows(pdf):
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append(tuple(_norm_cell(None if pd.isna(v) else v) if not isinstance(v, (list, tuple)) else str(list(v)) for v in tup))
    return sorted(rows), cols


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    out_json = sys.argv[3] if len(sys.argv) > 3 else ""

    # get_spark now pins spark.sql.ansi.enabled=true — the same
    # strict mode the grading driver runs — so no override is needed
    # here; the gate and the job share one session config.
    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    n_pass = n_fail = 0
    filters = [f for f in name_filter.split(",") if f]
    results: dict[str, dict] = {}

    def record(name, rows_match, schema_match, hash_match,
               spark_rows, oracle_rows, err, **extra):
        results[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
            **extra,
        }

    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        # several operators persist() intermediates for single-scan
        # plans; clear between queries so the sweep doesn't accumulate
        # pinned storage across ~50 invocations
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            record(name, False, False, False, None, None,
                   f"spark error: {e}"[:500])
            n_fail += 1
            continue
        if name not in sqls:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            # nothing was compared: null, not a verified pass
            record(name, None, None, None, len(sdf), None,
                   "rows-only (no oracle_sql twin)", rows_only=True)
            continue
        try:
            ddf = con.execute(sqls[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            record(name, False, False, False, len(sdf), None,
                   f"duckdb error: {e}"[:500])
            n_fail += 1
            continue
        s_rows, s_cols = _norm_rows(sdf)
        d_rows, d_cols = _norm_rows(ddf)
        if s_cols != d_cols:
            print(f"FAIL {name}: schema {s_cols} vs {d_cols}")
            record(name, len(s_rows) == len(d_rows), False, False,
                   len(s_rows), len(d_rows),
                   f"schema {s_cols} vs {d_cols}"[:500])
            n_fail += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
            record(name, False, True, False, len(s_rows), len(d_rows),
                   "rowcount mismatch")
            n_fail += 1
            continue
        bad = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
        if bad:
            i = bad[0]
            print(f"FAIL {name}: {len(bad)} row diffs; first at {i}:")
            print("  spark:", s_rows[i])
            print("  duck :", d_rows[i])
            record(name, True, True, False, len(s_rows), len(d_rows),
                   f"{len(bad)} row diffs; first at {i}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows")
            record(name, True, True, True, len(s_rows), len(d_rows), None)
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {out_json} ({len(results)} queries)")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
