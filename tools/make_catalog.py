"""Generate CATALOG.md — the operator catalog VERDICT_r4 item 6 asked
for: one row per gate query mapping query name -> entry callable ->
operator functions (`module.function`) -> oracle twin -> freshest
driver CORRECTNESS round -> local-gate status. Names, not line
numbers, so an edit that only moves lines leaves the file in sync.

Everything is derived mechanically from `__spark_entry__.queries()` /
`oracle_sql()`, the committed CORRECTNESS_r*.json artifacts and (when
present) GATE_LOCAL_r*.json, so the file cannot drift from the code:
tests/test_entry_contract.py regenerates it and diffs against the
committed copy.

Usage: python tools/make_catalog.py [--check]
  --check: exit 1 if the committed CATALOG.md is stale (CI mode).
"""

from __future__ import annotations

import glob
import importlib
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

_IMPORT_RE = re.compile(
    r"from\s+(ci_log_processing_spark(?:\.[\w.]+)?)\s+import\s+"
    r"(?:\(([^)]+)\)|([^\n(]+))"
)


def _qualname(obj) -> str:
    return getattr(obj, "__qualname__", "").replace("<locals>.", "")


def _operator_targets(fn, _depth: int = 0) -> list[str]:
    """Resolve the package functions a gate-query callable uses, as
    `module.function` names, by reading its own source for package imports;
    recurses two levels into same-module helper functions (the
    _routed/_q_sink_rows style shared pipeline builders)."""
    out: list[str] = []
    seen = set()
    helpers = []

    def add(name, obj):
        if obj is None or not callable(obj):
            return
        mod = getattr(obj, "__module__", "") or ""
        if not mod.startswith("ci_log_processing_spark."):
            return
        key = f"{mod.split('.', 1)[1]}.{_qualname(obj) or name}"
        if key not in seen:
            seen.add(key)
            out.append(f"`{key}`")

    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = ""
    # function-local `from ci_log_processing_spark... import x` lines
    for mod_name, par_names, line_names in _IMPORT_RE.findall(src):
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            continue
        names = par_names or line_names
        for name in [n.strip() for n in names.split(",") if n.strip()]:
            add(name, getattr(mod, name, None))
    # names the callable resolves from module globals (covers
    # module-level imports and helper wrappers)
    code = getattr(fn, "__code__", None)
    g = getattr(fn, "__globals__", {})
    if code is not None:
        for name in code.co_names:
            obj = g.get(name)
            add(name, obj)
            if (
                _depth < 2
                and callable(obj)
                and getattr(obj, "__module__", "") == "__spark_entry__"
                and name.startswith("_")
            ):
                helpers.append(obj)
    # closures built by same-module factories (_q_sink_rows style):
    # recurse into the factory's product via its free variables too
    for cell in getattr(fn, "__closure__", None) or []:
        v = cell.cell_contents
        if callable(v) and _depth < 2:
            helpers.append(v)
    for h in helpers:
        for entry in _operator_targets(h, _depth + 1):
            if entry not in out:
                out.append(entry)
    return out


def _local_gate() -> tuple[str, dict[str, dict]]:
    paths = sorted(glob.glob(os.path.join(REPO, "GATE_LOCAL_r*.json")))
    if not paths:
        return "", {}
    with open(paths[-1]) as f:
        return os.path.basename(paths[-1]), json.load(f)


def build_catalog() -> str:
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    driver = entrymod._latest_driver_rounds()
    gate_name, gate = _local_gate()

    lines = [
        "# Operator catalog",
        "",
        "GENERATED by `python tools/make_catalog.py` — do not edit by",
        "hand (tests/test_entry_contract.py diffs this file against a",
        "fresh regeneration). One row per gate query in",
        "`__spark_entry__.queries()` order (the driver's check order).",
        "",
        "Columns: **oracle** = has a DuckDB `oracle_sql()` twin",
        "(`rows-only` queries get the driver's weaker rows-only",
        "check); **driver** = freshest round whose CORRECTNESS",
        "artifact has this query fully green (rows+schema+hash);",
        f"**local** = result in {gate_name or '(no GATE_LOCAL yet)'},",
        "the latest committed full-surface local gate sweep",
        "(strict-ANSI; sweeps are committed at both sf0.01 and",
        "sf0.1).",
        "",
        "| # | query | entry | operators | oracle | driver | local |",
        "|---|---|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        inner = inspect.unwrap(fn)  # strip the _release_then wrapper
        entry_loc = f"`{_qualname(inner) or '?'}`"
        ops = _operator_targets(inner)
        ops_cell = "; ".join(ops) if ops else "(inline DataFrame plan)"
        oracle = "yes" if name in sqls else "rows-only"
        drv = f"r{driver[name]}" if name in driver else "—"
        g = gate.get(name)
        if g is None:
            loc = "—"
        elif g.get("hash_match"):
            loc = "PASS"
        elif g.get("err") and "rows-only" in str(g.get("err")):
            loc = f"rows-only ({g.get('spark_rows')})"
        else:
            loc = "FAIL"
        lines.append(
            f"| {i} | `{name}` | {entry_loc} | {ops_cell} "
            f"| {oracle} | {drv} | {loc} |"
        )
    n_oracle = sum(1 for n in qs if n in sqls)
    n_driver = sum(1 for n in qs if n in driver)
    lines += [
        "",
        f"Totals: {len(qs)} gate queries; {n_oracle} with DuckDB oracle",
        f"twins ({len(qs) - n_oracle} rows-only); {n_driver} green in at",
        "least one driver round.",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    out_path = os.path.join(REPO, "CATALOG.md")
    text = build_catalog()
    if "--check" in sys.argv:
        with open(out_path) as f:
            committed = f.read()
        if committed != text:
            print("CATALOG.md is STALE — regenerate with "
                  "python tools/make_catalog.py")
            sys.exit(1)
        print("CATALOG.md is in sync")
        return
    with open(out_path, "w") as f:
        f.write(text)
    print(f"wrote CATALOG.md ({text.count(chr(10))} lines)")


if __name__ == "__main__":
    main()
