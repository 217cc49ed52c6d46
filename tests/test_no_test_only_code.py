"""Tripwire: every top-level package definition is reached by product code.

Product code is the package, ``__spark_entry__.py``, ``bench.py``,
``run_pipeline.py``, ``tools/`` and ``perfbench/`` (its tests excluded).
A top-level ``def`` or ``class`` of the package that only tests reach
fails this test, unless ``KEEP`` names it with a reason.

The scan is by name, with no Spark: every ``Name``, every ``Attribute``,
every ``from … import`` outside a package ``__init__.py`` and every
identifier-like string constant of a product file counts as a use.
A use inside a package definition counts only while that definition is
itself used, so a helper whose sole caller is dead is found as well.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ci_log_processing_spark"

KEEP = {
    # Reference operators that VERDICT.md's SURVEY §2 table counts as
    # implemented and pytest-verified.
    "load_config": "reference operator P10 (config load), pytest-verified",
    "expand_gz": "reference operator P11 (gzip expand), pytest-verified",
    "split_quarantine": "reference operator P8 (JSONL quarantine), "
                        "pytest-verified",
    "url_join_col": "reference operator F6 (log URL join), pytest-verified",
    "expire_checkpoint": "reference operator L4 (checkpoint expiry), "
                         "pytest-verified",
    # Pure-Python references that tests compare the Spark columns against.
    "get_message_py": "pure-Python reference for message_col",
    "parse_timestamp_py": "pure-Python reference for ts_cascade_col",
    # Building blocks that open ROADMAP directions name.
    "BucketedTableSink": "bucketed manifest of ROADMAP direction 3",
    "salted_bucket": "chunk key of ROADMAP direction 4's two-phase ffill",
    # Safety code for library callers composing persisting operators.
    "scoped_persists": "persist lifecycle scope that releases on error",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _product_files():
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / n for n in ("__spark_entry__.py", "bench.py",
                                 "run_pipeline.py")]
    files += (ROOT / "tools").rglob("*.py")
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if "tests" not in p.relative_to(ROOT / "perfbench").parts]
    return files


def _names_used(node, in_init):
    """Every name ``node`` uses, per the rules in the module docstring."""
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom) and not in_init:
            used.update(a.name for a in n.names)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.fullmatch(n.value)):
            used.add(n.value)
    return used


def unreached_definitions():
    """KEEP names that match no definition, then the sorted
    ``module:name`` of package definitions no live code uses."""
    defs = {}   # (module, name) -> names its own body uses
    roots = set()   # names used by code outside any package definition
    for path in _product_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_init = path.name == "__init__.py"
        if PACKAGE not in path.parents:
            roots |= _names_used(tree, in_init)
            continue
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                body = _names_used(stmt, in_init) - {stmt.name}
                defs[(module, stmt.name)] = body
            else:
                roots |= _names_used(stmt, in_init)
    live = {k for k in defs if k[1] in roots or k[1] in KEEP}
    frontier = set(live)
    while frontier:
        used = set().union(*(defs[k] for k in frontier))
        frontier = {k for k in defs if k not in live and k[1] in used}
        live |= frontier
    stale_keep = sorted(set(KEEP) - {n for (_, n) in defs})
    return stale_keep + sorted(f"{m}:{n}" for (m, n) in defs
                               if (m, n) not in live)


def test_every_package_definition_is_reached_by_product_code():
    # lists unused definitions, and KEEP entries that name no definition
    unreached = unreached_definitions()
    assert not unreached, "only tests reach:\n" + "\n".join(unreached)
