"""Tripwires: every package definition and every option has a caller.

Product code is the package, ``__spark_entry__.py``, ``bench.py``,
``run_pipeline.py``, ``tools/`` and ``perfbench/`` (its tests excluded).

Definitions: a top-level ``def`` or ``class`` of the package that only
tests reach fails, unless ``KEEP`` names it with a reason. The scan is
by name, with no Spark: every ``Name``, every ``Attribute``, every
``from … import`` outside a package ``__init__.py`` and every
identifier-like string constant of a product file counts as a use.
A use inside a package definition counts only while that definition is
itself used, so a helper whose sole caller is dead is found as well.

Parameters: a parameter with a default, of any function or method in
the package outside ``oracle*.py``, fails when no call sets it, unless
``KEEP_PARAMS`` names it with a reason. Here tests count as callers: a
test that passes a value exercises behaviour the option exists for.
Parameters of definitions ``KEEP`` lists are exempt. The rules, again
by name (a call matches every definition of its callee's name):

- a call sets a parameter when it passes it by keyword, or passes
  enough positional arguments to reach it (``self``/``cls`` are not
  counted for methods; ``Cls(...)`` calls ``Cls.__init__``);
- a ``*args`` or ``**kwargs`` splat sets every parameter;
- ``functools.partial(f, ...)`` is a call of ``f``;
- a function named anywhere other than as a direct callee (stored in
  a dict, passed as a callback, decorated onto something) counts as
  having every parameter set.
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

# Options kept although no call sets them, as "module:def(param)".
KEEP_PARAMS: dict[str, str] = {}

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


def _defaulted_params(tree):
    """(def key, positional index or None, param) of every parameter
    with a default; the key of ``__init__`` is its class name and a
    method's positional index skips ``self``/``cls``."""
    out = []

    def visit(node, cls):
        for s in ast.iter_child_nodes(node):
            if isinstance(s, ast.ClassDef):
                visit(s, s.name)
                continue
            if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(s, cls)
                continue
            a = s.args
            static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                         for d in s.decorator_list)
            skip = 1 if cls and not static else 0
            key = cls if cls and s.name == "__init__" else s.name
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i in range(first, len(pos)):
                out.append((key, i - skip, pos[i].arg))
            out.extend((key, None, p.arg)
                       for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None)
            visit(s, None)

    visit(tree, None)
    return out


def _callee_name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls(tree):
    """(name, keyword) pairs set, name -> most positional arguments
    passed, and names whose every parameter counts as set."""
    keywords, positional, everything = set(), {}, set()
    callees = set()
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call):
            continue
        func, args = n.func, n.args
        if _callee_name(func) == "partial" and args:
            func, args = args[0], args[1:]
        name = _callee_name(func)
        if name is None:
            continue
        callees.add(id(func))
        if (any(isinstance(a, ast.Starred) for a in args)
                or any(k.arg is None for k in n.keywords)):
            everything.add(name)
            continue
        positional[name] = max(positional.get(name, 0), len(args))
        keywords |= {(name, k.arg) for k in n.keywords}
    for n in ast.walk(tree):
        if id(n) not in callees:
            name = _callee_name(n)
            if name is not None:
                everything.add(name)
    return keywords, positional, everything


def unset_parameters(defining, calling, exempt=frozenset()):
    """Sorted "module:def(param)" of the defaulted parameters of the
    ``defining`` sources ({module: source}) that no ``calling`` source
    sets, per the rules in the module docstring; definitions named in
    ``exempt`` are skipped."""
    keywords, positional, everything = set(), {}, set()
    for src in calling:
        k, p, e = _calls(ast.parse(src))
        keywords |= k
        everything |= e
        for name, n in p.items():
            positional[name] = max(positional.get(name, 0), n)
    unset = []
    for module, src in defining.items():
        for key, index, param in _defaulted_params(ast.parse(src)):
            if (key in exempt or key in everything
                    or (key, param) in keywords
                    or (index is not None
                        and positional.get(key, 0) > index)):
                continue
            unset.append(f"{module}:{key}({param})")
    return sorted(unset)


def _package_parameters():
    """(defining sources, calling sources) of the real repository."""
    defining = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts): p.read_text()
        for p in PACKAGE.rglob("*.py") if not p.name.startswith("oracle")
    }
    callers = _product_files() + list((ROOT / "tests").rglob("*.py"))
    callers += (ROOT / "perfbench" / "tests").rglob("*.py")
    return defining, [p.read_text() for p in callers]


def test_every_package_option_is_set_by_some_call():
    # lists unset options, and KEEP_PARAMS entries that name no
    # defaulted parameter
    defining, calling = _package_parameters()
    every = set(unset_parameters(defining, [], frozenset(KEEP)))
    unset = set(unset_parameters(defining, calling, frozenset(KEEP)))
    stale = sorted(set(KEEP_PARAMS) - every)
    unset = sorted(unset - set(KEEP_PARAMS))
    assert not stale + unset, (
        "no call sets:\n" + "\n".join(stale + unset))


def test_parameter_scan_rules():
    defining = {"m": """
def kw(a, b=1, c=2): ...
def pos(a, b=1, c=2): ...
def star(a, b=1): ...
def dstar(a, b=1): ...
def part(a, b=1, c=2): ...
def part2(a, b=1, c=2): ...
def stored(a, b=1): ...
def nobody(a, b=1): ...
class C:
    def __init__(self, a, b=1, c=2): ...
    def meth(self, a=1, b=2): ...
    @staticmethod
    def st(a=1, b=2): ...
def kept(a, b=1): ...
def only_kw(a, *, b=1, c=2): ...
"""}
    calling = ["""
import functools
from functools import partial
kw(0, c=3)
pos(0, 1)
star(*xs)
dstar(0, **opts)
functools.partial(part, 0, c=5)
partial(part2, b=1)
TABLE = {"s": stored}
TABLE["s"](0)
C(0, 1)
obj.meth(1)
obj.st(1)
only_kw(0, c=1)
"""]
    unset = unset_parameters(defining, calling, frozenset({"kept"}))
    assert unset == [
        "m:C(c)",
        "m:kw(b)",
        "m:meth(b)",
        "m:nobody(b)",
        "m:only_kw(b)",
        "m:part(b)",
        "m:part2(c)",
        "m:pos(c)",
        "m:st(b)",
    ]
