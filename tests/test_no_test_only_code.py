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

Parameters: an option needs two values in use. A parameter with a
default, of any function or method in the package outside
``oracle*.py``, fails when the product calls give it at most one
value. Tests do not count as callers: an option is worth its doubled
test matrix only when product code needs a second value. A parameter
with one value in product use gets one of three outcomes:

- it becomes a module constant at that value, and the test asserts
  the same property at that constant;
- it becomes a constant, and the branch only the other values reached
  is deleted together with the test case that reached it;
- ``KEEP_PARAMS`` names it with a one-line reason and the test that
  gives it another value, because that test needs the value to reach
  behaviour the operator must keep and nothing else reaches it.

A ``KEEP_PARAMS`` entry is stale, and fails, once product calls give
the option a second value or no test gives it another value either.
Parameters of definitions ``KEEP`` lists are exempt. The value set of
a parameter collects, over every call that can bind to it (a call
matches every definition of its callee's name; ``self``/``cls`` are
not counted for methods; ``Cls(...)`` calls ``Cls.__init__``; a call
whose arguments cannot bind to a definition is not a call of it):

- its default, when the call leaves the parameter out;
- the literal, when the call passes one (``ast.literal_eval``);
- the constant's literal, when the call passes by bare name a module
  constant: a name its module binds once, at top level, to a literal,
  or imports by ``from … import`` from such a binding;
- the caller's own value set, when the call passes one of the
  caller's parameters on by bare name and the caller never rebinds
  it (resolved to a fixpoint);
- UNKNOWN for any other expression (a bare ``self``/``cls`` too), for
  every parameter of a call with a ``*args`` or ``**kwargs`` splat,
  and for every parameter of a function named anywhere other than as
  a direct callee (stored in a dict, passed as a callback, decorated
  onto something).

``functools.partial(f, …)`` is a call of ``f`` with the arguments it
binds; the defaulted parameters it leaves out take their defaults.
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

# Options only tests set, as "module:def(param)": reason, and the test.
KEEP_PARAMS = {
    "ci_log_processing_spark.operators.curation:"
    "decontaminate_spans(max_literal_keys)":
        "input size picks the literal or the semi-join path and the gate "
        "never reaches the semi-join; test_curation.py::"
        "test_decontaminate_spans_big_set_routes_to_semijoin",
    "ci_log_processing_spark.operators.pii:pseudonymize(salt)":
        "a deployment secret; test_pii.py::"
        "test_pseudonymize_stable_joinable_and_null_safe",
    "ci_log_processing_spark.streaming.cdc_merge:read_snapshot(version)":
        "time travel, the documented read of the merged table; "
        "test_cdc_merge_stream.py::test_time_travel_at_version_boundaries",
    "ci_log_processing_spark.streaming.follow:run_follow(processing_time)":
        "SURVEY.md section 0 maps the reference's --follow loop onto this "
        "trigger; test_streaming.py::"
        "test_follow_releases_presence_on_stop_and_error",
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


def _defs(tree):
    """(def key, node, self count) of every function and method; the
    key of ``__init__`` is its class name, and the self count is 1 for
    a method other than a staticmethod."""
    out = []

    def visit(node, cls):
        for s in ast.iter_child_nodes(node):
            if isinstance(s, ast.ClassDef):
                visit(s, s.name)
            elif isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in s.decorator_list)
                key = cls if cls and s.name == "__init__" else s.name
                out.append((key, s, 1 if cls and not static else 0))
                visit(s, None)
            else:
                visit(s, cls)

    visit(tree, None)
    return out


def _params(fn, skip):
    """(positional index or None, name, default node or None) of each
    named parameter of ``fn`` after its ``skip`` leading ones."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    out = [(i - skip, p.arg, d)
           for i, (p, d) in enumerate(zip(pos, defaults)) if i >= skip]
    return out + [(None, p.arg, d)
                  for p, d in zip(a.kwonlyargs, a.kw_defaults)]


def _defaulted_params(tree):
    """(def key, positional index or None, param) of every parameter
    with a default."""
    return [(key, i, name) for key, fn, skip in _defs(tree)
            for i, name, d in _params(fn, skip) if d is not None]


UNKNOWN = "<unknown>"


def _literal(node):
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return None


def _callee_name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls_in(tree):
    """(call, enclosing functions and lambdas, innermost last) of every
    call in ``tree``."""
    calls = []

    def visit(node, scopes):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            scopes = scopes + [node]
        elif isinstance(node, ast.Call):
            calls.append((node, scopes))
        for c in ast.iter_child_nodes(node):
            visit(c, scopes)

    visit(tree, [])
    return calls


def _base_module(module, node):
    """The absolute module name an ``ImportFrom`` in ``module`` reads."""
    if not node.level:
        return node.module
    base = module.split(".")[:-node.level]
    return ".".join(base + ([node.module] if node.module else []))


def _constants(trees):
    """{module: {name: literal repr}} of the names each module binds
    exactly once, at top level, to a literal, plus the names it
    imports by ``from … import`` from such a binding of another module
    of ``trees``."""
    own = {}
    for module, tree in trees.items():
        count, stack = {}, list(ast.iter_child_nodes(tree))
        while stack:
            n = stack.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.Lambda, ast.ClassDef)):
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                count[n.id] = count.get(n.id, 0) + 1
            elif isinstance(n, ast.alias):
                local = n.asname or n.name
                count[local] = count.get(local, 0) + 1
            stack.extend(ast.iter_child_nodes(n))
        declared = {name for g in ast.walk(tree)
                    if isinstance(g, ast.Global) for name in g.names}
        own[module] = {
            t.id: _literal(s.value) for s in tree.body
            if isinstance(s, (ast.Assign, ast.AnnAssign))
            and s.value is not None
            for t in (s.targets if isinstance(s, ast.Assign)
                      else [s.target])
            if isinstance(t, ast.Name) and count.get(t.id) == 1
            and t.id not in declared and _literal(s.value) is not None}
    out = {}
    for module, tree in trees.items():
        imported = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                src = own.get(_base_module(module, n), {})
                for a in n.names:
                    imported.setdefault(a.asname or a.name, set()).add(
                        src.get(a.name, UNKNOWN))
        out[module] = {**{k: v.pop() for k, v in imported.items()
                          if len(v) == 1 and UNKNOWN not in v},
                       **own[module]}
    return out


def _argument(node, scopes, stores, consts):
    """The value an argument passes: a literal's repr, ``(function id,
    name)`` when it passes on a parameter of an enclosing function by
    bare name, the literal of a module constant (``consts``) it names,
    else UNKNOWN. ``stores(fn)`` is the set of names ``fn`` assigns."""
    lit = _literal(node)
    if lit is not None:
        return lit
    if not isinstance(node, ast.Name):
        return UNKNOWN
    for fn in reversed(scopes):
        a = fn.args
        named = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        if node.id in named:
            if isinstance(fn, ast.Lambda) or node.id in stores(fn):
                return UNKNOWN
            return (id(fn), node.id)
        if node.id in {p.arg for p in (a.vararg, a.kwarg) if p}:
            return UNKNOWN
        if not isinstance(fn, ast.Lambda) and node.id in stores(fn):
            return UNKNOWN
    return consts.get(node.id, UNKNOWN)


def _bind(args, keywords, params, fn, partial):
    """{param: argument node, or None where the default applies}, or
    None when ``args``/``keywords`` cannot be a call of ``fn``. A
    ``partial`` call may leave required parameters out."""
    a = fn.args
    kw = {k.arg: k.value for k in keywords}
    npos = sum(i is not None for i, _, _ in params)
    if len(args) > npos and a.vararg is None:
        return None
    names = {name for _, name, _ in params}
    if a.kwarg is None and set(kw) - names:
        return None
    bound = {}
    for i, name, default in params:
        if i is not None and i < len(args):
            if name in kw:
                return None
            bound[name] = args[i]
        elif name in kw:
            bound[name] = kw[name]
        elif default is not None:
            bound[name] = None
        elif not partial:
            return None
    return bound


def value_sets(sources):
    """{(module, def key, param): values} of every defaulted parameter
    of ``sources`` ({module: source}), per the rules in the module
    docstring. A value is a literal's repr, ``"=<source>"`` of a
    default that is not a literal, or UNKNOWN."""
    trees = {m: ast.parse(src) for m, src in sources.items()}
    defs, by_key = {}, {}
    for module, tree in trees.items():
        for key, fn, skip in _defs(tree):
            defs[id(fn)] = (module, key, fn, _params(fn, skip))
            by_key.setdefault(key, []).append(id(fn))
    values = {(f, name): set() for f, (_, _, _, ps) in defs.items()
              for _, name, _ in ps}
    stored = {}

    def stores(fn):
        if fn not in stored:
            stored[fn] = {n.id for n in ast.walk(fn)
                          if isinstance(n, ast.Name)
                          and isinstance(n.ctx, ast.Store)}
        return stored[fn]

    consts = _constants(trees)
    edges, callees, named = [], set(), set()
    for module, tree in trees.items():
        for call, scopes in _calls_in(tree):
            func, args = call.func, call.args
            callees.add(id(func))
            partial = _callee_name(func) == "partial" and bool(args)
            if partial:
                func, args = args[0], args[1:]
                callees.add(id(func))
            splat = (any(isinstance(x, ast.Starred) for x in args)
                     or any(k.arg is None for k in call.keywords))
            for f in by_key.get(_callee_name(func), ()):
                _, _, fn, params = defs[f]
                if splat:
                    for _, p, _ in params:
                        values[(f, p)].add(UNKNOWN)
                    continue
                bound = _bind(args, call.keywords, params, fn, partial)
                for _, p, default in params if bound is not None else ():
                    if p not in bound:
                        continue
                    node = bound[p]
                    if node is None:
                        v = _literal(default) or "=" + ast.unparse(default)
                    else:
                        v = _argument(node, scopes, stores, consts[module])
                    if isinstance(v, tuple) and v not in values:
                        v = UNKNOWN   # a bare self/cls: no value set
                    if isinstance(v, tuple):
                        edges.append(((f, p), v))
                    else:
                        values[(f, p)].add(v)
        named |= {_callee_name(n) for n in ast.walk(tree)
                  if id(n) not in callees}
    for f, (_, key, _, params) in defs.items():
        if key in named:
            for _, p, _ in params:
                values[(f, p)].add(UNKNOWN)
    changed = True
    while changed:
        changed = False
        for target, source in edges:
            new = values[source] - values[target]
            if new:
                values[target] |= new
                changed = True
    return {(module, key, p): values[(f, p)]
            for f, (module, key, _, params) in defs.items()
            for _, p, default in params if default is not None}


def one_valued(sources, modules, exempt=frozenset()):
    """Sorted "module:def(param)" of the defaulted parameters of
    ``modules`` whose value set holds at most one value, none of them
    UNKNOWN; definitions named in ``exempt`` are skipped."""
    return sorted({f"{m}:{key}({p})"
                   for (m, key, p), vals in value_sets(sources).items()
                   if m in modules and key not in exempt
                   and UNKNOWN not in vals and len(vals) < 2})


def _module(path):
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _package_parameters():
    """(product sources, test sources, checked modules) of the real
    repository; sources are {module: source}."""
    product = {_module(p): p.read_text() for p in _product_files()}
    tests = list((ROOT / "tests").rglob("*.py"))
    tests += (ROOT / "perfbench" / "tests").rglob("*.py")
    modules = {_module(p) for p in PACKAGE.rglob("*.py")
               if not p.name.startswith("oracle")}
    return product, {_module(p): p.read_text() for p in tests}, modules


def option_findings(product, tests, modules, keep_params):
    """Sorted one-valued options ``keep_params`` does not name, then
    the stale ``keep_params`` entries: those product calls give a
    second value, or that no test gives another value either."""
    exempt = frozenset(KEEP)
    one = set(one_valued(product, modules, exempt))
    still = set(one_valued({**product, **tests}, modules, exempt))
    return sorted(one - set(keep_params)) + sorted(
        set(keep_params) - (one - still))


def test_every_package_option_takes_two_values():
    # lists options product calls give one value, and stale KEEP_PARAMS
    found = option_findings(*_package_parameters(), KEEP_PARAMS)
    assert not found, (
        "one value in product use, or stale KEEP_PARAMS:\n"
        + "\n".join(found))


def test_parameter_scan_rules():
    sources = {"m": """
def omitted(a, b=1): ...
def same(a, b=1): ...
def two(a, b=1): ...
def unknown(a, b=1): ...
def star(a, b=1): ...
def dstar(a, b=1): ...
def pos(a, b=1, c=2): ...
def stored(a, b=1): ...
def nobody(a, b=1): ...
def kept(a, b=1): ...
def leaf(a, b=1): ...
def mid(a, b=1):
    leaf(a, b)
def top(a, b=5):
    mid(a, b=b)
def leaf2(a, b=1): ...
def mid2(a, b=1):
    leaf2(a, b=b)
def top2(a, b=5):
    mid2(a, b)
def rebinds(a, b=1):
    b = b + 1
    leaf3(a, b)
def leaf3(a, b=1): ...
class C:
    def __init__(self, a, b=1, c=2): ...
    def meth(self, a=1, b=2): ...
    @staticmethod
    def st(a=1, b=2): ...
def only_kw(a, *, b=1, c=2): ...
def misfit(a, b=1): ...
def part(a, b=1, c=2): ...
def part2(a, b=1, c=2): ...
K = 3
def const(a, b=1): ...
def const2(a, b=1): ...
def imported(a, b=1): ...
def local(a, b=1): ...
def twice(a, b=1): ...
def takes(a, b=1): ...
class D:
    def run(self):
        takes(0, self)
""", "caller": """
from functools import partial
from m import K as KAY
J = 4
T = 1
T = 2
omitted(0)
same(0)
same(0, b=1)
two(0, b=2)
two(0)
unknown(0, b=x + 1)
star(*xs)
dstar(0, **opts)
pos(0, 3)
pos(0, 4)
TABLE = {"s": stored}
kept(0)
top(0)
top(0, b=5)
top2(0)
top2(0, 6)
rebinds(0)
C(0, 1)
C(0, 2)
obj.meth(1)
obj.meth(2)
obj.st(1)
obj.st(2)
only_kw(0, c=1)
only_kw(0, c=3)
misfit(0, 1, 2, 3)
misfit(0)
functools.partial(part, 0, c=5)
part(0, c=6)
partial(part2, b=1)
partial(part2, b=3)
const(0, J)
const(0, b=J)
const2(0, J)
const2(0, KAY)
imported(0, KAY)
def f():
    J = 5
    local(0, J)
local(0, J)
twice(0, T)
takes(0, 1)
"""}
    found = one_valued(sources, {"m"}, frozenset({"kept"}))
    assert found == [
        "m:C(c)",           # left out by both calls
        "m:const(b)",       # a module constant, by position and keyword
        "m:imported(b)",    # a constant imported under another name
        "m:leaf(b)",        # 5 through two levels of pass-through
        "m:meth(b)",
        "m:mid(b)",
        "m:misfit(b)",      # the 4-argument call cannot bind
        "m:nobody(b)",      # no call at all
        "m:omitted(b)",     # the default only
        "m:only_kw(b)",
        "m:part(b)",        # left out by partial() and by the call
        "m:part2(c)",
        "m:pos(c)",
        "m:rebinds(b)",
        "m:same(b)",        # a literal equal to the default
        "m:st(b)",
        "m:top(b)",         # the default and an equal literal
    ]
    # two distinct literals, an unknown expression, a splat, a stored
    # function, a second value at the top of a chain, a rebound
    # parameter, two constants, a local shadowing a constant, a name
    # bound twice, a bare self and partial()'s bound values each keep
    # the option
    for ok in ("two", "unknown", "star", "dstar", "stored", "leaf2",
               "mid2", "top2", "leaf3", "const2", "local", "twice",
               "takes", "part2"):
        assert f"m:{ok}(b)" not in found
    assert "m:part(c)" not in found


def test_test_calls_do_not_count_as_product_calls():
    sources = """
def opt(a, b=1): ...
def both(a, b=1): ...
def kept(a, b=1): ...
def grown(a, b=1): ...
def unused(a, b=1): ...
"""
    product = {"m": sources,
               "p": "both(0, b=2)\nboth(0)\nkept(0)\nopt(0)\n"
                    "grown(0)\ngrown(0, b=7)\nunused(0)"}
    tests = {"t": "opt(0, b=2)\nboth(0, b=3)\nkept(0, b=2)\n"
                  "grown(0, b=3)"}
    keep = {"m:kept(b)": "needed",
            "m:both(b)": "product gives two values",
            "m:grown(b)": "a second product value appeared",
            "m:unused(b)": "no test gives another value",
            "m:gone(b)": "no such def"}
    assert option_findings(product, tests, {"m"}, keep) == [
        "m:opt(b)",
        "m:both(b)",
        "m:gone(b)",
        "m:grown(b)",
        "m:unused(b)",
    ]
