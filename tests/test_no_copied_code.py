"""Tripwire: each computation is written once.

The scan covers every product file: the package, ``__spark_entry__.py``,
``bench.py``, ``run_pipeline.py`` and ``tools/``. It skips
``oracle*.py``, whose DuckDB twins are independent of the Spark
operators on purpose, and ``perfbench/``, the benchmark harness that
is kept byte-stable between the commits it compares. Each file is
reduced to its code lines: comments, docstrings and blank lines are
dropped, and runs of whitespace become one space. Any run of ``RUN``
consecutive code lines that occurs twice, in one file or in two, is a
copy and fails, unless ``KEEP_CLONES`` names its group with a reason.

A group is every stretch of code that shares such a run with another
member. It is named by the places it occurs, each
``path:definition`` (``<module>`` outside any definition), sorted and
joined by `` & ``. A ``KEEP_CLONES`` entry whose group no longer
exists is stale and fails too.
"""

import ast
import io
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "ci_log_processing_spark"
RUN = 10

# Copies that must stay copies, as "group name": reason. Empty: the
# product files have none.
KEEP_CLONES = {}


def code_lines(src):
    """(line number, normalised text) of every code line of ``src``."""
    tree = ast.parse(src)
    skip = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef)):
            first = n.body[0] if n.body else None
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                skip.update(range(first.lineno, first.end_lineno + 1))
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return [(i, " ".join(text.split()))
            for i, text in enumerate(lines, 1)
            if text.strip() and i not in skip]


def _definition_at(tree):
    """line number -> qualified name of the innermost definition
    holding it."""
    spans = []

    def visit(node, prefix):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
                name = prefix + n.name
                spans.append((n.lineno, n.end_lineno, name))
                visit(n, name + ".")
            else:
                visit(n, prefix)

    visit(tree, "")

    def at(line):
        inner = [s for s in spans if s[0] <= line <= s[1]]
        return max(inner)[2] if inner else "<module>"

    return at


def clone_groups(sources):
    """{group name: [(path, first line, last line, code lines)]} of the
    copies in ``sources`` ({path: source}), per the module docstring."""
    lines = {p: code_lines(src) for p, src in sources.items()}
    seen = defaultdict(list)
    for p, ls in lines.items():
        for s in range(len(ls) - RUN + 1):
            seen[tuple(t for _, t in ls[s:s + RUN])].append((p, s))
    copied = [occ for occ in seen.values() if len(occ) > 1]
    covered = defaultdict(set)
    for occ in copied:
        for p, s in occ:
            covered[p].update(range(s, s + RUN))
    # maximal stretches of copied lines, per file
    run_of, runs = {}, []
    for p in sorted(covered):
        for i in sorted(covered[p]):
            if (p, i - 1) not in run_of:
                runs.append([p, i, i])
            runs[-1][2] = i
            run_of[(p, i)] = len(runs) - 1
    parent = list(range(len(runs)))

    def find(r):
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for occ in copied:
        first = find(run_of[occ[0]])
        for p, s in occ[1:]:
            parent[find(run_of[(p, s)])] = first
    members = defaultdict(list)
    for r in range(len(runs)):
        members[find(r)].append(runs[r])
    at = {p: _definition_at(ast.parse(src)) for p, src in sources.items()}
    groups = {}
    for rs in members.values():
        name = " & ".join(sorted({f"{p}:{at[p](lines[p][a][0])}"
                                  for p, a, _ in rs}))
        groups[name] = [(p, lines[p][a][0], lines[p][b][0], b - a + 1)
                        for p, a, b in rs]
    return groups


def clone_findings(groups, keep):
    """The ``clone_groups`` ``keep`` does not name, each with its
    places, then the stale ``keep`` entries."""
    found = [
        f"{name}: " + ", ".join(f"{p}:{a}-{b} ({n} lines)"
                                for p, a, b, n in groups[name])
        for name in sorted(set(groups) - set(keep))
    ]
    return found + [f"stale KEEP_CLONES entry: {name}"
                    for name in sorted(set(keep) - set(groups))]


def _product_sources():
    files = [p for p in PACKAGE.rglob("*.py")
             if not p.name.startswith("oracle")]
    files += [ROOT / n for n in ("__spark_entry__.py", "bench.py",
                                 "run_pipeline.py")]
    files += (ROOT / "tools").rglob("*.py")
    return {str(p.relative_to(ROOT)): p.read_text() for p in sorted(files)}


def test_no_copied_code():
    # lists each copied group with its places, and stale KEEP_CLONES
    groups = clone_groups(_product_sources())
    found = clone_findings(groups, KEEP_CLONES)
    copied = sum(n for g in groups.values() for *_, n in g)
    assert not found, (
        f"{copied} copied code lines; give each computation one "
        "definition, or name the group in KEEP_CLONES with a reason:\n"
        + "\n".join(found))


def test_clone_scan_rules():
    body = "\n".join(f"    x{i} = f(x{i - 1}, {i})" for i in range(1, 11))
    a = f'''
def one(x0):
    """Docstring lines are not code."""
{body}
    return x10
'''
    # the same ten lines, with a comment, a blank line and other spacing
    b_lines = body.splitlines()
    b_lines.insert(3, "    # a comment is not code")
    b_lines.insert(6, "")
    b_lines[8] = b_lines[8].replace(" = ", "   =   ")
    b = "class K:\n    def two(self, x0):\n" + "\n".join(
        "    " + line if line else line for line in b_lines) + "\n"
    nine = "\n".join(body.splitlines()[:9])
    c = f"def three(x0):\n{nine}\n    return 0\n"
    groups = clone_groups({"a.py": a, "b.py": b, "c.py": c})
    assert list(groups) == ["a.py:one & b.py:K.two"]
    assert sorted(groups["a.py:one & b.py:K.two"]) == [
        ("a.py", 4, 13, 10), ("b.py", 3, 14, 10)]
    # a nine-line match is below the run length
    assert clone_groups({"a.py": a, "c.py": c}) == {}
    assert clone_findings(groups, {"a.py:one & b.py:K.two": "kept"}) == []
    assert clone_findings({}, {"gone": "kept"}) == [
        "stale KEEP_CLONES entry: gone"]
