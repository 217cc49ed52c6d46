"""Driver-contract consistency: the __spark_entry__ surface the
grading driver consumes must stay internally coherent — every
oracle key names a real query, the driver check order follows the
committed round artifacts, and nothing shadows anything.
Pure-Python (no Spark session), so it runs first and fails fast."""

import importlib
import sys


def _entry():
    if "__spark_entry__" in sys.modules:
        return sys.modules["__spark_entry__"]
    return importlib.import_module("__spark_entry__")


def test_oracle_keys_subset_of_queries():
    e = _entry()
    qs = set(e.queries())
    extra = set(e.oracle_sql()) - qs
    assert not extra, f"oracle_sql keys with no queries() entry: {extra}"


def test_every_query_has_oracle():
    # the repo-wide bar: NO rows-only checks — every operator claims
    # hash-exactness vs an independent DuckDB twin
    e = _entry()
    missing = set(e.queries()) - set(e.oracle_sql())
    assert not missing, f"queries() entries with no oracle: {missing}"


def _green_rounds():
    """query -> freshest round whose committed CORRECTNESS_r<N>.json has
    it fully green, recomputed here independently of __spark_entry__."""
    import glob
    import json
    import os
    import re

    e = _entry()
    repo = os.path.dirname(os.path.abspath(e.__file__))
    latest = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                green = all(
                    row.get(k)
                    for k in ("rows_match", "schema_match", "hash_match")
                )
                if green:
                    latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_verify_first_names_real_queries():
    # the never-green queries the rotation leads with are registered
    # queries, and there are as many as the artifacts say
    e = _entry()
    latest = _green_rounds()
    never = [n for n in e.queries() if n not in latest]
    assert len(never) == 38
    bad = [n for n in never if n not in e.oracle_sql()]
    assert not bad, f"never-green names with no oracle: {bad}"


def test_verify_first_has_no_duplicates():
    e = _entry()
    ordered = list(e.queries())
    assert len(ordered) == len(set(ordered))


def test_rotation_puts_verify_first_first():
    """queries() is in driver check order: never fully green queries
    first, then by ascending freshest green round."""
    e = _entry()
    latest = _green_rounds()
    ordered = list(e.queries())
    never = [n for n in ordered if n not in latest]
    assert ordered[: len(never)] == never
    rounds = [latest[n] for n in ordered[len(never):]]
    assert rounds == sorted(rounds)


def test_oracle_sql_strings_are_nonempty():
    e = _entry()
    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_catalog_md_in_sync():
    """CATALOG.md (VERDICT_r4 item 6) is generated from queries() /
    oracle_sql() / the committed CORRECTNESS and GATE_LOCAL
    artifacts; a stale committed copy fails here — regenerate with
    `python tools/make_catalog.py`."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import make_catalog
    finally:
        sys.path.pop(0)
    with open(os.path.join(repo, "CATALOG.md")) as f:
        committed = f.read()
    assert committed == make_catalog.build_catalog(), (
        "CATALOG.md is stale — run python tools/make_catalog.py"
    )
