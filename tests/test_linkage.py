"""SymSpell delete-neighborhood fuzzy linkage
(operators/linkage.py): total recall vs brute-force Levenshtein on
planted typo corpora, key-length cap, sorted-neighborhood blocking."""

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.dedup import release_persisted
from ci_log_processing_spark.operators.linkage import (
    KEY_LEN,
    canonical_key,
    symspell_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute(rows, max_dist):
    """Pure-Python reference: canonicalize + all-pairs Levenshtein."""
    import re

    def canon(t):
        t = re.sub("[^a-z0-9 ]", "", t[: 4 * KEY_LEN].lower())
        t = re.sub("  +", " ", t).strip()
        return t[:KEY_LEN]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    keys = {d: canon(t) for d, t in rows}
    ids = sorted(keys)
    out = set()
    for i, da in enumerate(ids):
        for db in ids[i + 1:]:
            d = lev(keys[da], keys[db])
            if d <= max_dist:
                out.add((da, db, d))
    return out


TYPO_ROWS = [
    (1, "Spark Shuffle Partition!"),
    (2, "spark shufle partition"),      # one deletion from 1
    (3, "spark shuffle partitoin"),     # transposition = 2 edits
    (4, "spark shuffle partition"),     # identical canon to 1
    (5, "compaction planner manifest"),
    (6, "compaction planner manifests"),  # one insertion
    (7, "totally different text here"),
    (8, ""),                             # empty key
    (9, "x"),                            # single char: dist 1 from 8
]


def test_symspell_total_recall_d1(spark):
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in symspell_pairs(_docs(spark, TYPO_ROWS)).collect()
    }
    release_persisted()
    assert got == _brute(TYPO_ROWS, 1)
    # the planted relations survive blocking ((5, 6) collapses to
    # dist 0: the 24-char key cap truncates the differing suffix)
    assert (1, 2, 1) in got and (1, 4, 0) in got and (5, 6, 0) in got
    assert (8, 9, 1) in got
    # the transposition needs d=2 — absent at d=1
    assert not any(a == 1 and b == 3 for a, b, _ in got)


def test_symspell_key_len_cap_bounds_fanout(spark):
    long = "word " * 200
    rows = [(1, long), (2, long + "tail difference beyond the cap")]
    out = symspell_pairs(_docs(spark, rows)).collect()
    release_persisted()
    assert {(r["doc_a"], r["doc_b"], r["dist"]) for r in out} == {(1, 2, 0)}


def test_canonical_key_chain(spark):
    df = _docs(spark, [(1, "  Héllo,,  WORLD 42!  ")])
    got = df.select(canonical_key(F.col("text")).alias("k")).collect()[0]["k"]
    # é is non-[a-z0-9 ] post-lower -> stripped; runs collapse; trim
    assert got == "hllo world 42"


def test_sorted_neighborhood_matches_plain_rank_reference(spark):
    """The two-level bucket rank must reproduce the PLAIN global
    (key, doc_id) sort order: pairs == a python reference computing
    rank-window pairs directly; typo pairs adjacent in sort order
    are found, prefix-typo pairs sorting far apart are (by design)
    missed at small windows."""
    import re

    from ci_log_processing_spark.operators.linkage import (
        SN_MAX_DIST,
        SN_WINDOW,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma deltaz"),   # adjacent in sort order
        (3, "zzz omega psi chi"),
        (4, "azz omega psi chi"),         # FIRST-char typo of 3:
                                          # sorts far from 3
        (5, "alpha beta gamma"),
        # spacers so 3 and 4 sit more than `window` ranks apart
        (6, "b spacer one"), (7, "c spacer two"), (8, "d spacer"),
        (9, "m spacer"), (10, "q spacer"),
    ]
    w, d = SN_WINDOW, SN_MAX_DIST
    got = {
        (r["doc_a"], r["doc_b"], r["gap"], r["dist"])
        for r in sorted_neighborhood_pairs(_docs(spark, rows)).collect()
    }
    from ci_log_processing_spark.operators.dedup import (
        release_persisted,
    )

    release_persisted()

    def canon(t):
        t = re.sub("[^a-z0-9 ]", "", t[:96].lower())
        return re.sub("  +", " ", t).strip()[:24]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    order = sorted(rows, key=lambda r: (canon(r[1]), r[0]))
    want = set()
    for i, (da, ta) in enumerate(order):
        for g in range(1, w + 1):
            if i + g < len(order):
                db, tb = order[i + g]
                dd = lev(canon(ta), canon(tb))
                if dd <= d:
                    want.add((min(da, db), max(da, db), g, dd))
    assert got == want
    # the adjacent typo pair is present; the first-char typo is not
    assert any(a == 1 and b == 2 for a, b, _, _ in got)
    assert not any(a == 3 and b == 4 for a, b, _, _ in got)
