"""Hypothesis property tests: pack_sequences invariants on arbitrary
token-length profiles, and PII pattern agreement between Spark's Java
regex and Python's re on adversarial ASCII strings.

Example counts are kept small — every example runs Spark jobs — but
hypothesis shrinks failures to minimal cases, which seeded fuzz
cannot.
"""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ci_log_processing_spark.operators.curation import pack_sequences
from ci_log_processing_spark.operators.pii import PII_RULES, pii_scrub

CAP = 50


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    profiles=st.lists(
        st.lists(st.integers(min_value=1, max_value=120), min_size=1,
                 max_size=15),
        min_size=1,
        max_size=3,
    )
)
def test_pack_invariants(spark, profiles):
    rows = []
    nt_by_doc = {}
    for g, lens in enumerate(profiles):
        for i, n in enumerate(lens):
            doc_id = g * 1000 + i
            rows.append((f"s{g}", doc_id, " ".join(["w"] * n)))
            nt_by_doc[doc_id] = n
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, text string"
    )
    out = pack_sequences(docs, capacity=CAP).collect()
    assert {r["doc_id"] for r in out} == set(nt_by_doc)  # total
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    for src, rs in by_group.items():
        rs.sort(key=lambda r: r["doc_id"])
        # bins consecutive from 0 in doc_id order; offsets cumulative
        bin_i, used = 0, 0
        for r in rs:
            n = nt_by_doc[r["doc_id"]]
            assert r["n_tokens"] == n
            if used + n > CAP and used > 0:
                bin_i += 1
                used = 0
            assert r["bin_idx"] == bin_i, (src, r)
            assert r["offset_in_bin"] == used, (src, r)
            used += n
        # capacity respected except single-doc oversized bins
        fill = {}
        for r in rs:
            fill.setdefault(r["bin_idx"], []).append(nt_by_doc[r["doc_id"]])
        for ns in fill.values():
            assert sum(ns) <= CAP or len(ns) == 1


PII_ALPHABET = "aZ09.@-+_% m"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet=PII_ALPHABET, min_size=0, max_size=60),
        min_size=1,
        max_size=20,
    )
)
def test_pii_counts_match_python_re(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, pii_text string"
    )
    got = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    for i, t in enumerate(texts):
        for stem, rx, _ in PII_RULES:
            expect = len(re.findall(rx, t))
            assert got[i][f"n_{stem}"] == expect, (t, stem)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=400),
    shard=st.integers(min_value=1, max_value=64),
)
def test_shuffle_index_equals_global_window(spark, n, shard):
    """The two-level bucket rank must equal the single-partition
    global window rank for ANY size and shard width."""
    import hashlib

    from ci_log_processing_spark.operators.curation import shuffle_index
    from ci_log_processing_spark.operators.dedup import release_persisted

    docs = spark.range(n).selectExpr("id AS doc_id")
    out = {
        r["doc_id"]: (r["global_idx"], r["shard"])
        for r in shuffle_index(docs, shard_size=shard).collect()
    }
    release_persisted()
    ref = sorted(
        range(n),
        key=lambda i: (hashlib.md5(f"shuf1{i}".encode()).hexdigest(), i),
    )
    assert len(out) == n
    for rank, doc in enumerate(ref):
        assert out[doc] == (rank, rank // shard)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lens=st.lists(
        st.integers(min_value=1, max_value=40), min_size=1, max_size=30
    ),
    budget=st.integers(min_value=0, max_value=300),
)
def test_token_budget_prefix_property(spark, lens, budget):
    """The admitted set is exactly the longest md5-order prefix whose
    cumulative token count fits the budget — and is monotone in the
    budget."""
    import hashlib

    from ci_log_processing_spark.operators.curation import (
        token_budget_sample,
    )

    rows = [(i, "s", " ".join(["w"] * ln)) for i, ln in enumerate(lens)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = set(
        r["doc_id"] for r in token_budget_sample(docs, budget).collect()
    )
    order = sorted(
        range(len(lens)),
        key=lambda i: (hashlib.md5(f"mix1{i}".encode()).hexdigest(), i),
    )
    expect, cum = set(), 0
    for i in order:
        cum += lens[i]
        if cum > budget:
            break
        expect.add(i)
    assert got == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=100000), min_size=1, max_size=25
    ),
    k=st.integers(min_value=1, max_value=6),
)
def test_priority_sample_matches_python_reference(spark, weights, k):
    """The engine's survivor set, priorities and w_hat must equal a
    pure-Python replay of the DLT rule on arbitrary weight profiles
    — any float-path divergence between the engines shows up here
    before the oracle gate."""
    import hashlib

    from ci_log_processing_spark.operators.curation import priority_sample

    rows = [(i, "g", w) for i, w in enumerate(weights)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r
        for r in priority_sample(docs, k=k).collect()
    }

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    pri = {
        i: w * 4294967296.0 / (h32(f"prio{i}") + 1)
        for i, w in enumerate(weights)
    }
    order = sorted(pri, key=lambda i: (-pri[i], i))
    keep = order[:k]
    tau = pri[order[k]] if len(order) > k else 0.0
    assert set(out) == set(keep)
    for i in keep:
        assert out[i]["priority"] == pri[i]
        assert out[i]["w_hat"] == max(float(weights[i]), tau)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=60), min_size=1, max_size=4
    )
)
def test_temperature_mixture_matches_python_reference(spark, sizes):
    import hashlib
    import math

    from ci_log_processing_spark.operators.curation import (
        sqrt_temperature_mixture,
    )

    rows = []
    src_of = {}
    did = 0
    for g, n in enumerate(sizes):
        for _ in range(n):
            rows.append((did, f"g{g}"))
            src_of[did] = f"g{g}"
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["doc_id"] for r in sqrt_temperature_mixture(docs).collect()}

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nmin = min(sizes)
    rate = {f"g{g}": math.sqrt(nmin / n) for g, n in enumerate(sizes)}
    expect = {
        i
        for i in src_of
        if h32(f"temp{i}") < rate[src_of[i]] * 4294967296.0
    }
    assert out == expect


def _py_decontaminate_spans(rows, snippets, k):
    """Pure-Python reference of decontaminate_spans: same lowercased
    shingle membership, same island merge, same original-case
    rebuild."""
    test = set()
    for s in snippets:
        t = s.lower().split(" ")
        for i in range(len(t) - k + 1):
            test.add(" ".join(t[i : i + k]))
    out = {}
    for doc_id, text in rows:
        lo = text.split(" ")
        ll = text.lower().split(" ")
        hits = [
            i
            for i in range(len(ll) - k + 1)
            if " ".join(ll[i : i + k]) in test
        ]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + k - 1)
            else:
                spans.append([p, p + k - 1])
        covered = {i for s, e in spans for i in range(s, e + 1)}
        clean = " ".join(t for i, t in enumerate(lo) if i not in covered)
        out[doc_id] = (
            len(spans),
            sum(e - s + 1 for s, e in spans),
            clean,
        )
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
)
def test_decontaminate_spans_matches_python(spark, data):
    from ci_log_processing_spark.operators.curation import (
        SPAN_SHINGLE_K,
        decontaminate_spans,
    )

    vocab = ["aa", "Bb", "CC", "dd"]  # mixed case: rebuild preserves it
    word = st.sampled_from(vocab)
    doc = st.lists(word, min_size=1, max_size=12).map(" ".join)
    rows = [
        (i, data.draw(doc)) for i in range(data.draw(st.integers(3, 8)))
    ]
    snippet = data.draw(st.lists(word, min_size=2, max_size=5).map(" ".join))
    k = SPAN_SHINGLE_K
    if len(snippet.split(" ")) < k:
        snippet = snippet + " " + snippet  # ensure >= k tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_spans"],
            r["n_tokens_removed"],
            r["clean_text"],
        )
        for r in decontaminate_spans(docs, [snippet]).collect()
    }
    assert got == _py_decontaminate_spans(rows, [snippet], k)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab ",
            min_size=1,
            max_size=12,
        ).map(lambda s: s.strip() or "a"),
        min_size=1,
        max_size=25,
    )
)
def test_softdedup_mass_conservation(spark, texts):
    """Exact-mode SoftDeDup invariants on arbitrary corpora:
    (1) weights within every cluster sum to ~1 (each cluster keeps
    one document's worth of sampling mass);
    (2) total weighted token mass == the token mass of the DISTINCT
    texts (duplicates share identical text, so per-cluster
    weighted_tokens sum back to the single copy's count);
    (3) integer milli masses never exceed 1000 * n_tokens and are
    exact floor divisions."""
    from collections import defaultdict

    from ci_log_processing_spark.operators.curation import (
        softdedup_weights,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    out = softdedup_weights(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()
    assert len(out) == len(texts)
    by_cluster = defaultdict(list)
    for r in out:
        by_cluster[r.cluster_key].append(r)
    distinct_mass = 0
    for rs in by_cluster.values():
        n = len(rs)
        assert all(r.cluster_n == n for r in rs)
        assert abs(sum(r.weight for r in rs) - 1.0) < 1e-3 * n
        # identical text -> identical token count within a cluster
        assert len({r.n_tokens for r in rs}) == 1
        distinct_mass += rs[0].n_tokens
        for r in rs:
            assert r.weighted_tokens_milli == (1000 * r.n_tokens) // n
            assert r.weighted_tokens_milli <= 1000 * r.n_tokens
    total_weighted = sum(r.weighted_tokens for r in out)
    assert abs(total_weighted - distinct_mass) < 1e-2


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                ["the", "and", "of", "to", "is", "word", "Xy1", "a9",
                 "..", "!?", "", "mix,ed.", "CAPS"]
            ),
            min_size=0,
            max_size=90,
        ).map(" ".join),
        min_size=1,
        max_size=24,
    )
)
def test_quality_scores_match_python_integer_model(spark, texts):
    """The round-5 exact-integer quality contract, pinned against an
    independent pure-Python model: every micro-unit ratio is a floor
    division over raw counts, and each published double is EXACTLY
    micro/1e6 (bit-equal float compare, no tolerance) — the property
    that makes the score engine-independent."""
    import re as _re

    from ci_log_processing_spark.operators.textstats import (
        STOPWORDS,
        quality_scores,
    )

    def py_model(text):
        toks = text.lower().split(" ")
        nt = len(toks)
        ns = sum(1 for x in toks if x in STOPWORDS)
        npn = len(_re.findall(r"[^A-Za-z0-9\s]", text))
        nc = len(text)
        srm = (1_000_000 * ns) // max(nt, 1)
        prm = (1_000_000 * npn) // max(nc, 1)
        lsm = min((1_000_000 * nt) // 64, 1_000_000)
        qm = (
            4 * min(4 * srm, 1_000_000) + 3 * lsm + 3 * (1_000_000 - prm)
        ) // 10
        return nt, srm, prm, lsm, qm

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    for i, t in enumerate(texts):
        nt, srm, prm, lsm, qm = py_model(t)
        r = got[i]
        assert r["n_tokens"] == nt, t
        assert r["quality_micro"] == qm, t
        # EXACT float equality: micro/1e6 is the same IEEE double
        # everywhere, that is the whole point
        assert r["stopword_ratio"] == srm / 1e6, t
        assert r["punct_ratio"] == prm / 1e6, t
        assert r["len_score"] == lsm / 1e6, t
        assert r["quality"] == qm / 1e6, t
