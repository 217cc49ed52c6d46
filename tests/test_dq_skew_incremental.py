"""dq_audit (operators/dq.py), key_skew_audit (operators/skew.py),
merge_agg_deltas (operators/aggregate.py): semantics vs
hand-computed expectations, plus the merge-identity property."""

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.aggregate import merge_agg_deltas
from ci_log_processing_spark.operators.dq import document_checks, dq_audit
from ci_log_processing_spark.operators.skew import SKEW_TOP_N, key_skew_audit


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "hello", "en", "web", 5),
            (2, None, "en", "web", 0),        # null text
            (3, "salut", "fr", "web", 5),     # lang out of taxonomy
            (4, "abc", "en", "web", 99),      # n_chars inconsistent
            (5, "x", "en", "web", -1),        # n_chars out of range
            (5, "x", "en", "web", 1),         # duplicate doc_id
            (6, "ok", None, "web", 2),        # null lang -> violation
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_dq_audit_counts_and_pass_flags(spark):
    out = {
        r.check_name: r
        for r in dq_audit(
            _docs(spark),
            document_checks(allowed_langs=("en",)),
        ).collect()
    }
    assert out["not_null:text"].n_violations == 1
    # fr + the NULL lang (null check input counts as a violation)
    assert out["accepted:lang"].n_violations == 2
    # doc 2 (0 < 1) and doc 5 first copy (-1 < 1)
    assert out["range:n_chars"].n_violations == 2
    # doc 4 (99 != 3), doc 2 (length(NULL) is NULL -> violation),
    # doc 5 first copy (-1 != 1)
    assert out["consistent:n_chars"].n_violations == 3
    assert out["unique:doc_id"].n_violations == 1
    assert all(r.n_rows == 7 for r in out.values())
    assert not any(r.passed for r in out.values())


def test_dq_audit_clean_table_passes(spark):
    clean = spark.createDataFrame(
        [(1, "abc", "en", "web", 3), (2, "de", "en", "web", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dq_audit(clean, document_checks(allowed_langs=("en",))).collect()
    assert len(rows) == 5
    assert all(r.passed and r.n_violations == 0 for r in rows)


def test_key_skew_audit_shares_and_ranks(spark):
    # a x6, b x3, then more singleton keys than SKEW_TOP_N: 39 rows
    singles = [(f"k{i:02d}",) for i in range(30)]
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + singles, "k string"
    )
    out = {r.rank: r for r in key_skew_audit(df, "k").collect()}
    assert len(out) == SKEW_TOP_N  # top_n respected
    assert (out[1].key, out[1].cnt, out[1].share_milli) == ("a", 6, 153)
    assert (out[2].key, out[2].cnt, out[2].share_milli) == ("b", 3, 76)
    assert (out[3].key, out[3].cnt) == ("k00", 1)


def test_key_skew_audit_tie_breaks_by_key(spark):
    df = spark.createDataFrame([("b",), ("a",)], "k string")
    out = [r.key for r in key_skew_audit(df, "k").collect()]
    assert out == ["a", "b"]


def test_merge_agg_deltas_equals_flat_recompute(spark):
    rows = [
        (f"g{i % 3}", f"h{i % 2}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, h string")
    keys = ["g", "h"]
    flat = {
        tuple(r[k] for k in keys): r.cnt
        for r in df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    is_delta = F.pmod(F.xxhash64(F.col("g"), F.col("h")), F.lit(3)) == 0
    base_agg = df.filter(~is_delta).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    delta_agg = df.filter(is_delta).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = {
        tuple(r[k] for k in keys): r.cnt
        for r in merge_agg_deltas(base_agg, delta_agg, keys).collect()
    }
    assert merged == flat


def test_dq_audit_is_single_scan(spark):
    plan = dq_audit(
        _docs(spark),
        document_checks(allowed_langs=("en",)),
    )._jdf.queryExecution().optimizedPlan().toString()
    # one logical scan feeds every constraint (Expand handles the
    # distinct-count; no self-join, no union of scans)
    assert plan.count("LogicalRDD") == 1
    assert "Join" not in plan


def test_column_profile_stats(spark):
    from ci_log_processing_spark.operators.dq import column_profile

    df = spark.createDataFrame(
        [(1, "en"), (2, None), (2, "de")], "doc_id long, lang string"
    )
    out = {
        r.column: r
        for r in column_profile(df, ["doc_id", "lang"]).collect()
    }
    assert out["doc_id"].n_nulls == 0
    assert out["doc_id"].n_distinct == 2
    assert (out["doc_id"].min_value, out["doc_id"].max_value) == ("1", "2")
    assert out["lang"].n_nulls == 1
    assert out["lang"].n_distinct == 2  # nulls excluded from ndv
    assert (out["lang"].min_value, out["lang"].max_value) == ("de", "en")
    assert all(r.n_rows == 3 for r in out.values())


def test_ks_drift_scipy_free_reference(spark):
    """KS D vs a pure-python two-sample reference: identical
    distributions -> 0; disjoint -> 1000; a planted shift matches
    the exact fraction floor."""
    from ci_log_processing_spark.operators.dq import ks_drift

    mk = lambda vals: spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, x long"
    )
    same = [1, 2, 2, 3, 5, 8]
    r = ks_drift(mk(same), mk(same), "x").collect()[0]
    assert r["d_milli"] == 0 and r["n_a"] == 6
    r = ks_drift(mk([1, 2, 3]), mk([10, 11]), "x").collect()[0]
    assert r["d_milli"] == 1000 and r["v_at_max"] == 3
    a, b = [1, 1, 2, 3], [2, 3, 3, 4, 4]
    r = ks_drift(mk(a), mk(b), "x").collect()[0]
    # python reference
    vals = sorted(set(a) | set(b))
    best, bestv = -1, None
    for v in vals:
        num = abs(
            sum(1 for x in a if x <= v) * len(b)
            - sum(1 for x in b if x <= v) * len(a)
        )
        if num > best:
            best, bestv = num, v
    assert r["d_milli"] == (1000 * best) // (len(a) * len(b))
    assert r["v_at_max"] == bestv
