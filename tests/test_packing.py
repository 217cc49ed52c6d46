"""Sequence packing: next-fit rule, capacity boundaries, oversized
docs, per-group independence, and repetition-stat formulas."""

from pyspark.sql import functions as F

from ci_log_processing_spark.operators.curation import pack_sequences
from ci_log_processing_spark.operators.textstats import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(
        [(s, i, " ".join(["w"] * n)) for i, (s, n) in enumerate(rows)],
        "source string, doc_id long, text string",
    )


def test_pack_next_fit_rule(spark):
    # capacity 10: [4, 4, 4] -> bins 0,0,1 (4+4=8 fits, +4 would be 12)
    docs = _docs(spark, [("a", 4), ("a", 4), ("a", 4)])
    out = sorted(
        (r["doc_id"], r["bin_idx"], r["offset_in_bin"])
        for r in pack_sequences(docs, capacity=10).collect()
    )
    assert out == [(0, 0, 0), (1, 0, 4), (2, 1, 0)]


def test_pack_oversized_doc_gets_own_bin(spark):
    # capacity 10: [3, 25, 2] -> 25 opens its own bin, 2 opens another
    docs = _docs(spark, [("a", 3), ("a", 25), ("a", 2)])
    out = sorted(
        (r["doc_id"], r["bin_idx"], r["offset_in_bin"])
        for r in pack_sequences(docs, capacity=10).collect()
    )
    assert out == [(0, 0, 0), (1, 1, 0), (2, 2, 0)]


def test_pack_groups_independent(spark):
    docs = _docs(spark, [("a", 6), ("b", 6), ("a", 6), ("b", 6)])
    out = {
        r["doc_id"]: (r["source"], r["bin_idx"])
        for r in pack_sequences(docs, capacity=10).collect()
    }
    # each source restarts at bin 0
    assert out[0] == ("a", 0) and out[2] == ("a", 1)
    assert out[1] == ("b", 0) and out[3] == ("b", 1)


def test_repetition_stats_formulas(spark):
    docs = spark.createDataFrame(
        [
            (1, "aa bb\naa bb\ncc dd"),   # 2 of 3 lines duplicated
            (2, "x y z"),                  # no dup lines, all bigrams once
            (3, "go go go go"),            # top bigram 'go go' x3 of 3
        ],
        "doc_id long, ltext string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["n_lines"] == 3
    assert abs(out[1]["dup_line_frac"] - 1 / 3) < 1e-6
    # 10 chars in duplicated lines of 15 total
    assert abs(out[1]["dup_line_char_frac"] - 10 / 15) < 1e-6
    assert out[2]["dup_line_frac"] == 0.0
    assert out[3]["top_bigram"] == "go go"
    assert abs(out[3]["top_bigram_frac"] - 6 / 4) < 1e-6


def test_repetition_tiebreak_matches_oracle_with_newline_tokens(
    spark, tmp_path
):
    """Adversarial tie-break case: doc 'x x' gets line-doubled
    (doc_id % 4 == 0), producing token 'x\\nx'; both bigrams tie at
    run 1 and the winner depends on sort order. Spark's struct
    order must agree with the oracle's chr(1)-keyed rank (the
    display-space key disagrees: '\\n' < ' ')."""
    import duckdb

    import __spark_entry__ as entry
    from ci_log_processing_spark import oracle_data as od

    p = str(tmp_path)
    spark.createDataFrame(
        [(0, "x x"), (4, "a b a")], "doc_id long, text string"
    ).coalesce(1).write.parquet(p + "/documents.parquet")
    got = {
        r["doc_id"]: (r["top_bigram"], r["top_bigram_frac"])
        for r in entry.q_repetition(spark, p).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{p}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: (r[4], r[5])
        for r in con.execute(od.q_repetition()).fetchall()
    }
    assert got.keys() == want.keys()
    for d in got:
        assert got[d][0] == want[d][0], (d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9


def test_repetition_single_token_doc(spark):
    docs = spark.createDataFrame(
        [(1, "solo")], "doc_id long, ltext string"
    )
    r = repetition_stats(docs).collect()[0]
    assert r["top_bigram"] is None
    assert r["top_bigram_frac"] == 0.0


def test_repetition_variants_bit_equal(spark):
    """The two repetition implementations — Catalyst sort+fold and
    Arrow Counter — must be bit-identical on an adversarial mix: dup
    lines, all-unique, tie-broken bigrams, single-token docs,
    rounding-sensitive fractions (1/3, 2/7), and newline-carrying
    tokens from line-doubling."""
    from ci_log_processing_spark.operators.textstats import (
        repetition_stats,
        repetition_stats_arrow,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa bb\naa bb\ncc dd"),
            (2, "x y z"),
            (3, "go go go go"),
            (4, "solo"),
            (5, "x x\nx x"),             # token 'x\nx' after join
            (6, "a b\nc d\na b\nc d\ne f\ng h\nii"),  # 4/7 dup lines
            (7, "zz yy\nzz yy\nzz yy"),
            (8, "B b\nb B"),              # case-sensitive lines, lower toks
        ],
        "doc_id long, ltext string",
    ).repartition(3)
    base = (
        repetition_stats(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    alt = (
        repetition_stats_arrow(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)[base.columns]
    )
    assert base.equals(alt), (base, alt)


def test_bfd_beats_next_fit_on_skewed_mix(spark):
    """BFD must use no more bins than next-fit (and strictly fewer
    on a planted skewed mix), match a pure-python BFD reference,
    and never overflow capacity except for oversized singletons."""
    from ci_log_processing_spark.operators.curation import (
        pack_sequences,
        pack_sequences_bfd,
    )

    cap = 100
    # skewed mix: 60+41 can never share; BFD pairs 60s with 40s
    sizes = [60, 41, 60, 40, 59, 39, 58, 38, 120]
    rows = [
        (i, " ".join(["w"] * n), "s0") for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    nf = pack_sequences(df, capacity=cap)
    bfd = pack_sequences_bfd(df, capacity=cap)
    nf_bins = nf.agg({"bin_idx": "max"}).collect()[0][0] + 1
    got = {r["doc_id"]: r for r in bfd.collect()}
    bfd_bins = max(r["bin_idx"] for r in got.values()) + 1
    assert bfd_bins < nf_bins
    # python BFD reference
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    bins, ref = [], {}
    for i in order:
        nt = sizes[i]
        cand = [
            (u, j) for j, u in enumerate(bins) if u + nt <= cap
        ]
        if cand:
            u, j = max(cand, key=lambda t: (t[0], -t[1]))
            ref[i] = (j, bins[j])
            bins[j] += nt
        else:
            ref[i] = (len(bins), 0)
            bins.append(nt)
    for i, (b, o) in ref.items():
        assert (got[i]["bin_idx"], got[i]["offset_in_bin"]) == (b, o)
    # capacity respected for every multi-doc bin
    loads = {}
    for r in got.values():
        loads[r["bin_idx"]] = loads.get(r["bin_idx"], 0) + r["n_tokens"]
    for b, load in loads.items():
        members = [r for r in got.values() if r["bin_idx"] == b]
        if len(members) > 1:
            assert load <= cap
