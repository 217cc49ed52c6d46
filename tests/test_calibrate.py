"""Exact isotonic calibration (operators/calibrate.py): the minimax
closed form must equal a pure-Python weighted PAVA reference in
exact Fraction arithmetic (floored to micro), restore monotonicity
on planted violators, and leave already-monotone rates alone."""

from fractions import Fraction

from ci_log_processing_spark.operators.calibrate import (
    CALIBRATION_BINS,
    reliability_isotonic,
)


def _pava(ns, ps):
    """Weighted PAVA over bins (n_i, pos_i) -> exact Fraction fits."""
    blocks = [[n, p] for n, p in zip(ns, ps)]  # [weight, positives]
    out_idx = [[i] for i in range(len(ns))]
    i = 0
    while i < len(blocks) - 1:
        a, b = blocks[i], blocks[i + 1]
        if Fraction(a[1], a[0]) > Fraction(b[1], b[0]):
            blocks[i] = [a[0] + b[0], a[1] + b[1]]
            out_idx[i] = out_idx[i] + out_idx[i + 1]
            del blocks[i + 1], out_idx[i + 1]
            if i > 0:
                i -= 1
        else:
            i += 1
    fit = {}
    for blk, idxs in zip(blocks, out_idx):
        for j in idxs:
            fit[j] = Fraction(blk[1], blk[0])
    return [fit[j] for j in range(len(ns))]


def _scored(spark, per_bin):
    """per_bin: list of (n, pos) — builds rows with score == bin
    index so the 8-wide span maps bins 1:1."""
    rows = []
    doc = 0
    for s, (n, pos) in enumerate(per_bin):
        for j in range(n):
            rows.append((doc, s, 1 if j < pos else 0))
            doc += 1
    return spark.createDataFrame(
        rows, "doc_id long, score_bits long, label int"
    )


PLANTED = [(10, 1), (10, 6), (10, 4), (10, 2), (10, 8), (10, 7),
           (10, 9), (10, 10)]


def test_iso_equals_pava_reference(spark):
    df = _scored(spark, PLANTED)
    got = {
        r["bin"]: r
        for r in reliability_isotonic(df).collect()
    }
    want = _pava([n for n, _ in PLANTED], [p for _, p in PLANTED])
    assert sorted(got) == list(range(8))
    for i, frac in enumerate(want):
        assert got[i]["iso_micro"] == (10**6 * frac.numerator) // frac.denominator
        assert got[i]["rate_micro"] == (10**6 * PLANTED[i][1]) // PLANTED[i][0]
        assert got[i]["n"] == PLANTED[i][0] and got[i]["pos"] == PLANTED[i][1]
    # monotone non-decreasing
    fits = [got[i]["iso_micro"] for i in range(8)]
    assert fits == sorted(fits)
    # the violator runs pooled: bins 1-3 share one level, 4-5 too
    assert fits[1] == fits[2] == fits[3] == 400000
    assert fits[4] == fits[5] == 750000


def test_iso_identity_when_already_monotone(spark):
    mono = [(10, 0), (10, 2), (10, 5), (10, 9)]
    got = reliability_isotonic(_scored(spark, mono)).collect()
    for r in got:
        assert r["iso_micro"] == r["rate_micro"]


def test_score_lo_edges_and_empty_bins(spark):
    # scores 0 and 9, 8 bins -> span 10, width 1.25: docs land in
    # bins 0 and 7 only; empty bins are absent, edges exact
    assert CALIBRATION_BINS == 8
    rows = [(1, 0, 0), (2, 0, 1), (3, 9, 1)]
    df = spark.createDataFrame(rows, "doc_id long, score_bits long, label int")
    got = {r["bin"]: r for r in reliability_isotonic(df).collect()}
    assert sorted(got) == [0, 7]
    assert got[0]["score_lo"] == 0
    # bin 7 starts at ceil(7*10/8) = 9
    assert got[7]["score_lo"] == 9
    assert got[0]["iso_micro"] == 500000 and got[7]["iso_micro"] == 1000000
