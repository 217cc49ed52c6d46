"""PII scrub semantics: per-kind detection, redaction tokens,
non-overlap of the phone and SSN patterns, clean-doc passthrough."""

from ci_log_processing_spark.operators.pii import attach_pii, pii_scrub


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [
            (1, "write to bob.smith+x@corp.example.org today"),
            (2, "host 192.168.0.1 and 10.0.0.255 responded"),
            (3, "call 555-123-4567 or 555-987-6543"),
            (4, "ssn on file: 123-45-6789"),
            (5, "nothing sensitive here at all"),
        ],
        "doc_id long, pii_text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["redacted"]
    assert "bob.smith" not in out[1]["redacted"]
    assert out[2]["n_ipv4"] == 2
    assert out[2]["redacted"] == "host <IP> and <IP> responded"
    assert out[3]["n_phones"] == 2 and out[3]["n_ssns"] == 0
    assert out[4]["n_ssns"] == 1 and out[4]["n_phones"] == 0
    assert out[4]["redacted"] == "ssn on file: <SSN>"
    assert out[5]["n_pii"] == 0
    assert out[5]["redacted"] == "nothing sensitive here at all"


def test_pii_attach_plants_fixed_width_spans(spark):
    docs = spark.createDataFrame(
        [(i, "base text") for i in range(30)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in pii_scrub(attach_pii(docs)).collect()
    }
    # doc 0: email only (0%3==0; 0%4!=1; 0%5!=2; 0%7!=3)
    assert out[0]["n_emails"] == 1 and out[0]["n_pii"] == 1
    # doc 17: ip (17%4==1) + phone (17%5==2) + ssn (17%7==3)
    assert out[17]["n_ipv4"] == 1 and out[17]["n_ssns"] == 1
    assert out[17]["n_phones"] == 1
    assert out[17]["n_pii"] == 3
    # doc 19 falls in no modulus class — stays clean
    assert out[19]["n_pii"] == 0 and out[19]["redacted"] == "base text"


def test_pseudonymize_stable_joinable_and_null_safe(spark):
    from ci_log_processing_spark.operators.pii import pseudonymize

    a = spark.createDataFrame(
        [("u1", 1), ("u2", 2), (None, 3)], "uid string, x int"
    )
    b = spark.createDataFrame(
        [("u1", "alpha"), ("u3", "beta")], "uid string, y string"
    )
    pa = pseudonymize(a, ["uid"])
    pb = pseudonymize(b, ["uid"])
    rows = {r["x"]: r["uid"] for r in pa.collect()}
    # stable + format
    assert rows[1].startswith("p_") and len(rows[1]) == 18
    assert rows[1] != rows[2]
    assert rows[3] is None
    # joinability survives: same salt -> same token
    j = pa.join(pb, "uid").collect()
    assert len(j) == 1 and j[0]["y"] == "alpha"
    # salt rotation changes every token
    pa2 = {r["x"]: r["uid"] for r in pseudonymize(a, ["uid"], salt="p2").collect()}
    assert pa2[1] != rows[1]
    import pytest as _pt

    with _pt.raises(ValueError):
        pseudonymize(a, ["nope"])
