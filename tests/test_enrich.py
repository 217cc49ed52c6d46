"""Enrichment goldens — miss semantics mirror the
reference's get_file_info identity default (logsender.py:375-381;
golden tests/test_logsender.py:1199-1217)."""

import datetime

from ci_log_processing_spark.operators.enrich import with_enrichment


def test_enrichment(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "assistant", "x", None, t0),
        ("c1", 1, "tool", "x", "bash", t0),
        ("c1", 2, "tool", "x", "unknown-tool", t0),
        ("c1", 3, "mystery-role", "x", None, t0),
        ("c1", 4, None, "x", "search", t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    enriched = with_enrichment(df, spark)
    out = {r["turn_idx"]: r for r in enriched.collect()}
    assert out[0]["pipeline"] == "check"
    assert out[0]["category"] is None and out[0]["tags"] == []
    assert out[1]["pipeline"] == "gate"
    assert out[1]["category"] == "shell"
    assert out[1]["tags"] == ["bash", "exec"]  # sorted, deduped
    # miss -> identity default (tool, [tool])
    assert out[2]["category"] == "unknown-tool"
    assert out[2]["tags"] == ["unknown-tool"]
    # unknown role -> NONE (makeFields build_queue default)
    assert out[3]["pipeline"] == "NONE"
    # null role -> NONE too; a known tool still enriches
    assert out[4]["pipeline"] == "NONE"
    assert out[4]["category"] == "retrieval"
    assert out[4]["tags"] == ["query", "search"]
    # constant lookups are expressions: no join, no exchange
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_suffix_tag_lookup_first_match_wins(spark):
    """J1 parity: ordered config, first suffix match wins, identity
    default on miss (get_file_info, logsender.py:375-381; golden
    tests/test_logsender.py:1199-1217)."""
    from pyspark.sql import functions as F

    from ci_log_processing_spark.operators.enrich import with_file_tags

    df = spark.createDataFrame(
        [
            ("neutron.agent.l3",),   # matches agent.l3 BEFORE bare l3
            ("edge.l3",),            # falls through to bare l3
            ("nova.compute.manager",),
            ("unknown.module",),     # miss -> [basename]
            (None,),                 # null -> []
        ],
        "subsystem string",
    )
    got = {
        r["subsystem"]: (r["file_name"], r["file_tags"])
        for r in with_file_tags(df).collect()
    }
    assert got["neutron.agent.l3"] == ("l3", ["network", "routing", "l3"])
    assert got["edge.l3"] == ("l3", ["network", "l3"])
    assert got["nova.compute.manager"] == (
        "manager", ["compute", "manager"]
    )
    assert got["unknown.module"] == ("module", ["module"])
    assert got[None] == (None, [])
