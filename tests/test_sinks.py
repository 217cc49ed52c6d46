"""Sink DDL seam (sinks.TableSink) — create_indices analog
(logsender.py:563-618)."""

import datetime as dt

import pytest

from ci_log_processing_spark.sinks import (
    IcebergTableSink,
    ParquetDirSink,
    fanout_rows,
)


def test_parquet_dir_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("c1", "errors", dt.date(2024, 1, 1), "m1"),
            ("c2", "agent_turns", dt.date(2024, 1, 2), "m2"),
        ],
        "conv_id string, sink string, event_date date, message string",
    )
    s = ParquetDirSink(str(tmp_path / "sinks"))
    s.ensure(spark)  # idempotent no-op
    s.append(df)
    s.append(df)  # append mode: second batch adds, never overwrites
    back = spark.read.parquet(str(tmp_path / "sinks"))
    assert back.count() == 4
    # hive layout: files track (sink x date)
    assert sorted(
        r["sink"] for r in back.select("sink").distinct().collect()
    ) == ["agent_turns", "errors"]


def test_iceberg_ddl_golden():
    ddl = IcebergTableSink("logs.agent_turns").ddl()
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS logs.agent_turns")
    assert "USING iceberg" in ddl
    # daily partitions replace the reference's daily index names
    assert "PARTITIONED BY (sink, days(event_date))" in ddl


def test_iceberg_ddl_matches_job_schema(spark):
    # the DDL columns must equal what append_fanout actually writes,
    # or the Iceberg path fails on its first real write
    import datetime as dt

    from ci_log_processing_spark.plans.pipeline import full_pipeline

    t = spark.createDataFrame(
        [("c1", 0, "assistant", "2024-01-01 00:00:00.5 | INFO x", None,
          dt.datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    meta = spark.createDataFrame([("c1",)], "conv_id string")
    routed = full_pipeline(t, spark, meta=meta)
    # full_pipeline's columns in its order (a new pipeline column must
    # be added to the DDL), minus the raw line and routing scratch
    expected = [
        c for c in routed.columns if c not in ("text", "ts", "prior_ts_count")
    ] + ["src_partition", "batch_id", "event_date"]
    assert [n for n, _t in IcebergTableSink.COLUMNS] == expected
    rows = fanout_rows(routed, "b")
    assert [
        (f.name, f.dataType.simpleString().upper()) for f in rows.schema
    ] == list(IcebergTableSink.COLUMNS)


def test_iceberg_unavailable_raises_with_ddl(spark):
    s = IcebergTableSink("logs.agent_turns")
    if IcebergTableSink.available(spark):  # pragma: no cover
        pytest.skip("iceberg configured in this environment")
    with pytest.raises(NotImplementedError) as e:
        s.ensure(spark)
    assert "CREATE TABLE IF NOT EXISTS" in str(e.value)
