"""Sink DDL seam (sinks.TableSink) — create_indices analog
(logsender.py:563-618)."""

import datetime as dt

import pytest

from ci_log_processing_spark.sinks import (
    NO_DICTIONARY_COLUMNS,
    IcebergTableSink,
    ParquetDirSink,
    commit_batch,
    fanout_rows,
)

TS_COLUMNS = ("event_ts", "filled_ts")


def _routed(spark):
    """A few convs of routed turns (one without metadata, so several
    sinks get files); messages are distinct, roles repeat."""
    from ci_log_processing_spark.plans.pipeline import full_pipeline

    t0 = dt.datetime(2024, 1, 1, 23, 50)
    rows = [
        (
            f"c{c}",
            i,
            ("user", "assistant", "tool")[i % 3],
            f"{t0 + dt.timedelta(seconds=37 * i + c)} | "
            f"{('INFO', 'ERROR')[i % 5 == 0]} step {c}-{i} done",
            None,
            t0 + dt.timedelta(seconds=37 * i + c),
        )
        for c in range(3)
        for i in range(40)
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    meta = spark.createDataFrame([("c0",), ("c1",)], "conv_id string")
    return full_pipeline(t, spark, meta=meta)


def _parquet_files(root):
    return sorted(
        str(p) for p in root.rglob("*.parquet") if not p.name.startswith(".")
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
    # the DDL columns must equal what commit_batch actually writes,
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


def test_sink_file_layout(spark, tmp_path):
    """The fan-out writes timestamps as INT64 microseconds (Iceberg's
    timestamptz), not INT96, and writes the near-unique columns
    without a dictionary while low-cardinality ones keep theirs."""
    import json

    import pyarrow.parquet as pq

    # parquet-mr silently ignores `parquet.enable.dictionary#<col>`
    # for a name that is no column: a rename would lose the saving
    names = {n for n, _t in IcebergTableSink.COLUMNS}
    assert set(NO_DICTIONARY_COLUMNS) <= names

    commit_batch(_routed(spark), str(tmp_path), "b1")
    files = _parquet_files(tmp_path / "sinks")
    assert len(files) > 1
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.schema.column(i).path: i for i in range(md.num_columns)
        }
        for c in TS_COLUMNS:
            sc = md.schema.column(cols[c])
            assert sc.physical_type == "INT64", (f, c)
            lt = json.loads(sc.logical_type.to_json())
            assert lt["Type"] == "Timestamp", (f, c, lt)
            assert lt["timeUnit"] == "microseconds", (f, c, lt)
            assert lt["isAdjustedToUTC"] is True, (f, c, lt)
        for rg in range(md.num_row_groups):
            chunk = md.row_group(rg).column
            for c in NO_DICTIONARY_COLUMNS:
                cc = chunk(cols[c])
                assert not cc.has_dictionary_page, (f, c)
                assert not any("DICTIONARY" in e for e in cc.encodings), (
                    f, c, cc.encodings,
                )
            role = chunk(cols["role"])
            assert role.has_dictionary_page, (f, role.encodings)


def test_commit_batch_names_phases_and_restores_group(spark, tmp_path):
    """The commit runs each phase under its own job group, and the
    caller's group is back in place afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    phases = ("fanout", "agg_hourly", "metrics", "manifest")
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in phases}
    sc.setJobGroup("caller", "the caller's group")
    try:
        got = commit_batch(_routed(spark), str(tmp_path), "b1")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert got["n"] == 120
    for g in phases:
        assert set(tracker.getJobIdsForGroup(g)) - before[g], g


def test_mixed_timestamp_generations_read_back_equal(spark, tmp_path):
    """A table holding files from before the INT64 switch (INT96) and
    after it reads back the same values in Spark and, through the
    benchmark check's own `read_parquet` call, in DuckDB."""
    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from perfbench.check import _sinks_rel

    routed = _routed(spark).cache()
    out = tmp_path / "out"
    path = str(out / "sinks")
    key = "spark.sql.parquet.outputTimestampType"
    current = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        commit_batch(routed, str(out), "old")
    finally:
        spark.conf.set(key, current)
    commit_batch(routed, str(out), "new")
    routed.unpersist()

    physical = {
        pq.ParquetFile(f).schema_arrow.field("filled_ts").type.tz is None
        for f in _parquet_files(out / "sinks")
    }
    assert physical == {True, False}  # INT96 -> naive, INT64 UTC -> tz

    back = spark.read.parquet(path)
    old, new = (
        back.filter(F.col("batch_id") == b).drop("batch_id")
        for b in ("old", "new")
    )
    assert old.count() == new.count() == 120
    assert old.exceptAll(new).isEmpty() and new.exceptAll(old).isEmpty()
    spark_rows = sorted(
        tuple(r)
        for r in new.select(
            "conv_id", "turn_idx", *(F.unix_micros(c) for c in TS_COLUMNS)
        ).collect()
    )

    con = duckdb.connect()
    try:
        duck_rows = {}
        for b in ("old", "new"):
            duck_rows[b] = sorted(
                con.execute(
                    f"SELECT conv_id, turn_idx, "
                    f"epoch_us(event_ts), epoch_us(filled_ts) "
                    f"FROM {_sinks_rel(str(out))} "
                    f"WHERE CAST(batch_id AS VARCHAR) = '{b}'"
                ).fetchall()
            )
    finally:
        con.close()
    assert duck_rows["old"] == duck_rows["new"] == spark_rows
