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


def test_jsonl_shard_sink_roundtrip_and_order(spark, tmp_path):
    """JsonlShardSink: one text file per shard, lines in epoch
    order, JSON round-trips through spark.read.json equal to the
    source rows."""
    import glob
    import json as _json
    import os

    from ci_log_processing_spark.sinks import JsonlShardSink

    rows = [
        (i, i % 3, f"doc {i}", i * 10) for i in range(30)
    ]  # global_idx, shard, text, meta
    df = spark.createDataFrame(
        rows, "global_idx long, shard int, text string, meta long"
    )
    out = str(tmp_path / "jsonl")
    JsonlShardSink(out).append(df)
    # hive layout, ONE part file per shard
    for s in range(3):
        files = [
            f for f in glob.glob(os.path.join(out, f"shard={s}", "part-*"))
            if not f.endswith(".crc")
        ]
        assert len(files) == 1, files
        with open(files[0]) as fh:
            lines = [_json.loads(ln) for ln in fh]
        # epoch order inside the shard
        idxs = [ln["global_idx"] for ln in lines]
        assert idxs == sorted(idxs)
        assert all(ln["global_idx"] % 3 == s for ln in lines)
    back = spark.read.json(os.path.join(out, "shard=*"))
    assert back.count() == 30
    got = {
        (r["global_idx"], r["text"], r["meta"]) for r in back.collect()
    }
    assert got == {(i, f"doc {i}", i * 10) for i in range(30)}


def test_zorder_sink_prunes_both_dimensions(spark, tmp_path):
    """ZOrderSink: per-file bounding boxes must let a y-selective
    rectangle probe skip files that an x-sorted linear layout
    cannot skip at all."""
    import glob
    import os

    from ci_log_processing_spark.sinks import ZOrderSink
    from pyspark.sql import functions as F

    # 64x64 grid
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zpath = str(tmp_path / "zorder")
    ZOrderSink(zpath, "x", "y", n_files=16).append(df)
    lpath = str(tmp_path / "linear")
    (
        df.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.parquet(lpath)
    )

    def overlapping(path, x_lo, x_hi, y_lo, y_hi):
        n = 0
        files = [
            f for f in glob.glob(os.path.join(path, "part-*"))
            if f.endswith(".parquet")
        ]
        assert len(files) >= 8
        for f in files:
            st = (
                spark.read.parquet(f)
                .agg(
                    F.min("x"), F.max("x"), F.min("y"), F.max("y")
                )
                .collect()[0]
            )
            if not (st[1] < x_lo or st[0] > x_hi
                    or st[3] < y_lo or st[2] > y_hi):
                n += 1
        return n, len(files)

    # y-selective probe: all x, narrow y band
    zn, zf = overlapping(zpath, 0, 63, 8, 11)
    ln, lf = overlapping(lpath, 0, 63, 8, 11)
    # linear layout (sorted by x) cannot prune on y: reads everything
    assert ln == lf
    # z-order skips most files
    assert zn <= zf // 2
    # both layouts hold the same rows
    assert spark.read.parquet(zpath).count() == 64 * 64
    got = {
        (r["x"], r["y"]) for r in spark.read.parquet(zpath).collect()
    }
    assert got == {(i % 64, i // 64) for i in range(64 * 64)}
