"""Sink DDL seam — the reference's index-creation layer
(`get_index`/`create_indices`, logsender.py:563-618: create the
date-suffixed OpenSearch index if absent, tolerate already-exists,
then bulk-append) abstracted so the SAME pipeline writes to either
a plain parquet directory (this sandbox) or an Iceberg catalog
table (production) without touching plan code.

Iceberg mapping (SURVEY.md §7):
  * index name `<prefix>YYYY.MM.DD`  -> one table partitioned by
    days(event_date) — daily partitions replace daily indices;
  * create-if-absent + exists-tolerance -> CREATE TABLE IF NOT EXISTS;
  * bulk append (helpers.bulk)        -> df.writeTo(table).append(),
    an atomic snapshot commit (upgrades the parquet-dir path's
    at-least-once to exactly-once).

IcebergTableSink emits real Spark SQL DDL and a writeTo append; it
requires the iceberg-spark-runtime jar + a configured catalog, which
this offline sandbox does not ship — `available()` reports that
honestly, and tests golden-check the generated DDL instead.

`commit_batch` is the one batch commit of the job and of follow mode:
the fan-out into the sink table, then `agg_hourly/`, `metrics/` and
the conv manifest `checkpoint/`. BucketedTableSink is not on that
path yet: it is the storage layer a conv_id-bucketed checkpoint
manifest would use, so the resume anti-join rides the job's conv
exchange instead of a broadcast.
"""

from __future__ import annotations

import abc
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.aggregate import append_hourly_agg
from .operators.checkpoint import write_checkpoint
from .operators.route import SINKS


class TableSink(abc.ABC):
    """Create-if-absent + append contract for one sink table."""

    @abc.abstractmethod
    def ensure(self, spark: SparkSession) -> None:
        """Create the table/DDL surface if absent (idempotent —
        get_index's exists-tolerance, logsender.py:575-589)."""

    @abc.abstractmethod
    def append(self, df: DataFrame) -> None:
        """Append a batch (helpers.bulk analog, logsender.py:481)."""


# sink columns whose values barely repeat within one file: a
# dictionary page costs more than it saves, so they are written
# plain. parquet-mr ignores a `#col` key that names no column, so a
# test pins these names to IcebergTableSink.COLUMNS.
NO_DICTIONARY_COLUMNS = ("message", "turn_idx")


class ParquetDirSink(TableSink):
    """Hive-layout parquet directory partitioned by
    (sink, event_date) — the sandbox stand-in for the Iceberg table.
    One write job covers all four logical sinks; files track
    (sink x date), not tasks x dates."""

    def __init__(self, path: str):
        self.path = path

    def ensure(self, spark: SparkSession) -> None:
        return None  # directory sinks materialize on first write

    def append(self, df: DataFrame) -> None:
        (
            df.write.mode("append")
            .options(
                **{
                    f"parquet.enable.dictionary#{c}": "false"
                    for c in NO_DICTIONARY_COLUMNS
                }
            )
            .partitionBy("sink", "event_date")
            .parquet(self.path)
        )


def fanout_rows(routed: DataFrame, batch_id: str) -> DataFrame:
    """The sink table's rows for one batch of `full_pipeline` output:
    exactly `IcebergTableSink.COLUMNS`, in that order.

    Sink docs keep `message`, not the raw line (the reference's ES
    documents likewise store the split message, doc_iter
    logsender.py:416-428); dropping text+ts cuts the fan-out exchange
    and file bytes ~40%. prior_ts_count is routing scratch, never a
    sink column."""
    return (
        routed.withColumn("src_partition", F.spark_partition_id())
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("event_date", F.to_date("filled_ts"))
        .select(*(n for n, _t in IcebergTableSink.COLUMNS))
    )


def observe_counts(rows: DataFrame) -> tuple[DataFrame, Observation]:
    """`rows` observed for its row count `n` and its per-sink counts,
    so the action that writes it also counts it."""
    obs = Observation("routed")
    return rows.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        *(F.count_if(F.col("sink") == s).alias(s) for s in SINKS),
    ), obs


# the job-group properties commit_batch sets per phase and restores
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
)


def commit_batch(routed: DataFrame, output_dir: str, batch_id: str) -> dict:
    """Commit one batch of `full_pipeline` output under `output_dir`,
    for the batch job and every follow micro-batch alike — the
    reference's one send_to_es pass per build, then its done mark
    (logsender.py:467-495, 550-560). Returns the counts (`n`, and one
    per sink) observed on the fan-out write.

    The fan-out is ONE write job into `sinks/` behind one exchange
    keyed on the table partition scheme (sink, event_date), so files
    track (sink x date), not tasks x dates. The exchange has one
    partition per core (defaultParallelism): left to AQE, a small
    batch coalesces to a single task that writes every (sink, date)
    file serially. Its narrow rows are persisted; when there are any,
    `agg_hourly/`, `metrics/` (rows and convs per src_partition and
    sink) and the conv manifest `checkpoint/` are appended from that
    cache — O(batch), never a re-read of the sink table's history.
    Each phase runs under its own job group (fanout, agg_hourly,
    metrics, manifest) so an event log tells them apart; the caller's
    group is restored afterwards."""
    spark = routed.sparkSession
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    rows = (
        fanout_rows(routed, batch_id)
        .repartition(sc.defaultParallelism, "sink", "event_date")
        .persist()
    )
    try:
        sc.setJobGroup("fanout", "sink fan-out write")
        observed, obs = observe_counts(rows)
        # sink DDL seam: a real Iceberg catalog slots in as
        # IcebergTableSink without touching the plan (create_indices
        # analog, logsender.py:563-618)
        table = ParquetDirSink(os.path.join(output_dir, "sinks"))
        table.ensure(spark)
        table.append(observed)
        got = obs.get
        if got["n"]:
            sc.setJobGroup("agg_hourly", "hourly aggregate append")
            append_hourly_agg(rows, output_dir, batch_id)
            # reference analog: Prometheus per-job gauges,
            # logscraper.py:295-304
            sc.setJobGroup("metrics", "lineage metrics append")
            rows.groupBy("src_partition", "sink").agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("conv_id").alias("convs"),
            ).withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(os.path.join(output_dir, "metrics"))
            sc.setJobGroup("manifest", "conv manifest append")
            write_checkpoint(rows, os.path.join(output_dir, "checkpoint"))
    finally:
        rows.unpersist()
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return got


class IcebergTableSink(TableSink):
    """Iceberg catalog table partitioned by (sink, days(event_date)).

    DDL parity with create_indices (logsender.py:563-618): daily
    partitions stand in for daily index names; IF NOT EXISTS stands
    in for the exists-tolerant create; snapshot-commit append stands
    in for the bulk send.
    """

    def __init__(self, table: str):
        self.table = table

    # exactly the columns commit_batch writes (full_pipeline output
    # minus text/ts/prior_ts_count, plus src_partition/batch_id/
    # event_date), in full_pipeline's order so the data files keep
    # their column layout — fanout_rows selects this list, and tests
    # assert it matches full_pipeline's schema so the two can never
    # drift
    COLUMNS = (
        ("conv_id", "STRING"),
        ("turn_idx", "INT"),
        ("role", "STRING"),
        ("tool", "STRING"),
        ("event_ts", "TIMESTAMP"),
        ("message", "STRING"),
        ("severity", "STRING"),
        ("subsystem", "STRING"),
        ("program", "STRING"),
        ("pid", "BIGINT"),
        ("filled_ts", "TIMESTAMP"),
        ("pipeline", "STRING"),
        ("category", "STRING"),
        ("tags", "ARRAY<STRING>"),
        ("sink", "STRING"),
        ("drop_reason", "STRING"),
        ("src_partition", "INT"),
        ("batch_id", "STRING"),
        ("event_date", "DATE"),
    )

    def ddl(self) -> str:
        cols = ", ".join(f"{n} {t}" for n, t in self.COLUMNS)
        return (
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols}) "
            "USING iceberg "
            "PARTITIONED BY (sink, days(event_date))"
        )

    @staticmethod
    def available(spark: SparkSession) -> bool:
        """True iff an iceberg catalog is on the classpath/config."""
        try:
            return (
                spark.conf.get(
                    "spark.sql.catalog.spark_catalog", None
                )
                is not None
            )
        except Exception:
            return False

    def ensure(self, spark: SparkSession) -> None:
        if not self.available(spark):
            raise NotImplementedError(
                "iceberg-spark-runtime is not on the classpath in this "
                "sandbox; DDL that would run: " + self.ddl()
            )
        spark.sql(self.ddl())

    def append(self, df: DataFrame) -> None:
        df.writeTo(self.table).append()


class BucketedTableSink(TableSink):
    """Warehouse table BUCKETED (and sorted) by a join key — the
    storage-side answer to the repeated large×large joins of the
    dedup/enrichment tier (documents ⋈ embeddings on doc_id, batch ⋈
    hash-index on content_hash): two tables co-bucketed on the same
    key with the same bucket count join bucket-to-bucket with ZERO
    exchange on either side, so ONE shuffle paid at write time is
    amortized across every subsequent join. sortBy additionally lets
    a single-file-per-bucket scan skip the sort-merge sort.

    Iceberg analog: `bucket(N, col)` partition transform +
    storage-partitioned joins; the sandbox implementation is a Spark
    datasource-parquet bucketed table (no Hive required). Create the
    owning database with an explicit LOCATION to keep warehouses out
    of the repo root.
    """

    def __init__(
        self,
        table: str,
        bucket_col: str,
        n_buckets: int = 64,
        db_location: str | None = None,
    ):
        if n_buckets < 1:
            raise ValueError("BucketedTableSink: n_buckets must be >= 1")
        self.table = table
        self.bucket_col = bucket_col
        self.n_buckets = n_buckets
        self.db_location = db_location

    def ensure(self, spark: SparkSession) -> None:
        db, _, _ = self.table.rpartition(".")
        if db:
            loc = (
                f" LOCATION '{self.db_location}'" if self.db_location else ""
            )
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")

    def append(self, df: DataFrame) -> None:
        (
            df.write.mode("append")
            .format("parquet")
            .bucketBy(self.n_buckets, self.bucket_col)
            .sortBy(self.bucket_col)
            .saveAsTable(self.table)
        )
