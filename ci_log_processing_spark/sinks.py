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
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableSink(abc.ABC):
    """Create-if-absent + append contract for one sink table."""

    @abc.abstractmethod
    def ensure(self, spark: SparkSession) -> None:
        """Create the table/DDL surface if absent (idempotent —
        get_index's exists-tolerance, logsender.py:575-589)."""

    @abc.abstractmethod
    def append(self, df: DataFrame) -> None:
        """Append a batch (helpers.bulk analog, logsender.py:481)."""


class ParquetDirSink(TableSink):
    """Hive-layout parquet directory partitioned by
    (sink, event_date) — the sandbox stand-in for the Iceberg table.
    One write job covers all four logical sinks; files track
    (sink x date), not tasks x dates."""

    def __init__(self, path: str, partition_cols: tuple[str, ...] = ("sink", "event_date")):
        self.path = path
        self.partition_cols = tuple(partition_cols)

    def ensure(self, spark: SparkSession) -> None:
        return None  # directory sinks materialize on first write

    def append(self, df: DataFrame) -> None:
        (
            df.write.mode("append")
            .partitionBy(*self.partition_cols)
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


def append_fanout(routed: DataFrame, path: str, batch_id: str) -> None:
    """Route one batch into all four sinks in ONE write job — the
    reference's single pass per build (send_to_es,
    logsender.py:467-495), shared by the batch job and every follow
    micro-batch.

    One exchange keyed on the table partition scheme (sink,
    event_date), so files track (sink x date), not tasks x dates.
    The exchange has one partition per core (defaultParallelism):
    left to AQE, a small batch coalesces to a single task that writes
    every (sink, date) file serially."""
    spark = routed.sparkSession
    w = fanout_rows(routed, batch_id).repartition(
        spark.sparkContext.defaultParallelism, "sink", "event_date"
    )
    # sink DDL seam: a real Iceberg catalog slots in as
    # IcebergTableSink without touching the plan (create_indices
    # analog, logsender.py:563-618)
    table = ParquetDirSink(path)
    table.ensure(spark)
    table.append(w)


class IcebergTableSink(TableSink):
    """Iceberg catalog table partitioned by (sink, days(event_date)).

    DDL parity with create_indices (logsender.py:563-618): daily
    partitions stand in for daily index names; IF NOT EXISTS stands
    in for the exists-tolerant create; snapshot-commit append stands
    in for the bulk send.
    """

    def __init__(self, table: str):
        self.table = table

    # exactly the columns append_fanout writes (full_pipeline output
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


class TrainingShardSink(TableSink):
    """Fixed-shard training-data export: writes the output of
    curation (typically shuffle_index's (.., global_idx, shard)
    rows) as ONE file per shard, hive-partitioned by `shard`, rows
    inside each file in global_idx order — the layout a training
    dataloader consumes directly (open shard k, read sequentially =
    the epoch's data order).

    Scale shape: repartition on the shard column (one exchange —
    shard count is chosen as rows/shard_size, so partitions are
    uniform by construction) + sortWithinPartitions(global_idx); a
    1000-executor cluster writes all shards concurrently, one task
    per shard, no small-file explosion and no driver-side loop.
    """

    def __init__(self, path: str, order_col: str = "global_idx"):
        self.path = path
        self.order_col = order_col

    def ensure(self, spark: SparkSession) -> None:
        return None  # directory sinks materialize on first write

    def append(self, df: DataFrame) -> None:
        (
            df.repartition("shard")
            .sortWithinPartitions("shard", self.order_col)
            .write.mode("append")
            .partitionBy("shard")
            .parquet(self.path)
        )


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


class JsonlShardSink(TableSink):
    """Training-data export in the trainer interchange format: one
    .jsonl file per shard (a JSON object per line), rows inside each
    shard in epoch order — what every dataloader outside the Spark
    world (torch IterableDataset, HF datasets streaming) actually
    reads. The parquet TrainingShardSink keeps the lakehouse copy;
    this sink is the hand-off artifact.

    Mechanics: serialize each row once with to_json(struct(*)) on
    the JVM side (never Python), prefix the shard as a hive
    directory via partitionBy on the TEXT datasource, repartition
    on the shard column and sortWithinPartitions(order) — the exact
    TrainingShardSink plan, so the scale argument carries over
    verbatim: one exchange, one task per shard, no small files, no
    driver loop. JSON field order is the struct order (stable);
    line order inside a shard is the epoch order.
    """

    def __init__(self, path: str, order_col: str = "global_idx"):
        self.path = path
        self.order_col = order_col

    def ensure(self, spark: SparkSession) -> None:
        return None  # directory sinks materialize on first write

    def append(self, df: DataFrame) -> None:
        payload = [c for c in df.columns if c != "shard"]
        (
            df.repartition("shard")
            .sortWithinPartitions("shard", self.order_col)
            .select(
                "shard",
                F.to_json(F.struct(*payload)).alias("value"),
            )
            .write.mode("append")
            .partitionBy("shard")
            .text(self.path)
        )


class ZOrderSink(TableSink):
    """Z-order-clustered parquet writer — the layout
    zorder_layout_audit (operators/layout.py) quantifies, actually
    materialized: rows are range-partitioned by their Morton key
    and sorted by it inside each file, so every output file covers
    a tight bounding box in BOTH clustering dimensions and a
    rectangle predicate on either column skips most files via
    parquet row-group min/max stats (the Delta/Iceberg OPTIMIZE
    ZORDER BY effect, engine-side).

    Mechanics: one global min/max aggregate rescales both columns
    to `bits`-bit ranks (exact integer arithmetic, identical to the
    audit's), the Morton key is a static shift/and/or codegen tree,
    repartitionByRange(n_files, zkey) makes contiguous Z-ranges =
    files (range boundaries from Spark's reservoir sample — layout
    only, never values), and sortWithinPartitions(zkey) orders rows
    for row-group-level skipping inside each file. One exchange +
    per-partition sort; no global sort, no driver data.
    """

    def __init__(
        self,
        path: str,
        x_col: str,
        y_col: str,
        n_files: int = 16,
        bits: int = 16,
    ):
        self.path = path
        self.x_col = x_col
        self.y_col = y_col
        self.n_files = n_files
        self.bits = bits

    def ensure(self, spark: SparkSession) -> None:
        return None  # directory sinks materialize on first write

    def append(self, df: DataFrame) -> None:
        from .operators.layout import zorder_key

        x = F.col(self.x_col).cast("long")
        y = F.col(self.y_col).cast("long")
        bounds = df.agg(
            F.min(x).alias("_mnx"),
            F.max(x).alias("_mxx"),
            F.min(y).alias("_mny"),
            F.max(y).alias("_mxy"),
        )
        top = (1 << self.bits) - 1
        rx = F.expr(
            f"(({self.x_col} - _mnx) * {top})"
            " div greatest(_mxx - _mnx, 1)"
        ).cast("long")
        ry = F.expr(
            f"(({self.y_col} - _mny) * {top})"
            " div greatest(_mxy - _mny, 1)"
        ).cast("long")
        (
            df.crossJoin(F.broadcast(bounds))
            .withColumn("_zkey", zorder_key(rx, ry, self.bits))
            .drop("_mnx", "_mxx", "_mny", "_mxy")
            .repartitionByRange(self.n_files, F.col("_zkey"))
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
            .write.mode("append")
            .parquet(self.path)
        )
