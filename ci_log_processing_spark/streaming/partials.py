"""Batch-addressed partials: how the streaming tier lays out, writes
and lists a micro-batch's output.

The reference's at-least-once unit is a batch that is redone whole
until it succeeds (remove-dir-on-success, logsender.py:550-560). The
streaming tier recasts that as batch-addressed partials: micro-batch
k OVERWRITES `<root>/b<k>/`, and readers fold every partial. A
replayed batch (foreachBatch is at-least-once; the file source's
checkpointed offsets give the replay the identical file set)
replaces its earlier attempt instead of landing beside it.

Replay rule for a batch that READS what earlier batches wrote (a
dedup index, a bridge state): read `before=batch_id`, i.e. only the
`b<j>` with j < batch_id. That hides the batch's own crashed attempt
and, after a full replay with a fresh checkpoint, every later batch's
output too — so the replay sees exactly the pre-batch state and
re-derives the identical partial.

Layout: one `b<k>` directory per micro-batch, and nothing else is a
partial. There is no compaction, so a fold reads one partial per
batch so far; a crash-safe compaction belongs to the batch commit
that promotes a batch's output before the stream commits it. Every
listing goes through the root's Hadoop FileSystem, so `file://`, HDFS
and object-store URIs behave like local paths.
"""

from __future__ import annotations

import os
import re
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..session import hadoop_fs

_BATCH_DIR = re.compile(r"b(\d+)")


def drain(
    spark: SparkSession,
    schema: str | StructType,
    src_dir: str,
    ckpt_dir: str,
    process: Callable[[DataFrame, int], None],
    max_files_per_trigger: int,
) -> StreamingQuery:
    """Run `process(batch_df, batch_id)` over the parquet files already
    in `src_dir` (availableNow: drain, then stop), at most
    `max_files_per_trigger` files per micro-batch, with progress
    checkpointed at `ckpt_dir`. Returns the terminated query."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_partial(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite micro-batch `batch_id`'s partial, `<root>/b<batch_id>`."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"b{batch_id}"))


def list_partials(
    spark: SparkSession, root: str, before: int | None = None
) -> list[str]:
    """Partial directories under `root` (Hadoop FS listing), in batch
    order: every `b<k>` directory, or with `before` only those with
    k < before. Empty when `root` does not exist."""
    fs, Path = hadoop_fs(spark, root)
    path = Path(root)
    if not fs.exists(path):
        return []
    found = []
    for st in fs.listStatus(path):
        m = _BATCH_DIR.fullmatch(st.getPath().getName())
        if not (st.isDirectory() and m):
            continue
        k = int(m.group(1))
        if before is None or k < before:
            found.append((k, st.getPath().toString()))
    return [p for _, p in sorted(found)]


def read_partials(
    spark: SparkSession,
    root: str,
    schema: str | StructType,
    before: int | None = None,
) -> DataFrame:
    """The union of the partials `list_partials` selects, read as
    `schema`; an empty frame of `schema` when there are none."""
    paths = list_partials(spark, root, before)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)
