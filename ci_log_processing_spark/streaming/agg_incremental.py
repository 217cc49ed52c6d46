"""Streaming rollup maintenance: exact per-key counts kept as
batch-scoped MERGEABLE PARTIALS, folded on read — merge_agg_deltas
(operators/aggregate.py) lifted to the stream tier.

The reference recomputes its monitoring gauges from scratch every
scraper pass (logscraper.py:295-304); the streaming statement of
"aggregates as state" is: each micro-batch writes ITS OWN partial
aggregate to `agg/b<batch_id>/` in OVERWRITE mode, and the served
rollup is the monoid fold of all partials. Nothing is ever updated
in place, so there is no read-modify-write race and no transactional
table requirement.

Replay safety (foreachBatch is at-least-once): a replayed batch
recomputes the identical partial — the file source's checkpointed
offsets pin its input set — and the overwrite REPLACES the previous
attempt's directory instead of double-counting beside it. This is
the batch-addressed partial contract of streaming/partials.py,
shared with ingest_curate.py, with one simplification: a partial
aggregate has no cross-batch read dependency at write time
(contrast the dedup index), so there is nothing to exclude on
replay.

Scale shape per batch: one partial-aggregated count shuffle whose
volume is the batch's distinct keys. The fold on read is
merge_agg_deltas' union + re-agg over PARTIAL-sized inputs — cost
grows with (batches x keys), never with row volume, and a periodic
compaction (rewrite all partials as one) bounds the batch count;
`compact_partials` below is that maintenance op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import parse_transcripts
from .follow import TRANSCRIPT_SCHEMA
from .partials import (
    drain,
    hadoop_fs,
    list_partials,
    read_partials,
    write_partial,
)

_KEYS = ["severity", "window_start"]
_PARTIAL_SCHEMA = "severity string, window_start timestamp, cnt long"


def _partial(df: DataFrame) -> DataFrame:
    return (
        parse_transcripts(df)
        .groupBy(
            "severity",
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def read_rollup(spark: SparkSession, agg_dir: str) -> DataFrame:
    """The served rollup: fold every batch partial through the
    monoid merge. Union of partial-sized inputs + one group-keyed
    exchange — never touches row-level data."""
    parts = read_partials(spark, agg_dir, _PARTIAL_SCHEMA)
    return parts.groupBy(*_KEYS).agg(F.sum("cnt").alias("cnt"))


def compact_partials(spark: SparkSession, agg_dir: str) -> None:
    """Rewrite all batch partials as a single partial (directory
    `b_compact`), then remove the inputs — bounds the fold width.
    Written first, deleted after: a crash between the two steps
    leaves double-counted partials visible, so production would run
    this under a metastore swap (the checkpoint.py expire pattern);
    here it documents the maintenance shape."""
    merged = read_rollup(spark, agg_dir).collect()
    old = [
        p for p in list_partials(spark, agg_dir)
        if not p.endswith("/b_compact")
    ]
    spark.createDataFrame(merged, _PARTIAL_SCHEMA).write.mode(
        "overwrite"
    ).parquet(os.path.join(agg_dir, "b_compact"))
    fs, Path = hadoop_fs(spark, agg_dir)
    for p in old:
        fs.delete(Path(p), True)


def run_agg_maintenance(
    spark: SparkSession,
    transcripts_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain `transcripts_dir` (availableNow); each micro-batch
    writes its hourly severity partial to <out>/agg/b<batch_id>.
    Returns the folded rollup — which must equal the flat batch
    aggregate over the same input (the gate's oracle)."""
    agg_dir = os.path.join(out_dir, "agg")

    def _process(batch: DataFrame, batch_id: int) -> None:
        write_partial(_partial(batch), agg_dir, batch_id)

    drain(
        spark,
        TRANSCRIPT_SCHEMA,
        transcripts_dir,
        os.path.join(out_dir, "chk"),
        _process,
        max_files_per_trigger,
    )
    return read_rollup(spark, agg_dir)
