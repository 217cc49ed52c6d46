"""Follow mode — the reference's polling micro-batch loop
(`--follow --wait-time`, logscraper.py:770-775 and
logsender.py:683-687: run(); sleep(wait)) as Structured Streaming.

Design: readStream over the transcripts table directory +
foreachBatch running the SAME batch pipeline per micro-batch.
foreachBatch (not a pure streaming DAG) because the forward-fill
window is conversation-ordered — inside a micro-batch the batch
planner handles it, mirroring the reference's treat-each-ready-dir-
as-a-unit semantics (a conversation's turns arrive together, the
way a build dir becomes "ready" all at once, logsender.py:175-198).

Trigger:
  * availableNow=True — drain what exists, then stop (the batch
    re-run analog; used in tests);
  * processingTime=Ns  — the literal --follow loop.

Once per stream (run_follow, before the first trigger): the
RoutingPlan — every parse, ffill, enrich and route expression — and
the meta-presence frame, persisted and materialized so each batch's
broadcast join reads the cache instead of rescanning, aggregating
and re-broadcasting the metadata table. The frame is released when
the query ends: after awaitTermination for availableNow, through a
query listener when a processingTime query stops or fails.

Once per micro-batch (process_batch), the batch job's own run:
filter_unprocessed against the conv manifest, the plan, and
sinks.commit_batch with batch_id = the micro-batch id. The reference's
--follow likewise re-runs run() (logsender.py:683-687).

Checkpointing: Spark's streaming checkpoint (file-source offsets
under `<out>/_stream_ckpt`) stops a file from being re-read, and the
conv manifest the job shares stops a conv from being emitted twice:
a conv that reappears in a new file, or that a job run over the same
output already committed, is skipped.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.checkpoint import filter_unprocessed
from ..plans.pipeline import DEFAULT_BATCH_TS, RoutingPlan
from ..sinks import commit_batch

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


class _ReleaseOnTermination(StreamingQueryListener):
    """Unpersists `frame` once query `q` stops or fails, then removes
    itself (a processingTime query outlives run_follow)."""

    def __init__(self, spark: SparkSession, q, frame: DataFrame):
        self.spark = spark
        self.run_id = str(q.runId)
        self.frame = frame
        self._lock = threading.Lock()
        spark.streams.addListener(self)
        if not q.isActive:  # terminated before the listener was added
            self.release()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        if str(event.runId) == self.run_id:
            self.release()

    def release(self):
        with self._lock:
            frame, self.frame = self.frame, None
        if frame is not None:
            frame.unpersist()
            self.spark.streams.removeListener(self)


def run_follow(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
    batch_ts: str = DEFAULT_BATCH_TS,
    processing_time: str | None = None,
    meta=None,
):
    """Stream the transcripts directory into the job's outputs.

    `meta` (conv-metadata DataFrame) enables the no_metadata drop
    rule exactly as in batch mode. Returns the StreamingQuery
    (already awaited when availableNow).
    """
    plan = RoutingPlan(spark, batch_ts=batch_ts, meta=meta)
    ckpt_dir = os.path.join(output_dir, "checkpoint")

    def process_batch(batch_df, batch_id: int):
        fresh, _ = filter_unprocessed(spark, batch_df, ckpt_dir)
        # the sink table's batch_id is a string
        commit_batch(plan(fresh), output_dir, str(batch_id))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # micro-batch size control
        .parquet(transcripts_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option(
            "checkpointLocation", os.path.join(output_dir, "_stream_ckpt")
        )
    )

    def start():
        if processing_time:
            return writer.trigger(processingTime=processing_time).start()
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q

    present = plan.present
    if present is None:
        return start()
    present.persist()
    present.count()  # materialized before the first trigger
    if not processing_time:
        try:
            return start()
        finally:
            present.unpersist()
    try:
        q = start()
    except BaseException:
        present.unpersist()
        raise
    _ReleaseOnTermination(spark, q, present)
    return q
