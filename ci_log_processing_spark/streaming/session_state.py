"""Custom stateful streaming operator: per-conversation
sessionization with idle-timeout eviction via
`applyInPandasWithState`.

Reference analog (logsender.py:152-160, 193-196): a build dir
accumulates files across scraper passes; when it has been idle past
the threshold (12 h) it is evicted and acted on. Here each
conversation accumulates turns across micro-batches in the state
store; a conversation that receives no new turns within the
processing-time timeout is EVICTED — its final session summary row
is emitted with status 'evicted' and its state removed. While a conv
is live, every micro-batch emits a running 'active' summary (update
output mode).

Why applyInPandasWithState and not a windowed aggregate: the
eviction decision is about ABSENCE of input (idle time), which no
watermark/window expresses — it needs per-group state + timeouts,
exactly the GroupState contract. State per conv is three longs, so
state-store size is O(live conversations), independent of turn
volume — the property that keeps it viable at 10^12 turns.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .follow import TRANSCRIPT_SCHEMA

SESSION_OUTPUT_SCHEMA = (
    "conv_id string, turns long, first_us long, last_us long, status string"
)
SESSION_STATE_SCHEMA = "turns long, first_us long, last_us long"


def _sessionize(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        turns, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "conv_id": conv_id,
                    "turns": turns,
                    "first_us": first_us,
                    "last_us": last_us,
                    "status": "evicted",
                }
            ]
        )
        return
    turns = 0
    first_us = None
    last_us = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        turns += len(pdf)
        us = (pdf["ts"].astype("datetime64[us]").astype("int64"))
        mn, mx = int(us.min()), int(us.max())
        first_us = mn if first_us is None else min(first_us, mn)
        last_us = mx if last_us is None else max(last_us, mx)
    if state.exists:
        p_turns, p_first, p_last = state.get
        turns += p_turns
        first_us = p_first if first_us is None else min(first_us, p_first)
        last_us = p_last if last_us is None else max(last_us, p_last)
    state.update((turns, first_us, last_us))
    state.setTimeoutDuration(1)  # ms; idle past this -> evicted next batch
    yield pd.DataFrame(
        [
            {
                "conv_id": conv_id,
                "turns": turns,
                "first_us": first_us,
                "last_us": last_us,
                "status": "active",
            }
        ]
    )


def run_stateful_sessionize(
    spark: SparkSession,
    transcripts_dir: str,
    output_dir: str,
    max_files_per_trigger: int = 1,
    wait_evictions: int = 0,
    eviction_deadline_sec: float = 60.0,
):
    """Run the stateful sessionizer over a transcript directory and
    return the emitted rows read back from the sink.

    Idle-timeout eviction needs batches to keep running AFTER the
    data is drained (a timeout only fires in a later batch — exactly
    like the reference's next scraper pass noticing a stale dir), so
    this uses a continuous micro-batch trigger, drains all input with
    processAllAvailable(), then keeps the query alive until
    `wait_evictions` evicted rows have appeared (or the deadline
    passes) before stopping. availableNow is NOT suitable here: it
    has no defined stopping point once processing-time timeouts keep
    scheduling wake-up batches.
    """
    import time

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(transcripts_dir)
    )
    sessions = stream.groupBy("conv_id").applyInPandasWithState(
        _sessionize,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    sink = os.path.join(output_dir, "sessions")

    # parquet rejects update output mode; foreachBatch appends each
    # micro-batch's emitted (updated/evicted) rows instead
    def write_batch(batch_df, batch_id: int):
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(sink)

    # The state store keeps the shuffle partition count of the
    # query's first start for its whole life, and AQE never coalesces
    # a stateful stage, so start with one state partition per core
    # (3 convs at local[8] on 4 cores: 11 s per micro-batch with 32
    # partitions, 3.4-3.8 s with 8). start() clones the session, so
    # the conf is only needed around it.
    conf = spark.conf
    key = "spark.sql.shuffle.partitions"
    prev = conf.get(key)
    conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            sessions.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option(
                "checkpointLocation", os.path.join(output_dir, "_sess_ckpt")
            )
            .trigger(processingTime="100 milliseconds")
            .start()
        )
    finally:
        conf.set(key, prev)
    # NOTE: processAllAvailable() must NOT be used here — with
    # processing-time timeouts the stateful operator schedules
    # "no new data but cleaning up state" batches indefinitely and
    # processAllAvailable never returns. Instead poll: done when the
    # source is drained (a batch reported zero input rows) AND the
    # requested number of evictions has landed in the sink.
    try:
        deadline = time.time() + eviction_deadline_sec
        drained_empty_polls = 0
        while time.time() < deadline:
            lp = q.lastProgress
            drained = lp is not None and lp.get("numInputRows", -1) == 0
            if drained:
                try:
                    n = (
                        spark.read.parquet(sink)
                        .filter("status = 'evicted'")
                        .count()
                    )
                except Exception:
                    # sink never materialized: with a non-empty input
                    # the FIRST data batch writes 'active' rows, so a
                    # drained stream with no sink means the input was
                    # empty — stop instead of spinning to the deadline
                    drained_empty_polls += 1
                    if drained_empty_polls > 20:
                        break
                    n = None
                if n is not None and n >= wait_evictions:
                    break
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    try:
        return spark.read.parquet(sink)
    except Exception:  # empty input -> no batch ever wrote the sink
        return spark.createDataFrame([], SESSION_OUTPUT_SCHEMA)
