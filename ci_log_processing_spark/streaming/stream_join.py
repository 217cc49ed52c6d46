"""Watermarked STREAM-STREAM interval join — the "which config was
pushed shortly before this turn" lookup, streaming on BOTH sides.

Batch answers this with the as-of / range joins (operators/asof.py,
operators/rangejoin.py); when both inputs are live streams the same
question becomes a Structured Streaming stream-stream inner join
with (a) watermarks on both event times and (b) a bounded time-range
join condition. Spark derives the state retention from exactly those
two ingredients: a buffered right row can be dropped once the left
watermark passes cfg_ts + lookback, so state is bounded by
(arrival skew + lookback) x rate — never the stream length. That
state-bound is what makes the operator viable on an unbounded
10^12-turn firehose.

Inner-join matches are emitted as soon as both sides have arrived
(no watermark gating on emission — watermarks here only bound state
and late data), so with in-order delivery the emitted set equals the
batch join of the same inputs, which is exactly what the gate twin
checks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .follow import TRANSCRIPT_SCHEMA
from .watermark import _append_drain

CONFIG_SCHEMA = (
    "cfg_conv_id string, cfg_ts timestamp, cfg_state string, cfg_seq long"
)
# how far back, in seconds, a config update still joins a turn
LOOKBACK_SEC = 21600


def streaming_interval_join(
    spark: SparkSession,
    transcripts_dir: str,
    config_dir: str,
    output_dir: str,
) -> DataFrame:
    """Join each streamed turn to every streamed config update of the
    same conversation with cfg_ts in [ts - LOOKBACK_SEC, ts]
    (inclusive both ends), availableNow trigger, append sink."""
    left = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(transcripts_dir)
        .withWatermark("ts", "2 hours")
    )
    right = (
        spark.readStream.schema(CONFIG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(config_dir)
        .withWatermark("cfg_ts", "2 hours")
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            conv_id = cfg_conv_id AND
            cfg_ts >= ts - INTERVAL {LOOKBACK_SEC} SECOND AND
            cfg_ts <= ts
            """
        ),
        "inner",
    ).select("conv_id", "turn_idx", "cfg_seq", "cfg_state")
    return _append_drain(
        joined,
        os.path.join(output_dir, "interval_join"),
        os.path.join(output_dir, "_ssj_ckpt"),
        "conv_id string, turn_idx int, cfg_seq long, cfg_state string",
    )
