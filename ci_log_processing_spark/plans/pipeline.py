"""End-to-end parse -> enrich -> route -> aggregate plan.

One DataFrame DAG replacing the reference's hand-fused generator
pipeline (logsender.py `send` lifecycle, SURVEY.md §3.1):

  read -> parse (ts cascade, message, program/pid) -> forward-fill
  window -> grok (severity, subsystem) -> enrich (literal map
  lookups) -> route (disjoint CASE) ->
  one batch commit (sinks.commit_batch: fan-out write + aggregates)

`impl` selects only the grok level (functions/grok.grok_cols):
'native' Catalyst regexp_extract (the default), or 'arrow', one
Arrow UDF on pyarrow's RE2 kernels (the north-star UDF path). Every
other expression is Catalyst in both, and the results are the same.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grok import grok_cols, pid_col, program_col
from ..functions.message import message_col
from ..functions.timestamps import ts_cascade_col
from ..operators.enrich import enrichment_cols
from ..operators.ffill import filled_ts_col, prior_ts_count_col
from ..operators.route import route_cols, with_route
from ..operators.skew import repartition_by_conv

DEFAULT_BATCH_TS = "2024-01-01 00:00:00"
DEFAULT_REF_YEAR = datetime.datetime.fromisoformat(DEFAULT_BATCH_TS).year


def parse_cols(ref_year: int) -> dict[str, Column]:
    """The parse level, {event_ts, message, program, pid}: every
    column reads only `text`. Yearless timestamps get `ref_year`."""
    text = F.col("text")
    return {
        "event_ts": ts_cascade_col(text, ref_year),
        "message": message_col(text),
        "program": program_col(text),
        "pid": pid_col(text),
    }


def _with_grok(df: DataFrame, grok: dict[str, Column]) -> DataFrame:
    """`df` plus the grok level (grok_cols), with severity and
    subsystem placed right after message (the sink table's column
    order)."""
    cols = df.columns
    at = cols.index("message") + 1
    return df.withColumns(grok).select(*cols[:at], *grok, *cols[at:])


def parse_transcripts(df: DataFrame, impl: str = "native") -> DataFrame:
    """Add event_ts, message, severity, subsystem, program, pid
    (the oslofmt grok field set incl. syslog_program/syslog_pid,
    openstack-filters.conf:49); yearless timestamps get
    DEFAULT_REF_YEAR."""
    parsed = df.withColumns(parse_cols(DEFAULT_REF_YEAR))
    return _with_grok(parsed, grok_cols(F.col("message"), impl))


class RoutingPlan:
    """transcripts -> parsed/enriched/routed rows (pre-fan-out), with
    every parse, ffill, enrich and route expression and the
    meta-presence frame built once; call it on each frame to route.

    `meta` is the conv-level metadata table (convmeta input/output —
    only conv_id is consulted). When given, conversations ABSENT
    from it are routed to drop_queue with reason 'no_metadata' — the
    reference's missing buildinfo/inventory rule
    (logsender.py:136-141). The presence flag arrives via a
    broadcast left join of `present` (conv-level dim, tiny next to
    the turns table), so the fact side never shuffles for it. A
    caller routing many frames may persist `present` once.

    Yearless timestamps take the year of `batch_ts`, as the
    reference takes it from its clock (logsender.py:354-356).

    Columns hold JVM references: build a plan per session, never
    cache one across sessions.
    """

    def __init__(
        self,
        spark: SparkSession,
        batch_ts: str = DEFAULT_BATCH_TS,
        impl: str = "native",
        meta: DataFrame | None = None,
    ):
        self.spark = spark
        ref_year = datetime.datetime.fromisoformat(batch_ts).year
        self.parse = parse_cols(ref_year)
        # both windows share one Window operator. The grok and
        # enrichment levels come above the Window: nothing below the
        # route reads them, an Arrow UDF there would drop the conv
        # partitioning the Window needs (one more exchange), and
        # enrichment's array_sort (no codegen) in the parse projection
        # would split the parse stage from the window's sort
        self.windows = {
            "filled_ts": filled_ts_col(batch_ts),
            "prior_ts_count": prior_ts_count_col(),
        }
        self.grok = grok_cols(F.col("message"), impl)
        self.enrich = enrichment_cols()
        self.present = None
        has_metadata = None
        if meta is not None:
            self.present = (
                meta.select("conv_id")
                .distinct()
                .withColumn("_has_meta", F.lit(True))
            )
            self._present_hint = F.broadcast(self.present)
            has_metadata = F.coalesce(F.col("_has_meta"), F.lit(False))
        self.route = route_cols(has_metadata)

    def __call__(self, df: DataFrame) -> DataFrame:
        # parse must run BEHIND an exchange, not pipelined into the
        # file scan (file-split packing caps scan parallelism); the
        # ffill window reuses this exact hash(conv_id) distribution so
        # no second shuffle appears (operators/skew.py).
        df = repartition_by_conv(df, self.spark)
        windowed = df.withColumns(self.parse).withColumns(self.windows)
        out = _with_grok(windowed, self.grok).withColumns(self.enrich)
        if self.present is None:
            return with_route(out, self.route)
        out = out.join(self._present_hint, "conv_id", "left")
        return with_route(out, self.route).drop("_has_meta")


def full_pipeline(
    df: DataFrame,
    spark: SparkSession,
    batch_ts: str = DEFAULT_BATCH_TS,
    impl: str = "native",
    meta: DataFrame | None = None,
) -> DataFrame:
    """transcripts -> parsed/enriched/routed rows (pre-fan-out): a
    RoutingPlan built for and applied to `df` once."""
    return RoutingPlan(
        spark,
        batch_ts=batch_ts,
        impl=impl,
        meta=meta,
    )(df)
