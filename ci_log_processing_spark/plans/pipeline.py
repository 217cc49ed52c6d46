"""End-to-end parse -> enrich -> route -> aggregate plan.

One DataFrame DAG replacing the reference's hand-fused generator
pipeline (logsender.py `send` lifecycle, SURVEY.md §3.1):

  read -> parse (ts cascade + grok) -> forward-fill window ->
  enrich (literal map lookups) -> route (disjoint CASE) ->
  one fan-out write (sinks.append_fanout) + grouped aggregates

`impl` selects the parse engine:
  * 'native' — pure Catalyst expressions (whole-stage codegen,
    fastest; the 100 TB default);
  * 'pandas' — one Arrow-vectorized pandas UDF (the north-star
    grok path; same results, exercised by tests for parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grok import (
    PARSED_SCHEMA,
    make_grok_udf,
    pid_col,
    program_col,
    severity_col,
    subsystem_col,
)
from ..functions.message import message_col
from ..functions.timestamps import ts_cascade_col
from ..operators.enrich import enrichment_cols
from ..operators.ffill import filled_ts_col, prior_ts_count_col
from ..operators.route import route_cols, with_route
from ..operators.skew import repartition_by_conv

DEFAULT_BATCH_TS = "2024-01-01 00:00:00"
DEFAULT_REF_YEAR = 2024


def parse_cols(
    ref_year: int = DEFAULT_REF_YEAR, impl: str = "native"
) -> list[dict[str, Column]]:
    """parse_transcripts' columns, one dict per dependency level (a
    level only reads columns of the input or of earlier levels). The
    pandas path adds a `_p` struct that `_with_parse` drops."""
    text = F.col("text")
    if impl == "pandas":
        p = F.col("_p")
        return [
            {"_p": make_grok_udf(ref_year)(text)},
            {f: p[f] for f in PARSED_SCHEMA.fieldNames()},
        ]
    message = F.col("message")
    return [
        {
            "event_ts": ts_cascade_col(text, ref_year),
            "message": message_col(text),
        },
        {
            "severity": severity_col(message),
            "subsystem": subsystem_col(message),
            "program": program_col(text),
            "pid": pid_col(text),
        },
    ]


def _with_parse(df: DataFrame, levels: list[dict[str, Column]]) -> DataFrame:
    for level in levels:
        df = df.withColumns(level)
    return df.drop("_p") if "_p" in levels[0] else df


def parse_transcripts(
    df: DataFrame,
    ref_year: int = DEFAULT_REF_YEAR,
    impl: str = "native",
) -> DataFrame:
    """Add event_ts, message, severity, subsystem, program, pid
    (the oslofmt grok field set incl. syslog_program/syslog_pid,
    openstack-filters.conf:49)."""
    return _with_parse(df, parse_cols(ref_year, impl))


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

    Columns hold JVM references: build a plan per session, never
    cache one across sessions.
    """

    def __init__(
        self,
        spark: SparkSession,
        batch_ts: str = DEFAULT_BATCH_TS,
        ref_year: int = DEFAULT_REF_YEAR,
        skip_debug: bool = True,
        impl: str = "native",
        repartition: bool = True,
        meta: DataFrame | None = None,
    ):
        self.spark = spark
        self.partitions = (
            int(spark.conf.get("spark.sql.shuffle.partitions"))
            if repartition
            else None
        )
        self.parse = parse_cols(ref_year, impl)
        # both windows share one Window operator. Enrichment is a level
        # of its own, above the Window: in the same projection it would
        # be computed below the Window, and its array_sort (no codegen)
        # would split the parse stage from the window's sort
        self.windows = {
            "filled_ts": filled_ts_col(batch_ts),
            "prior_ts_count": prior_ts_count_col(),
        }
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
        self.route = route_cols(skip_debug, has_metadata)

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.partitions is not None:
            # parse must run BEHIND an exchange, not pipelined into
            # the file scan (file-split packing caps scan
            # parallelism); the ffill window reuses this exact
            # hash(conv_id) distribution so no second shuffle appears
            # (operators/skew.py).
            #
            # pandas caveat, measured and accepted: ArrowEvalPython
            # does not propagate its child's output partitioning, so
            # on the pandas path the window re-shuffles (3 exchanges
            # total vs native's 2). The alternative — parse before
            # the exchange — pins the Python workers to SCAN
            # parallelism, which file-split packing collapses
            # (measured 94 s vs 54 s at local[32] on 20M rows); the
            # extra exchange of narrow raw rows is the cheaper evil.
            df = repartition_by_conv(df, self.spark, self.partitions)
        out = (
            _with_parse(df, self.parse)
            .withColumns(self.windows)
            .withColumns(self.enrich)
        )
        if self.present is None:
            return with_route(out, self.route)
        out = out.join(self._present_hint, "conv_id", "left")
        return with_route(out, self.route).drop("_has_meta")


def full_pipeline(
    df: DataFrame,
    spark: SparkSession,
    batch_ts: str = DEFAULT_BATCH_TS,
    ref_year: int = DEFAULT_REF_YEAR,
    skip_debug: bool = True,
    impl: str = "native",
    repartition: bool = True,
    meta: DataFrame | None = None,
) -> DataFrame:
    """transcripts -> parsed/enriched/routed rows (pre-fan-out): a
    RoutingPlan built for and applied to `df` once."""
    return RoutingPlan(
        spark,
        batch_ts=batch_ts,
        ref_year=ref_year,
        skip_debug=skip_debug,
        impl=impl,
        repartition=repartition,
        meta=meta,
    )(df)
