"""End-to-end parse -> enrich -> route -> aggregate plan.

One DataFrame DAG replacing the reference's hand-fused generator
pipeline (logsender.py `send` lifecycle, SURVEY.md §3.1):

  read -> parse (ts cascade + grok) -> forward-fill window ->
  enrich (literal map lookups) -> route (disjoint CASE) ->
  one fan-out write (sinks.append_fanout) + grouped aggregates

`impl` selects where severity and subsystem come from; the
timestamp cascade, message split and program/pid are Catalyst
expressions in both:
  * 'native' — Catalyst regexp_extract (whole-stage codegen,
    fastest; the 100 TB default);
  * 'pandas' — one Arrow-vectorized pandas UDF over `message` (the
    north-star grok path; same results, exercised by tests for
    parity).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grok import (
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


def parse_cols(ref_year: int, impl: str) -> list[dict[str, Column]]:
    """parse_transcripts' columns, one dict per dependency level (a
    level only reads columns of the input or of earlier levels).
    Yearless timestamps get `ref_year`. The pandas engine stages the
    message in `_m` and the UDF struct in `_g`, which `_with_parse`
    drops, so that its output keeps its column order (severity and
    subsystem before message)."""
    text = F.col("text")
    ts = ts_cascade_col(text, ref_year)
    syslog = {"program": program_col(text), "pid": pid_col(text)}
    if impl == "pandas":
        m, g = F.col("_m"), F.col("_g")
        return [
            {"event_ts": ts, "_m": message_col(text)},
            {"_g": make_grok_udf()(m)},
            {"severity": g["severity"], "subsystem": g["subsystem"],
             "message": m, **syslog},
        ]
    message = F.col("message")
    return [
        {"event_ts": ts, "message": message_col(text)},
        {
            "severity": severity_col(message),
            "subsystem": subsystem_col(message),
            **syslog,
        },
    ]


def _with_parse(df: DataFrame, levels: list[dict[str, Column]]) -> DataFrame:
    for level in levels:
        df = df.withColumns(level)
    return df.drop("_m", "_g") if "_g" in levels[1] else df


def parse_transcripts(df: DataFrame, impl: str = "native") -> DataFrame:
    """Add event_ts, message, severity, subsystem, program, pid
    (the oslofmt grok field set incl. syslog_program/syslog_pid,
    openstack-filters.conf:49); yearless timestamps get
    DEFAULT_REF_YEAR."""
    return _with_parse(df, parse_cols(DEFAULT_REF_YEAR, impl))


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
        self.route = route_cols(has_metadata)

    def __call__(self, df: DataFrame) -> DataFrame:
        # parse must run BEHIND an exchange, not pipelined into the
        # file scan (file-split packing caps scan parallelism); the
        # ffill window reuses this exact hash(conv_id) distribution so
        # no second shuffle appears (operators/skew.py).
        #
        # pandas caveat, measured and accepted: ArrowEvalPython does
        # not propagate its child's output partitioning, so on the
        # pandas path the window re-shuffles (3 exchanges total vs
        # native's 2). The alternative — parse before the exchange —
        # pins the Python workers to SCAN parallelism, which
        # file-split packing collapses (measured 94 s vs 54 s at
        # local[32] on 20M rows); the extra exchange of narrow raw
        # rows is the cheaper evil.
        df = repartition_by_conv(df, self.spark)
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
