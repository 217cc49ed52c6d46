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

from pyspark.sql import DataFrame, SparkSession
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
from ..operators.enrich import with_enrichment
from ..operators.ffill import with_filled_ts, with_prior_ts_count
from ..operators.route import with_sink

DEFAULT_BATCH_TS = "2024-01-01 00:00:00"
DEFAULT_REF_YEAR = 2024


def parse_transcripts(
    df: DataFrame,
    ref_year: int = DEFAULT_REF_YEAR,
    impl: str = "native",
) -> DataFrame:
    """Add event_ts, message, severity, subsystem, program, pid
    (the oslofmt grok field set incl. syslog_program/syslog_pid,
    openstack-filters.conf:49)."""
    if impl == "pandas":
        grok = make_grok_udf(ref_year)
        parsed = df.withColumn("_p", grok(F.col("text")))
        return parsed.select("*", "_p.*").drop("_p")
    return (
        df.withColumn("event_ts", ts_cascade_col(F.col("text"), ref_year))
        .withColumn("message", message_col(F.col("text")))
        .withColumn("severity", severity_col(F.col("message")))
        .withColumn("subsystem", subsystem_col(F.col("message")))
        .withColumn("program", program_col(F.col("text")))
        .withColumn("pid", pid_col(F.col("text")))
    )


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
    """transcripts -> parsed/enriched/routed rows (pre-fan-out).

    `meta` is the conv-level metadata table (convmeta input/output —
    only conv_id is consulted). When given, conversations ABSENT
    from it are routed to drop_queue with reason 'no_metadata' — the
    reference's missing buildinfo/inventory rule
    (logsender.py:136-141). The presence flag arrives via a
    broadcast left join (conv-level dim, tiny next to the turns
    table), so the fact side never shuffles for it.
    """
    if repartition:
        # parse must run BEHIND an exchange, not pipelined into the
        # file scan (file-split packing caps scan parallelism); the
        # ffill window reuses this exact hash(conv_id) distribution
        # so no second shuffle appears (operators/skew.py).
        #
        # pandas caveat, measured and accepted: ArrowEvalPython does
        # not propagate its child's output partitioning, so on the
        # pandas path the window re-shuffles (3 exchanges total vs
        # native's 2). The alternative — parse before the exchange —
        # pins the Python workers to SCAN parallelism, which
        # file-split packing collapses (measured 94 s vs 54 s at
        # local[32] on 20M rows); the extra exchange of narrow raw
        # rows is the cheaper evil.
        from ..operators.skew import repartition_by_conv

        df = repartition_by_conv(df, spark)
    out = parse_transcripts(df, ref_year=ref_year, impl=impl)
    out = with_filled_ts(out, batch_ts)
    out = with_prior_ts_count(out)
    out = with_enrichment(out, spark)
    if meta is not None:
        present = (
            meta.select("conv_id").distinct().withColumn("_has_meta", F.lit(True))
        )
        out = out.join(F.broadcast(present), "conv_id", "left")
        out = with_sink(
            out,
            skip_debug=skip_debug,
            has_metadata=F.coalesce(F.col("_has_meta"), F.lit(False)),
        ).drop("_has_meta")
    else:
        out = with_sink(out, skip_debug=skip_debug)
    return out
