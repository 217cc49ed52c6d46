"""Conversation-metadata normalization — the reference's
makeZuulCapability + makeFields pair (logsender.py:220-285).

The reference tolerates two API generations: `project`, `ref`,
`buildset` arrive as dicts (new Zuul) or scalars (old). Its golden
test demands identical parsed_fields from both
(tests/test_logsender.py:1035-1050). Spark translation: parse the
raw JSON TWICE with the two shapes' schemas (from_json yields NULL
on shape mismatch instead of failing) and F.coalesce field-wise —
the declarative analog of dict-or-scalar branching.

Field semantics from makeFields (logsender.py:252-285):
  build_node  constant 'zuul-executor'
  voting      bool -> int
  build_set   str(buildset) default 'NONE'
  build_queue pipeline default 'NONE'
  build_change int-as-string, '' when absent (the reference's
              int-or-'' mixed type pinned to STRING)
  change_url  falls back to ref_url (makeZuulCapability:246-248)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NEW_SCHEMA = (
    "STRUCT<project: STRUCT<name: STRING>, "
    "ref: STRUCT<branch: STRING, change: STRING, patchset: STRING>, "
    "buildset: STRUCT<uuid: STRING>, "
    "pipeline: STRING, voting: BOOLEAN, change_url: STRING, ref_url: STRING>"
)
OLD_SCHEMA = (
    "STRUCT<project: STRING, branch: STRING, change: STRING, "
    "patchset: STRING, buildset: STRING, pipeline: STRING, "
    "voting: BOOLEAN, change_url: STRING, ref_url: STRING>"
)


def normalize_meta(df: DataFrame) -> DataFrame:
    new = F.from_json(F.col("meta_json"), NEW_SCHEMA)
    old = F.from_json(F.col("meta_json"), OLD_SCHEMA)
    change = F.coalesce(new["ref"]["change"], old["change"])
    return df.select(
        "conv_id",
        F.lit("zuul-executor").alias("build_node"),
        F.coalesce(new["project"]["name"], old["project"]).alias("project"),
        F.coalesce(new["voting"], old["voting"])
        .cast("int")
        .alias("voting"),
        F.coalesce(
            new["buildset"]["uuid"], old["buildset"], F.lit("NONE")
        ).alias("build_set"),
        F.coalesce(new["pipeline"], old["pipeline"], F.lit("NONE")).alias(
            "build_queue"
        ),
        F.coalesce(new["ref"]["branch"], old["branch"]).alias("build_branch"),
        # int(change) if change else '' — pinned to string type.
        # try_cast: the reference tolerates arbitrary API garbage in
        # `change`; a plain cast would throw under default ANSI mode.
        F.coalesce(change.try_cast("long").cast("string"), F.lit("")).alias(
            "build_change"
        ),
        F.coalesce(new["ref"]["patchset"], old["patchset"]).alias(
            "build_patchset"
        ),
        F.lit("local").alias("node_provider"),
        F.coalesce(
            new["change_url"], old["change_url"], old["ref_url"], new["ref_url"]
        ).alias("change_url"),
    )


def json_schema_profile(events: DataFrame) -> DataFrame:
    """Schema-on-read audit of a free-form JSON column: per
    (group, key), how many records carry the key, how many of its
    values LOOK integer / float / boolean (lexical classes on the
    stringified value, so both engines classify identically), and
    how many distinct values it takes. The profiling pass that runs
    before anyone writes an extraction schema against a telemetry
    payload — the props analog of the perf-JSON flatten's fixed
    schema (functions/perf_json.py), for when the schema is not yet
    known.

    Scale shape: from_json to map<string,string> + explode is a
    zero-shuffle projection (per-record fan-out = the record's own
    key count); one (group, key)-keyed partial+final aggregate onto
    the schema-cardinality-sized result. The count(distinct value)
    expand rides the same exchange.

    Output: (group, key, n_records, n_int, n_float, n_bool,
    n_distinct_values).
    """
    kv = events.select(
        F.col("event_type").alias("grp"),
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "val"),
    )
    is_int = F.col("val").rlike(r"^-?[0-9]+$")
    is_float = F.col("val").rlike(r"^-?[0-9]+\.[0-9]+$")
    is_bool = F.col("val").isin("true", "false")
    return (
        kv.select(
            "grp",
            "key",
            "val",
            is_int.cast("long").alias("_i"),
            is_float.cast("long").alias("_f"),
            is_bool.cast("long").alias("_b"),
        )
        .groupBy("grp", "key")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("_i").alias("n_int"),
            F.sum("_f").alias("n_float"),
            F.sum("_b").alias("n_bool"),
            F.countDistinct("val").alias("n_distinct_values"),
        )
        .withColumnRenamed("grp", "event_type")
    )
