"""performance.json flatten — reference `makeJsonFields`
(logsender.py:288-329; goldens tests/test_logsender.py:1052-1168).

Exact semantics replicated:
  * services: key `service_<name>_memorycurrent`; non-int or
    > 2^63-1 -> value 0 (int64 overflow guard, logsender.py:295-301);
  * db: key `db_<db>_<op.lower()>`; non-int count -> entry DROPPED
    (asymmetry with services is reference behavior);
  * api: key `api_<service>_<verb.lower()>`; non-int -> DROPPED;
    'service'/'log' members are not verbs;
  * report.hostname carried through.

Dynamic key names become rows of a (key, value) MAP — Spark schemas
are fixed, so the reference's data-dependent column names
(`service_*_memorycurrent`, ...) map to an exploded key column
(SURVEY.md §1.2).

try_cast encodes the isinstance(int) check: JSON strings like
"[not set]" and values beyond int64 both fail the cast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PERF_SCHEMA = (
    "STRUCT<"
    "services: ARRAY<STRUCT<service: STRING, MemoryCurrent: STRING>>, "
    "db: ARRAY<STRUCT<db: STRING, op: STRING, count: STRING>>, "
    "api: ARRAY<STRUCT<service: STRING, log: STRING, GET: STRING, POST: STRING>>, "
    "report: STRUCT<timestamp: STRING, hostname: STRING>>"
)

API_VERBS = ("GET", "POST")

_I64_MAX = 9223372036854775807
_I64_MIN = -9223372036854775808


def _try_long(c: Column) -> Column:
    """try_cast(string -> bigint): NULL for non-numeric strings and
    for values outside int64 (the reference's isinstance(int) +
    overflow checks, logsender.py:295-301).

    try_cast (not cast) is load-bearing: under Spark 4's default
    ANSI mode a plain cast of the planted '"[not set]"' guard value
    throws CAST_INVALID_INPUT instead of yielding NULL.
    """
    d = c.try_cast("decimal(38,0)")
    return F.when(
        (d >= F.lit(_I64_MIN)) & (d <= F.lit(_I64_MAX)), d.try_cast("long")
    )


def flatten_perf_json(df: DataFrame) -> DataFrame:
    """(conv_id, perf_json) -> exploded (conv_id, hostname, key, value).

    One from_json + array transforms + a single explode — all
    Catalyst; no shuffle (per-row work only).
    """
    p = F.from_json(F.col("perf_json"), PERF_SCHEMA)

    svc = F.transform(
        F.coalesce(p["services"], F.array()),
        lambda s: F.struct(
            F.concat(
                F.lit("service_"), s["service"], F.lit("_memorycurrent")
            ).alias("key"),
            # non-int / overflow -> 0 (services keep the entry)
            F.coalesce(_try_long(s["MemoryCurrent"]), F.lit(0)).alias(
                "value"
            ),
        ),
    )
    db = F.filter(
        F.transform(
            F.coalesce(p["db"], F.array()),
            lambda d: F.struct(
                F.concat(
                    F.lit("db_"), d["db"], F.lit("_"), F.lower(d["op"])
                ).alias("key"),
                _try_long(d["count"]).alias("value"),
            ),
        ),
        lambda e: e["value"].isNotNull(),  # non-int -> dropped
    )
    def _api_for(verb):
        # NB: a one-arg lambda is required — pyspark maps a second
        # (defaulted) parameter to the array index
        return F.filter(
            F.transform(
                F.coalesce(p["api"], F.array()),
                lambda a: F.struct(
                    F.concat(
                        F.lit("api_"), a["service"], F.lit("_" + verb.lower())
                    ).alias("key"),
                    _try_long(a[verb]).alias("value"),
                ),
            ),
            lambda e: e["value"].isNotNull(),
        )

    api_entries = [_api_for(verb) for verb in API_VERBS]
    entries = F.concat(svc, db, *api_entries)
    return (
        df.select(
            "conv_id",
            p["report"]["hostname"].alias("hostname"),
            F.explode(entries).alias("e"),
        )
        .select("conv_id", "hostname", F.col("e.key").alias("key"), F.col("e.value").alias("value"))
    )
