"""Constant-lookup enrichment.

Reference analogs:
  * file->(name, tags) suffix lookup with identity default on miss
    (`get_file_info`, logsender.py:375-381; golden
    tests/test_logsender.py:1199-1217) -> tool->category/tags map;
  * per-build constant fields copied onto every line (`makeFields`
    logsender.py:252-285, build_queue default NONE at :270)
    -> role->pipeline map.

Both lookups are tiny constant dimensions, so each is a literal
`create_map` probed inside the row's projection: no join, no
exchange, no dimension table rebuilt per call. (The data-sized
conv-metadata presence flag is a broadcast join in
plans/pipeline.py.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# role -> pipeline (build_queue analog, default NONE like
# makeFields' build_queue default, logsender.py:270)
ROLE_PIPELINE: dict[str, str] = {
    "user": "ingest",
    "assistant": "check",
    "system": "control",
    "tool": "gate",
}

# tool -> (category, extra tags); miss -> identity (tool, [tool]),
# mirroring get_file_info's (basename, [basename]) default.
TOOL_CATEGORY: dict[str, tuple[str, list[str]]] = {
    "bash": ("shell", ["exec"]),
    "search": ("retrieval", ["query"]),
    "python": ("code", ["exec"]),
    "performance.json": ("perf", ["report"]),
    "testrepository.subunit": ("test", ["results"]),
}


def _lookup(mapping: dict) -> Column:
    """A constant dimension as a literal map column: the lookup is a
    codegen'd hash probe inside the row's projection, no join."""
    return F.create_map(*(F.lit(x) for kv in mapping.items() for x in kv))


def enrichment_cols() -> dict[str, Column]:
    """pipeline, category, tags as literal map lookups over role/tool.

    Miss semantics:
      * unknown role -> pipeline 'NONE';
      * unknown tool -> category = tool itself, tags = [tool]
        (reference identity default, logsender.py:381);
      * null tool   -> category NULL, tags [].
    Tags are emitted sorted for determinism (the reference's
    list(set(...)) ordering is nondeterministic — SURVEY.md §4).
    """
    role, tool = F.col("role"), F.col("tool")
    pipeline = _lookup(ROLE_PIPELINE)[role]
    category = _lookup({t: c for t, (c, _) in TOOL_CATEGORY.items()})[tool]
    cat_tags = _lookup(
        {t: F.array(*map(F.lit, x)) for t, (_, x) in TOOL_CATEGORY.items()}
    )[tool]
    no_tags = F.array().cast("array<string>")
    tags = F.array_union(F.coalesce(cat_tags, no_tags), F.array(tool))
    return {
        "pipeline": F.coalesce(pipeline, F.lit("NONE")),
        "category": F.coalesce(category, tool),
        "tags": F.when(tool.isNull(), no_tags).otherwise(F.array_sort(tags)),
    }


def with_enrichment(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Add pipeline, category, tags (enrichment_cols). `spark` is
    unused."""
    return df.withColumns(enrichment_cols())


# ---- J1: ordered suffix-match lookup (get_file_info parity) ----------

# (suffix, tags) entries in priority order — the reference scans its
# download-list config linearly and the FIRST entry whose name is a
# suffix of the file path wins (`get_file_info`, logsender.py:375-381;
# golden tests/test_logsender.py:1199-1217). Our domain analog keys on
# the dotted subsystem module path instead of a file path.
SUBSYSTEM_TAG_CONFIG: list[tuple[str, list[str]]] = [
    ("agent.l3", ["network", "routing"]),
    ("compute.manager", ["compute"]),
    ("keystone.auth", ["identity"]),
    ("volume.driver", ["storage"]),
    ("l3", ["network"]),  # shadowed by agent.l3 for agent modules
]


def suffix_tag_cols(subsystem: F.Column) -> tuple[F.Column, F.Column]:
    """(file_name, file_tags) columns with the reference's exact
    lookup semantics, first-match-wins over the config order.

    A tiny ordered config is a linear scan in the reference; the
    Spark-first translation is a single CASE expression — pure
    codegen, zero shuffle, zero join. (A large config would instead
    explode dot-suffix candidates and broadcast-join them with a
    min-by(config order) reduction; the CASE is strictly better at
    dimension sizes like this, exactly as a broadcast join beats a
    shuffle join for small dims.)

    Semantics (two DELIBERATE deviations from get_file_info, which
    the tag goldens don't exercise):
      * name  = last dot segment of the subsystem (basename analog).
        The reference instead returns the matched config entry's
        FULL name on a hit (golden expects
        'logs/undercloud/var/log/extra/logstash.txt'); our domain
        key is a dotted module path, where the basename is the
        stable identity — documented, not parity.
      * match = first config entry whose key is a DOT-ALIGNED
        suffix; the reference uses plain str.endswith. Dot alignment
        prevents 'l3' matching 'foo.xl3' — tag parity holds for
        every dotted-module input.
      * tags  = config tags + [name] on match, [name] on miss
        (exact reference tag semantics, golden
        tests/test_logsender.py:1199-1217);
      * null subsystem -> (NULL, []).
    """
    name = F.element_at(F.split(subsystem, r"\."), -1)
    chain = None
    # WHEN order == config priority order
    for key, ktags in SUBSYSTEM_TAG_CONFIG:
        hit = (subsystem == key) | subsystem.endswith("." + key)
        matched = F.concat(
            F.array(*[F.lit(x) for x in ktags]), F.array(name)
        )
        chain = (
            F.when(hit, matched) if chain is None else chain.when(hit, matched)
        )
    file_tags = F.when(
        subsystem.isNull(), F.array().cast("array<string>")
    ).otherwise(chain.otherwise(F.array(name)))
    return name, file_tags


def with_file_tags(df: DataFrame) -> DataFrame:
    name, tags = suffix_tag_cols(F.col("subsystem"))
    return df.withColumn("file_name", name).withColumn("file_tags", tags)


def scd2_intervals(updates: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 build: turn an update STREAM
    (key, ts, state) into validity INTERVALS (key, state, valid_from,
    valid_to, version, is_current) — valid_to = the next update's ts,
    NULL while current. The dimension-table shape the as-of join
    (operators/asof.py) queries pointwise; building the intervals
    once lets a warehouse join on `ts >= valid_from AND (ts <
    valid_to OR valid_to IS NULL)` instead of re-running the as-of
    window per fact scan.

    Scale shape: ONE key-keyed window (lead + row_number share the
    (key ORDER BY ts, seq) sort). Ties on ts break by the monotone
    seq — deterministic in both engines.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("cfg_ts", "cfg_seq")
    return updates.select(
        "conv_id",
        F.col("cfg_state").alias("state"),
        F.col("cfg_ts").alias("valid_from"),
        F.lead(F.col("cfg_ts")).over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead(F.col("cfg_ts")).over(w).isNull().alias("is_current"),
    )
