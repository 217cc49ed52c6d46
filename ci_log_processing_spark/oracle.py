"""DuckDB oracle SQL for every pipeline operator.

The driver runs each Spark query side-by-side with the SQL returned
here (on the same pre-registered parquet views) and compares
row-count + schema + order-insensitive value hashes. These strings
are therefore an INDEPENDENT re-implementation of the pipeline
semantics in ANSI-ish SQL — kept deliberately separate from the
DataFrame code under test.

Layout: small composable CTE builders; `pipeline_cte()` produces the
shared parse -> ffill -> enrich -> route prefix.
"""

from __future__ import annotations

from .functions.grok import (
    pid_sql_duckdb,
    program_sql_duckdb,
    severity_sql_duckdb,
    subsystem_sql_duckdb,
)
from .functions.message import message_sql_duckdb
from .functions.timestamps import ts_cascade_sql_duckdb
from .operators.enrich import ROLE_PIPELINE, TOOL_CATEGORY
from .operators.route import PREAMBLE_PREFIX
from .sources.transcripts import text_sql, transcripts_sql

BATCH_TS = "2024-01-01 00:00:00"
REF_YEAR = 2024


def _role_pipeline_values() -> str:
    rows = ", ".join(f"('{r}', '{p}')" for r, p in sorted(ROLE_PIPELINE.items()))
    return f"(VALUES {rows}) AS rp(role, pipeline)"


def _tool_category_values() -> str:
    rows = ", ".join(
        "('{t}', '{c}', [{tags}])".format(
            t=t, c=c, tags=", ".join(f"'{x}'" for x in tags)
        )
        for t, (c, tags) in sorted(TOOL_CATEGORY.items())
    )
    return f"(VALUES {rows}) AS tc(tool, category, cat_tags)"


def pipeline_cte(
    skip_debug: bool = True,
    transcripts_rel: str | None = None,
    meta_rel: str | None = None,
) -> str:
    """Shared WITH-prefix: transcripts -> parsed -> filled -> enriched
    -> routed. Ends with CTE name `routed`.

    By default transcripts/meta derive from the events view (the
    driver's gate). `transcripts_rel`/`meta_rel` substitute arbitrary
    relations instead — used by the randomized end-to-end fuzz test,
    where the input is NOT the derived table."""
    msg = message_sql_duckdb("text")
    sev = severity_sql_duckdb("message")
    sub = subsystem_sql_duckdb("message")
    ts = ts_cascade_sql_duckdb("text", REF_YEAR)

    debug_arm = (
        "WHEN text LIKE '%DEBUG%' THEN 'drop_queue'" if skip_debug else ""
    )
    debug_reason = (
        "WHEN text LIKE '%DEBUG%' THEN 'debug'" if skip_debug else ""
    )
    from .sources.derived import conv_meta_sql

    t_src = (
        f"SELECT * FROM {transcripts_rel}"
        if transcripts_rel
        else transcripts_sql("duckdb")
    )
    m_src = (
        f"SELECT conv_id FROM {meta_rel}"
        if meta_rel
        else conv_meta_sql("duckdb")
    )

    return f"""
WITH transcripts AS ({t_src}),
meta AS (SELECT DISTINCT conv_id FROM ({m_src})),
parsed AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         {ts} AS event_ts,
         {msg} AS message
  FROM transcripts
),
parsed2 AS (
  SELECT *, {sev} AS severity, {sub} AS subsystem,
         {program_sql_duckdb('text')} AS program,
         {pid_sql_duckdb('text')} AS pid
  FROM parsed
),
filled AS (
  SELECT *,
    coalesce(
      last_value(event_ts IGNORE NULLS) OVER (
        PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      TIMESTAMP '{BATCH_TS}') AS filled_ts,
    count(event_ts) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_ts_count
  FROM parsed2
),
enriched AS (
  SELECT f.*,
    coalesce(rp.pipeline, 'NONE') AS pipeline,
    CASE WHEN f.tool IS NULL THEN NULL
         ELSE coalesce(tc.category, f.tool) END AS category,
    CASE WHEN f.tool IS NULL THEN []::VARCHAR[]
         ELSE list_sort(list_distinct(
              coalesce(tc.cat_tags, []::VARCHAR[]) || [f.tool])) END AS tags,
    (m.conv_id IS NOT NULL) AS has_meta
  FROM filled f
  LEFT JOIN {_role_pipeline_values()} ON f.role = rp.role
  LEFT JOIN {_tool_category_values()} ON f.tool = tc.tool
  LEFT JOIN meta m ON f.conv_id = m.conv_id
),
routed AS (
  SELECT * EXCLUDE (has_meta),
    CASE
      WHEN NOT has_meta THEN 'drop_queue'
      WHEN starts_with(text, '{PREAMBLE_PREFIX}') AND prior_ts_count = 0
        THEN 'drop_queue'
      {debug_arm}
      WHEN length(message) = 0 THEN 'drop_queue'
      WHEN severity IN ('ERROR', 'CRITICAL') THEN 'errors'
      WHEN tool IS NOT NULL OR role = 'tool' THEN 'tool_calls'
      ELSE 'agent_turns'
    END AS sink,
    CASE
      WHEN NOT has_meta THEN 'no_metadata'
      WHEN starts_with(text, '{PREAMBLE_PREFIX}') AND prior_ts_count = 0
        THEN 'preamble'
      {debug_reason}
      WHEN length(message) = 0 THEN 'empty_message'
      ELSE NULL
    END AS drop_reason
  FROM enriched
)
"""


# --- per-query oracles -------------------------------------------------

PARSE_COLS = (
    "conv_id, turn_idx, event_ts, severity, subsystem, message, "
    "program, pid"
)


def q_parse() -> str:
    return pipeline_cte() + f"SELECT {PARSE_COLS} FROM parsed2"


def q_ffill() -> str:
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, event_ts, filled_ts FROM filled"
    )


def q_enrich() -> str:
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, role, tool, pipeline, category, "
        # DuckDB's array_to_string returns NULL for []; Spark's
        # concat_ws returns '' — normalize to Spark's behavior
        "coalesce(array_to_string(tags, ','), '') AS tags_str FROM enriched"
    )


def q_route() -> str:
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, sink, drop_reason FROM routed"
    )


def q_sink_counts() -> str:
    return pipeline_cte() + (
        "SELECT sink, count(*) AS cnt FROM routed GROUP BY sink"
    )


def q_sink_rows(sink: str) -> str:
    cols = (
        "conv_id, turn_idx, role, tool, event_ts, filled_ts, severity, "
        "subsystem, message, pipeline, category, drop_reason"
    )
    return pipeline_cte() + (
        f"SELECT {cols} FROM routed WHERE sink = '{sink}'"
    )


def q_agg_hourly() -> str:
    return pipeline_cte() + (
        "SELECT sink, severity, subsystem, "
        "date_trunc('hour', filled_ts) AS window_start, count(*) AS cnt "
        "FROM routed GROUP BY 1, 2, 3, 4"
    )


def q_agg_rollup() -> str:
    """rollup_hourly twin — DuckDB's own GROUP BY ROLLUP +
    GROUPING_ID (same bit order: leftmost column = highest bit)."""
    h = "date_trunc('hour', filled_ts)"
    return pipeline_cte() + (
        f"SELECT sink, severity, {h} AS window_start, "
        "count(*) AS cnt, "
        f"GROUPING_ID(sink, severity, {h}) AS grain "
        f"FROM routed GROUP BY ROLLUP(sink, severity, {h})"
    )


def q_pivot_severity() -> str:
    """severity_pivot_hourly twin — explicit FILTER counts, one per
    taxonomy value (the wide shape Spark's pivot emits)."""
    from .functions.grok import SEVERITIES

    cols = ", ".join(
        "count(*) FILTER (coalesce(severity, 'NONE') = "
        f"'{v}') AS n_{v.lower()}"
        for v in (*SEVERITIES, "NONE")
    )
    return pipeline_cte() + (
        "SELECT date_trunc('hour', filled_ts) AS window_start, "
        f"{cols} FROM routed GROUP BY 1"
    )


def q_conv_severity() -> str:
    return pipeline_cte() + (
        "SELECT conv_id, severity, count(*) AS cnt "
        "FROM routed GROUP BY 1, 2"
    )


def q_checkpoint_antijoin() -> str:
    # simulated checkpoint: conversations already processed =
    # those whose numeric suffix % 3 = 0 (deterministic)
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, sink FROM routed r "
        "WHERE NOT EXISTS (SELECT 1 FROM ("
        "  SELECT DISTINCT conv_id FROM routed "
        "  WHERE CAST(substr(conv_id, 6) AS INT) % 3 = 0) c "
        " WHERE c.conv_id = r.conv_id)"
    )


def q_jobs_semijoin() -> str:
    # requested ['search','bash','gearman-worker'] ∩ available
    # ['bash','python','search'] = {'search','bash'}
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, role, tool FROM transcripts t "
        "WHERE EXISTS (SELECT 1 FROM (VALUES ('search'), ('bash')) "
        "r(tool) WHERE r.tool = t.tool)"
    )


def q_dedup_messages() -> str:
    return pipeline_cte() + (
        "SELECT conv_id, count(DISTINCT message) AS distinct_messages "
        "FROM routed GROUP BY conv_id"
    )


def q_sessionize() -> str:
    """Multiline-traceback sessionization: continuation lines (no
    parseable ts) attach to the previous timestamped event — the
    legacy Logstash multiline filter semantics
    (openstack-filters.conf:25-43)."""
    return pipeline_cte() + (
        "SELECT conv_id, session_id, count(*) AS lines, "
        "min(turn_idx) AS first_turn, max(turn_idx) AS last_turn FROM ("
        "  SELECT conv_id, turn_idx, "
        "    count(event_ts) OVER (PARTITION BY conv_id ORDER BY turn_idx "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id"
        "  FROM filled) GROUP BY 1, 2"
    )


def q_sliding_window() -> str:
    """sliding_window_agg twin — every event is enumerated into its
    window/slide = 2 overlapping windows on the epoch-aligned slide
    grid (the same grid F.window uses), then plain grouped counts."""
    win, slide = 3600, 1800
    n_overlap = win // slide
    return pipeline_cte() + f"""
, expanded AS (
  SELECT sink,
         (CAST(floor(epoch(filled_ts) / {slide}) AS BIGINT) - off.o)
           * {slide} AS start_e
  FROM routed, (SELECT unnest(range({n_overlap})) AS o) off
  WHERE filled_ts IS NOT NULL
)
SELECT sink,
       TIMESTAMP '1970-01-01 00:00:00' + to_seconds(start_e)
         AS window_start,
       TIMESTAMP '1970-01-01 00:00:00' + to_seconds(start_e + {win})
         AS window_end,
       count(*) AS cnt
FROM expanded GROUP BY 1, 2, 3
"""


def q_session_window() -> str:
    """session_window_agg twin — classic gaps-and-islands: a new
    island starts when the gap to the previous event is STRICTLY
    greater than gap_sec (Spark merges an event landing exactly at
    the window end, verified empirically); session_end = last + gap."""
    gap = 1800
    return pipeline_cte() + f"""
, seq AS (
  SELECT conv_id, turn_idx, filled_ts,
         CASE WHEN filled_ts - lag(filled_ts) OVER w > INTERVAL {gap} SECOND
              THEN 1 ELSE 0 END AS new_sess
  FROM filled WHERE filled_ts IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY filled_ts, turn_idx)
),
isl AS (
  SELECT conv_id, turn_idx, filled_ts,
         sum(new_sess) OVER (PARTITION BY conv_id ORDER BY filled_ts, turn_idx
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
)
SELECT conv_id,
       min(filled_ts) AS session_start,
       max(filled_ts) + INTERVAL {gap} SECOND AS session_end,
       count(*) AS n_turns,
       min(turn_idx) AS first_turn,
       max(turn_idx) AS last_turn
FROM isl GROUP BY conv_id, sid
"""


def q_iso_format() -> str:
    from .functions.timestamps import iso_serialize_sql_duckdb as iso

    return pipeline_cte() + (
        f"SELECT conv_id, turn_idx, "
        f"{iso('event_ts')} AS iso_event_ts, "
        f"{iso('filled_ts')} AS iso_filled_ts FROM filled"
    )


def q_multiline() -> str:
    """Multiline traceback merge oracle (legacy Logstash multiline
    filter, openstack-filters.conf:11-43): continuation lines join
    the previous timestamped event; message = newline-joined group."""
    return pipeline_cte() + (
        "SELECT conv_id, session_id, min(turn_idx) AS anchor_turn, "
        "max(turn_idx) AS last_turn, count(*) AS n_lines, "
        "max(event_ts) AS event_ts, "
        "string_agg(message, chr(10) ORDER BY turn_idx) AS message FROM ("
        "  SELECT conv_id, turn_idx, event_ts, message, "
        "    count(event_ts) OVER (PARTITION BY conv_id ORDER BY turn_idx "
        "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id"
        "  FROM filled) GROUP BY 1, 2"
    )


def q_perf_flatten() -> str:
    from .sources.derived import perf_reports_sql

    svc = (
        "SELECT conv_id, hostname, "
        "concat('service_', json_extract_string(j, '$.services[{i}].service'), "
        "'_memorycurrent') AS key, "
        "coalesce(try_cast(json_extract_string(j, '$.services[{i}].MemoryCurrent') "
        "AS BIGINT), 0) AS value FROM base"
    )
    return f"""
WITH pr AS ({perf_reports_sql('duckdb')}),
base AS (
  SELECT conv_id, perf_json AS j,
         json_extract_string(perf_json, '$.report.hostname') AS hostname
  FROM pr
)
{svc.format(i=0)}
UNION ALL
{svc.format(i=1)}
UNION ALL
SELECT conv_id, hostname,
       concat('db_', json_extract_string(j, '$.db[0].db'), '_',
              lower(json_extract_string(j, '$.db[0].op'))) AS key,
       try_cast(json_extract_string(j, '$.db[0].count') AS BIGINT) AS value
FROM base
WHERE try_cast(json_extract_string(j, '$.db[0].count') AS BIGINT) IS NOT NULL
UNION ALL
SELECT conv_id, hostname,
       concat('api_', json_extract_string(j, '$.api[0].service'), '_get') AS key,
       try_cast(json_extract_string(j, '$.api[0].GET') AS BIGINT) AS value
FROM base
WHERE try_cast(json_extract_string(j, '$.api[0].GET') AS BIGINT) IS NOT NULL
UNION ALL
SELECT conv_id, hostname,
       concat('api_', json_extract_string(j, '$.api[0].service'), '_post') AS key,
       try_cast(json_extract_string(j, '$.api[0].POST') AS BIGINT) AS value
FROM base
WHERE try_cast(json_extract_string(j, '$.api[0].POST') AS BIGINT) IS NOT NULL
"""


def q_meta_normalize() -> str:
    from .sources.derived import conv_meta_sql

    new_or = (
        lambda new_path, old_path: (
            f"coalesce(json_extract_string(j, '{new_path}'), "
            f"json_extract_string(j, '{old_path}'))"
        )
    )
    change = new_or("$.ref.change", "$.change")
    return f"""
WITH cm AS ({conv_meta_sql('duckdb')}),
base AS (SELECT conv_id, meta_json AS j FROM cm)
SELECT conv_id,
  'zuul-executor' AS build_node,
  CASE WHEN json_type(j, '$.project') = 'OBJECT'
       THEN json_extract_string(j, '$.project.name')
       ELSE json_extract_string(j, '$.project') END AS project,
  CASE WHEN json_extract_string(j, '$.voting') = 'true' THEN 1 ELSE 0 END AS voting,
  coalesce(CASE WHEN json_type(j, '$.buildset') = 'OBJECT'
       THEN json_extract_string(j, '$.buildset.uuid')
       ELSE json_extract_string(j, '$.buildset') END, 'NONE') AS build_set,
  coalesce(json_extract_string(j, '$.pipeline'), 'NONE') AS build_queue,
  {new_or("$.ref.branch", "$.branch")} AS build_branch,
  coalesce(CAST(try_cast({change} AS BIGINT) AS VARCHAR), '') AS build_change,
  {new_or("$.ref.patchset", "$.patchset")} AS build_patchset,
  'local' AS node_provider,
  coalesce(json_extract_string(j, '$.change_url'),
           json_extract_string(j, '$.ref_url')) AS change_url
FROM base
"""


def q_subunit() -> str:
    from .sources.derived import subunit_results_sql

    return f"""
WITH su AS ({subunit_results_sql('duckdb')}),
d AS (
  SELECT *, date_diff('microsecond', start_ts, end_ts) AS us FROM su
)
SELECT conv_id, test_name,
       CAST(concat(CAST(us // 1000000 AS VARCHAR), '.',
                   CAST(us % 1000000 AS VARCHAR)) AS DOUBLE) AS test_duration,
       test_status,
       strftime(start_ts, '%Y-%m-%dT%H:%M:%SZ') AS timestamp_str
FROM d
"""


def q_ts_formats() -> str:
    """Per line-class parse coverage (the timestamp-format table test
    as a query). Standalone CTE chain keeping event_id so the class
    is recoverable."""
    ts = ts_cascade_sql_duckdb("text", REF_YEAR)
    return f"""
WITH e AS (
  SELECT CAST(event_id % 12 AS INT) AS line_class,
         {text_sql('duckdb')} AS text
  FROM events
),
p AS (SELECT line_class, {ts} AS event_ts FROM e)
SELECT line_class, count(event_ts) AS parsed_cnt, count(*) AS total_cnt,
       min(event_ts) AS min_ts, max(event_ts) AS max_ts
FROM p GROUP BY 1
"""


def q_stream_follow() -> str:
    """Streaming follow loop must equal batch routing on the same
    conv subset (user_id % 29 == 1)."""
    return pipeline_cte() + (
        "SELECT conv_id, turn_idx, sink, drop_reason FROM routed "
        "WHERE CAST(substr(conv_id, 6) AS INT) % 29 = 1"
    )


def q_stream_session_evictions() -> str:
    """Stateful sessionizer's final evicted summaries: per-conv turn
    count and first/last event micros over the same deterministic
    subset (user_id % 50 == 1)."""
    return pipeline_cte() + (
        "SELECT conv_id, count(*) AS turns, "
        "min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us "
        "FROM transcripts WHERE CAST(substr(conv_id, 6) AS INT) % 50 = 1 "
        "GROUP BY conv_id"
    )


def q_stream_watermark_agg() -> str:
    """Watermarked append-mode hourly severity counts (streaming/
    watermark.py) over the conv subset user_id % 23 == 1: the gate
    query streams the subset as ONE file, so no row is ever late and
    the final watermark is max(ts) - 2 h — the emitted set is exactly
    the finalized windows (window_end <= watermark) of the batch
    aggregate, which is what this SQL computes."""
    return pipeline_cte() + (
        "SELECT date_trunc('hour', ts) AS window_start, "
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end, "
        "severity, count(*) AS cnt "
        "FROM parsed2 "
        "WHERE CAST(substr(conv_id, 6) AS INT) % 23 = 1 "
        "AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= ("
        "  SELECT max(ts) - INTERVAL 2 HOUR FROM transcripts"
        "  WHERE CAST(substr(conv_id, 6) AS INT) % 23 = 1) "
        "GROUP BY 1, 2, 3"
    )


def q_stream_session_window() -> str:
    """streaming_session_counts twin — gaps-and-islands sessions over
    the RAW transcript ts of the conv subset user_id % 23 == 2,
    keeping only sessions finalized by the final watermark
    (session_end <= max(ts) - 2 h; boundary inclusive, verified
    empirically against F.session_window's append-mode emission)."""
    gap = 1800
    return pipeline_cte() + """
, sub AS (
  SELECT conv_id, turn_idx, ts FROM transcripts
  WHERE CAST(substr(conv_id, 6) AS INT) % 23 = 2
),
seq AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL {gap} SECOND
              THEN 1 ELSE 0 END AS new_sess
  FROM sub
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
isl AS (
  SELECT conv_id, turn_idx, ts,
         sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
),
sess AS (
  SELECT conv_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL {gap} SECOND AS session_end,
         count(*) AS n_turns,
         min(turn_idx) AS first_turn,
         max(turn_idx) AS last_turn
  FROM isl GROUP BY conv_id, sid
)
SELECT * FROM sess
WHERE session_end <= (SELECT max(ts) - INTERVAL 2 HOUR FROM sub)
""".replace("{gap}", str(gap))


def q_file_tags() -> str:
    """J1 ordered suffix-match lookup oracle (get_file_info parity,
    logsender.py:375-381) — same CASE chain, DuckDB dialect."""
    from .operators.enrich import SUBSYSTEM_TAG_CONFIG

    arms = []
    for key, ktags in SUBSYSTEM_TAG_CONFIG:
        taglist = ", ".join(f"'{t}'" for t in ktags)
        arms.append(
            f"WHEN subsystem = '{key}' OR subsystem LIKE '%.{key}' "
            f"THEN [{taglist}] || [fname]"
        )
    case = "\n      ".join(arms)
    return (
        pipeline_cte()
        + f""",
named AS (
  SELECT conv_id, turn_idx, subsystem,
         list_extract(string_split(subsystem, '.'), -1) AS fname
  FROM parsed2
)
SELECT conv_id, turn_idx, fname AS file_name,
  CASE WHEN subsystem IS NULL THEN ''
  ELSE array_to_string(
    CASE
      {case}
      ELSE [fname]
    END, ',') END AS tags_str
FROM named
"""
    )


def q_asof_state() -> str:
    """As-of join twin — DuckDB's NATIVE `ASOF LEFT JOIN` (backward,
    exact matches included), so the union+window plan in
    operators/asof.py is checked against an entirely different
    evaluation strategy. Same deterministic max-seq pre-dedup of
    right rows sharing (conv_id, ts)."""
    from .sources.derived import config_updates_sql

    return f"""
WITH t AS ({transcripts_sql('duckdb')}),
cfg0 AS ({config_updates_sql('duckdb')}),
cfg AS (
  SELECT conv_id, cfg_ts, arg_max(cfg_state, cfg_seq) AS cfg_state
  FROM cfg0 GROUP BY conv_id, cfg_ts
)
SELECT t.conv_id, t.turn_idx,
       coalesce(cfg.cfg_state, '') AS cfg_state
FROM t ASOF LEFT JOIN cfg
  ON t.conv_id = cfg.conv_id AND t.ts >= cfg.cfg_ts
"""


def q_range_join_incidents() -> str:
    """Range join twin — the plain inequality join DuckDB can afford
    at oracle scale; the Spark side must produce the identical match
    set through the binned equi-join plan."""
    from .sources.derived import incident_windows_sql

    return f"""
WITH t AS ({transcripts_sql('duckdb')}),
inc AS ({incident_windows_sql('duckdb')})
SELECT t.conv_id, t.turn_idx, inc.incident_id
FROM t JOIN inc
  ON t.conv_id = inc.conv_id
 AND t.ts >= inc.start_ts AND t.ts <= inc.end_ts
"""


def q_stream_interval_join() -> str:
    """streaming_interval_join twin — the plain batch interval join
    of the same two conv subsets (inner stream-stream matches are
    emitted unconditionally with in-order single-file delivery)."""
    from .sources.derived import config_updates_sql

    return f"""
WITH t AS ({transcripts_sql('duckdb')}),
cfg AS ({config_updates_sql('duckdb')})
SELECT t.conv_id, t.turn_idx, cfg.cfg_seq, cfg.cfg_state
FROM t JOIN cfg
  ON t.conv_id = cfg.conv_id
 AND cfg.cfg_ts >= t.ts - INTERVAL 21600 SECOND
 AND cfg.cfg_ts <= t.ts
WHERE CAST(substr(t.conv_id, 6) AS INT) % 23 = 3
"""


def q_error_spike() -> str:
    """error_spike_hours twin (operators/aggregate.py): identical
    exact-integer z-score rule — hour is a spike iff
    n*c - s1 > 0 AND (n*c - s1)^2 > 4*(c*s2 - s1^2)."""
    return pipeline_cte() + """,
hourly AS (
  SELECT subsystem, date_trunc('hour', filled_ts) AS window_start,
         count(*) AS n
  FROM routed WHERE sink = 'errors' GROUP BY 1, 2
),
st AS (
  SELECT subsystem, window_start, n,
         count(*) OVER (PARTITION BY subsystem) AS c,
         sum(n) OVER (PARTITION BY subsystem)::BIGINT AS s1,
         sum(n * n) OVER (PARTITION BY subsystem)::BIGINT AS s2
  FROM hourly
)
SELECT subsystem, window_start, n,
       round(s1 / c, 5) AS mean_n,
       (n * c - s1 > 0 AND
        (n * c - s1) * (n * c - s1) > 4 * (c * s2 - s1 * s1)) AS is_spike
FROM st
"""


def q_turn_latency(
    group_col: str = "sink",
    where_sink: str | None = None,
    pre_where: str | None = None,
) -> str:
    """turn_latency_percentiles twin (operators/aggregate.py): the
    same value-histogram exact discrete quantile — smallest gap whose
    running count reaches ceil(p*n), rank in integer division.
    `where_sink` filters on the CURRENT turn's sink AFTER the lead
    window (gap semantics preserved); `pre_where` filters the routed
    rows BEFORE it (same as filtering the operator's input df)."""
    g = group_col
    pre = f"WHERE {pre_where}" if pre_where else ""
    post = f"AND sink = '{where_sink}'" if where_sink else ""
    return pipeline_cte() + f""",
gaps AS (
  SELECT {g}, sink,
         epoch_ms(lead(filled_ts) OVER (
           PARTITION BY conv_id ORDER BY turn_idx)) - epoch_ms(filled_ts)
           AS gap_ms
  FROM routed {pre}
),
hist AS (
  SELECT {g}, gap_ms, count(*) AS c FROM gaps
  WHERE gap_ms IS NOT NULL {post} GROUP BY 1, 2
),
cum AS (
  SELECT {g}, gap_ms,
         sum(c) OVER (PARTITION BY {g} ORDER BY gap_ms
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum,
         sum(c) OVER (PARTITION BY {g})::BIGINT AS n
  FROM hist
)
SELECT {g}, max(n) AS n_calls,
       min(CASE WHEN cum >= (1 * n + 1) // 2 THEN gap_ms END) AS p50_ms,
       min(CASE WHEN cum >= (19 * n + 19) // 20 THEN gap_ms END) AS p95_ms,
       min(CASE WHEN cum >= (99 * n + 99) // 100 THEN gap_ms END) AS p99_ms
FROM cum GROUP BY {g}
"""


def q_hll_distinct(include_exact: bool = True) -> str:
    """hll_distinct_convs twin (operators/aggregate.py): the same
    from-scratch deterministic HyperLogLog — md5-based h32, m = 64
    registers from the top 6 bits, rho = 27 - bitlength(low 26
    bits), integral harmonic sum S = sum(2^(27-Mj)) with missing
    buckets at 2^27, linear-counting small-range correction. The
    only float ops run on identical integers in both engines;
    multiplying by 64 twice vs 4096 once is exact (power-of-two
    scaling), and round(...,2) absorbs libm ulp skew in ln()."""
    h = "CAST(('0x' || substr(md5(conv_id), 1, 8)) AS BIGINT)"
    # every float literal cast to DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL, whose arithmetic would diverge from
    # Spark's double path
    raw = (
        "(0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 64::DOUBLE))"
        " * 64 * 64 * 134217728 / s"
    )
    return pipeline_cte() + f""",
regs AS (
  SELECT sink, {h} >> 26 AS j,
         max(CASE WHEN ({h} & 67108863) = 0 THEN 27
                  ELSE 27 - length(bin({h} & 67108863)) END) AS mj
  FROM routed GROUP BY 1, 2
),
agg AS (
  SELECT sink,
         (sum(1::BIGINT << CAST(27 - mj AS INT))::BIGINT
          + (64 - count(*)) * 134217728) AS s,
         64 - count(*) AS v
  FROM regs GROUP BY sink
),
est AS (
  SELECT sink,
         CASE WHEN {raw} <= 160::DOUBLE AND v > 0
              THEN 64 * ln(64::DOUBLE / v) ELSE {raw} END AS e
  FROM agg
),
ex AS (
  SELECT sink, count(DISTINCT conv_id) AS exact_distinct
  FROM routed GROUP BY sink
)
SELECT est.sink, round(est.e, 2) AS hll_distinct{", ex.exact_distinct" if include_exact else ""}
FROM est{" JOIN ex USING (sink)" if include_exact else ""}
"""


def q_agent_loops(min_run: int = 3) -> str:
    """agent_loop_runs twin (operators/aggregate.py): identical
    gaps-and-islands — change flag over (conv_id, turn_idx), running
    sum = run id, runs of identical (tool, message) with length >=
    min_run; drop-queue turns excluded, tool/message compared
    NULL-coalesced to ''."""
    return pipeline_cte() + f""",
base AS (
  SELECT conv_id, turn_idx,
         coalesce(tool, '') AS tl, coalesce(message, '') AS mg
  FROM routed WHERE sink <> 'drop_queue'
),
flagged AS (
  SELECT *, CASE WHEN lag(tl) OVER w IS NULL
                   OR tl <> lag(tl) OVER w
                   OR mg <> lag(mg) OVER w
            THEN 1 ELSE 0 END AS new_run
  FROM base WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
runs AS (
  SELECT *, sum(new_run) OVER (
    PARTITION BY conv_id ORDER BY turn_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
)
SELECT conv_id, min(tl) AS tool, count(*) AS run_len,
       min(turn_idx) AS start_turn, max(turn_idx) AS end_turn
FROM runs GROUP BY conv_id, run_id
HAVING count(*) >= {min_run}
"""


def q_conv_funnel() -> str:
    """conversation_funnel twin (operators/aggregate.py): one
    conditional aggregate per conversation; error_after_tool is
    NULL-coalesced to false exactly like the Spark side."""
    return pipeline_cte() + """
SELECT conv_id,
       count(*) AS n_turns,
       sum(CASE WHEN sink <> 'drop_queue' THEN 1 ELSE 0 END)::BIGINT
         AS n_routed,
       min(CASE WHEN sink <> 'drop_queue' AND tool IS NOT NULL
                THEN turn_idx END) AS first_tool_turn,
       min(CASE WHEN sink = 'errors' THEN turn_idx END)
         AS first_error_turn,
       sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT
         AS n_errors,
       coalesce(
         min(CASE WHEN sink = 'errors' THEN turn_idx END) >
         min(CASE WHEN sink <> 'drop_queue' AND tool IS NOT NULL
                  THEN turn_idx END),
         false) AS error_after_tool
FROM routed GROUP BY conv_id
"""


def q_turn_transitions(
    state_col: str = "tool", sink: str | None = "tool_calls"
) -> str:
    """turn_transition_matrix twin (operators/aggregate.py): lag
    over the chosen state column per conversation, corpus-wide
    transition counts, probability as the exact rational rounded
    once at 5 dp."""
    where = (
        f"sink = '{sink}'" if sink is not None else "sink <> 'drop_queue'"
    )
    return pipeline_cte() + f""",
states AS (
  SELECT conv_id, turn_idx, {state_col} AS state FROM routed
  WHERE {where} AND {state_col} IS NOT NULL
),
pairs AS (
  SELECT lag(state) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_state, state
  FROM states
),
c AS (
  SELECT prev_state, state, count(*) AS n_transitions
  FROM pairs WHERE prev_state IS NOT NULL GROUP BY 1, 2
)
SELECT prev_state, state, n_transitions,
       round(n_transitions /
             sum(n_transitions) OVER (PARTITION BY prev_state), 5) AS p
FROM c
"""


def q_tool_outcomes() -> str:
    """tool_outcomes twin (operators/aggregate.py): lead(sink) over
    (conv_id, turn_idx) on the non-drop-queue turns, outcome =
    coalesce(next_sink, 'terminal'), then the (tool, outcome)
    aggregate with a per-tool total; frac is BIGINT/BIGINT ->
    double, rounded to 5 in both engines."""
    return pipeline_cte() + """,
base AS (
  SELECT conv_id, turn_idx, tool, sink
  FROM routed WHERE sink <> 'drop_queue'
),
nxt AS (
  SELECT tool,
         coalesce(lead(sink) OVER (
           PARTITION BY conv_id ORDER BY turn_idx), 'terminal')
           AS outcome,
         sink
  FROM base
),
grouped AS (
  SELECT tool, outcome, count(*) AS n
  FROM nxt WHERE sink = 'tool_calls' GROUP BY tool, outcome
)
SELECT tool, outcome, n,
       (sum(n) OVER (PARTITION BY tool))::BIGINT AS n_calls,
       round(n / (sum(n) OVER (PARTITION BY tool))::BIGINT, 5) AS frac
FROM grouped
"""


def q_hdr_latency(sub_bits: int = 4) -> str:
    """hdr_latency_percentiles twin (operators/aggregate.py): the
    same HdrHistogram bucket quantization — keep the top
    (1 + sub_bits) significant bits of each gap, zero the rest, the
    bucket lower bound is its own key — then the identical
    ceil(p*n) discrete-rank rule over bucket rows. All integer bit
    arithmetic (length(bin(x)) is unpadded in both engines)."""
    b = sub_bits
    return pipeline_cte() + f""",
gaps AS (
  SELECT sink,
         epoch_ms(lead(filled_ts) OVER (
           PARTITION BY conv_id ORDER BY turn_idx)) - epoch_ms(filled_ts)
           AS gap_ms
  FROM routed
),
bkt AS (
  SELECT sink,
         CASE WHEN gap_ms <= 0 THEN gap_ms
              ELSE (gap_ms >> greatest(length(bin(gap_ms)) - 1 - {b}, 0))
                   << greatest(length(bin(gap_ms)) - 1 - {b}, 0)
         END AS bucket,
         count(*) AS c
  FROM gaps WHERE gap_ms IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT sink, bucket,
         sum(c) OVER (PARTITION BY sink ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum,
         sum(c) OVER (PARTITION BY sink)::BIGINT AS n
  FROM bkt
)
SELECT sink, max(n) AS n_gaps,
       min(CASE WHEN cum >= (1 * n + 1) // 2 THEN bucket END) AS p50_ms_lb,
       min(CASE WHEN cum >= (19 * n + 19) // 20 THEN bucket END) AS p95_ms_lb,
       min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END) AS p99_ms_lb
FROM cum GROUP BY sink
"""


def q_tool_health() -> str:
    """tool_health twin (operators/aggregate.py): the tool_outcomes
    error-fraction aggregate LEFT-joined with the per-tool latency
    percentiles, both over the drop_queue-excluded turns; a tool
    whose every call is terminal keeps NULL percentiles in both
    engines."""
    return pipeline_cte() + """,
base AS (
  SELECT conv_id, turn_idx, tool, sink, filled_ts
  FROM routed WHERE sink <> 'drop_queue'
),
nxt AS (
  SELECT tool,
         coalesce(lead(sink) OVER (
           PARTITION BY conv_id ORDER BY turn_idx), 'terminal')
           AS outcome,
         sink
  FROM base
),
grouped AS (
  SELECT tool, outcome, count(*) AS n
  FROM nxt WHERE sink = 'tool_calls' GROUP BY tool, outcome
),
err AS (
  SELECT tool, sum(n)::BIGINT AS n_calls,
         round(sum(CASE WHEN outcome = 'errors' THEN n ELSE 0 END)::BIGINT
               / sum(n)::BIGINT, 5) AS err_frac
  FROM grouped GROUP BY tool
),
gaps AS (
  SELECT tool, sink,
         epoch_ms(lead(filled_ts) OVER (
           PARTITION BY conv_id ORDER BY turn_idx)) - epoch_ms(filled_ts)
           AS gap_ms
  FROM base
),
hist AS (
  SELECT tool, gap_ms, count(*) AS c FROM gaps
  WHERE gap_ms IS NOT NULL AND sink = 'tool_calls' GROUP BY 1, 2
),
cum AS (
  SELECT tool, gap_ms,
         sum(c) OVER (PARTITION BY tool ORDER BY gap_ms
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum,
         sum(c) OVER (PARTITION BY tool)::BIGINT AS n
  FROM hist
),
lat AS (
  SELECT tool,
         min(CASE WHEN cum >= (1 * n + 1) // 2 THEN gap_ms END) AS p50_ms,
         min(CASE WHEN cum >= (19 * n + 19) // 20 THEN gap_ms END) AS p95_ms
  FROM cum GROUP BY tool
)
SELECT err.tool, n_calls, err_frac, p50_ms, p95_ms
FROM err LEFT JOIN lat ON err.tool = lat.tool
"""


def q_conversation_select(
    min_turns: int = 5,
    max_error_frac: float = 0.2,
    min_tool_calls: int = 1,
) -> str:
    """conversation_select twin (operators/sft.py): per-conversation
    sink roll-up + the deterministic training-selection predicate
    (visible >= min_turns AND error_frac <= max AND tool calls >=
    min). error_frac is 0.0 for all-dropped conversations in both
    engines."""
    return pipeline_cte() + f""",
per AS (
  SELECT conv_id,
         count(*)::BIGINT AS n_turns,
         sum(CASE WHEN sink <> 'drop_queue' THEN 1 ELSE 0 END)::BIGINT
           AS n_visible,
         sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT
           AS n_errors,
         sum(CASE WHEN sink = 'tool_calls' THEN 1 ELSE 0 END)::BIGINT
           AS n_tool_calls,
         sum(CASE WHEN sink = 'drop_queue' THEN 1 ELSE 0 END)::BIGINT
           AS n_dropped
  FROM routed GROUP BY conv_id
),
frac AS (
  SELECT *,
         CASE WHEN n_visible > 0
              THEN round(n_errors / CAST(n_visible AS DOUBLE), 5)
              ELSE 0.0 END AS error_frac
  FROM per
)
SELECT conv_id, n_turns, n_visible, n_errors, n_tool_calls, n_dropped,
       error_frac,
       (n_visible >= {min_turns} AND error_frac <= {max_error_frac}
        AND n_tool_calls >= {min_tool_calls}) AS selected
FROM frac
"""


def q_context_windows(n_context: int = 4) -> str:
    """context_windows twin (operators/sft.py): visible turns only,
    a conv-keyed ROWS BETWEEN n PRECEDING AND 1 PRECEDING list over
    'role: message' lines, examples emitted for assistant turns.
    DuckDB's list() over an empty frame is NULL -> coalesced to the
    empty context Spark's collect_list produces."""
    return pipeline_cte() + f""",
visible AS (
  SELECT conv_id, turn_idx, role, message
  FROM routed WHERE sink <> 'drop_queue'
),
w AS (
  SELECT conv_id, turn_idx, role, message,
         list(role || ': ' || message) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {n_context} PRECEDING AND 1 PRECEDING) AS ctx
  FROM visible
)
SELECT conv_id, turn_idx,
       coalesce(len(ctx), 0)::BIGINT AS n_context_turns,
       coalesce(array_to_string(ctx, chr(10)), '') AS context,
       message AS target
FROM w WHERE role = 'assistant'
"""


def q_preference_pairs() -> str:
    """preference_pairs twin (operators/sft.py): the same outcome
    attribution as tool_outcomes (lead(sink) over conv order,
    'terminal' when the conversation ends on the call), then for
    every FAILED tool call the min following same-tool success
    turn_idx (ROWS 1 FOLLOWING..UNBOUNDED over the (conv, tool)
    partition) and an equi-join back for the chosen text."""
    return pipeline_cte() + """,
visible AS (
  SELECT conv_id, turn_idx, tool, sink, message
  FROM routed WHERE sink <> 'drop_queue'
),
nxt AS (
  SELECT conv_id, turn_idx, tool, sink, message,
         coalesce(lead(sink) OVER (
           PARTITION BY conv_id ORDER BY turn_idx), 'terminal')
           AS outcome
  FROM visible
),
calls AS (
  SELECT conv_id, turn_idx, tool, message, outcome
  FROM nxt WHERE sink = 'tool_calls'
),
rep AS (
  SELECT conv_id, tool, turn_idx, message, outcome,
         min(CASE WHEN outcome <> 'errors' THEN turn_idx END) OVER (
           PARTITION BY conv_id, tool ORDER BY turn_idx
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS chosen_idx
  FROM calls
),
rej AS (
  SELECT conv_id, tool, turn_idx AS rejected_idx,
         message AS rejected_text, chosen_idx
  FROM rep WHERE outcome = 'errors' AND chosen_idx IS NOT NULL
)
SELECT r.conv_id, r.tool, r.rejected_idx, r.chosen_idx,
       r.rejected_text, c.message AS chosen_text,
       (r.chosen_idx - r.rejected_idx)::BIGINT AS gap_turns
FROM rej r JOIN calls c
  ON r.conv_id = c.conv_id AND r.tool = c.tool
 AND r.chosen_idx = c.turn_idx
"""


def q_tool_pagerank(n_iter: int = 5, damping_pct: int = 85) -> str:
    """tool_pagerank twin (operators/toolgraph.py): the same edge
    extraction (lag over conv order on tool turns), then the SAME
    integer power iteration unrolled as n_iter CTE rounds. flow =
    (d * pr) // (100 * out_w) divides BEFORE the edge multiply, so
    every intermediate fits BIGINT and the in-edge sum is
    order-independent — hash-exact vs Spark with no float anywhere
    except the final single division by SCALE (exact: pr < 2^53)."""
    base_pct = 100 - damping_pct
    sql = pipeline_cte() + """,
calls AS (
  SELECT conv_id, turn_idx, tool FROM routed WHERE tool IS NOT NULL
),
tpairs AS (
  SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS src, tool AS dst
  FROM calls
),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM tpairs WHERE src IS NOT NULL GROUP BY 1, 2
),
nodes AS (
  SELECT DISTINCT tool FROM (
    SELECT src AS tool FROM edges UNION SELECT dst FROM edges)
),
outw AS (SELECT src, CAST(sum(n) AS BIGINT) AS w FROM edges GROUP BY 1),
consts AS (
  SELECT init, CAST((%(b)d * init) // 100 AS BIGINT) AS base FROM (
    SELECT CAST(1000000000000 // (SELECT count(*) FROM nodes)
                AS BIGINT) AS init)
),
pr0 AS (
  SELECT tool, (SELECT init FROM consts) AS pr FROM nodes
)""" % {"b": base_pct}
    for k in range(n_iter):
        sql += """,
pr%(k1)d AS (
  SELECT nd.tool,
         CAST((SELECT base FROM consts) + COALESCE(s.c, 0)
              AS BIGINT) AS pr
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS tool,
           CAST(sum(((%(d)d * r.pr) // (100 * o.w)) * e.n)
                AS BIGINT) AS c
    FROM edges e
    JOIN pr%(k)d r ON r.tool = e.src
    JOIN outw o ON o.src = e.src
    GROUP BY 1
  ) s USING (tool)
)""" % {"k": k, "k1": k + 1, "d": damping_pct}
    sql += f"""
SELECT tool, pr AS pagerank_scaled, pr / 1000000000000.0 AS pagerank
FROM pr{n_iter}
"""
    return sql


def q_error_spike_mad() -> str:
    """error_spike_hours_mad twin (operators/aggregate.py): the
    identical doubled/quadrupled-integer median/MAD fence —
    spike <=> 2*dev2 > 3*mad4 with dev2 = |2n - 2*median(n)| and
    mad4 = 2*median(dev2); both engines' medians average the two
    middle values, so 2x/4x scaling keeps every comparison integer."""
    return pipeline_cte() + """,
hourly AS (
  SELECT subsystem, date_trunc('hour', filled_ts) AS window_start,
         count(*) AS n
  FROM routed WHERE sink = 'errors' GROUP BY 1, 2
),
med AS (
  SELECT subsystem, CAST(median(n) * 2 AS BIGINT) AS med2
  FROM hourly GROUP BY 1
),
dev AS (
  SELECT h.subsystem, h.window_start, h.n, m.med2,
         abs(2 * h.n - m.med2) AS dev2
  FROM hourly h JOIN med m USING (subsystem)
),
mad AS (
  SELECT subsystem, CAST(median(dev2) * 2 AS BIGINT) AS mad4
  FROM dev GROUP BY 1
)
SELECT d.subsystem, d.window_start, d.n,
       d.med2 / 2 AS median_n,
       m.mad4 / 4 AS mad_n,
       (2 * d.dev2 > 3 * m.mad4) AS is_spike
FROM dev d JOIN mad m USING (subsystem)
"""


def q_tool_arg_outcomes() -> str:
    """tool_arg_outcomes twin (operators/aggregate.py): same
    drop-queue pre-filter, lead(sink) in the conv window, args=
    regexp with '(none)' fallback, exact integer err_milli."""
    return pipeline_cte() + """,
nxt AS (
  SELECT tool, sink, message,
         lead(sink) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS next_sink
  FROM routed WHERE sink <> 'drop_queue'
),
calls AS (
  SELECT tool,
    CASE WHEN regexp_extract(message, 'args=(\\w+)', 1) = ''
         THEN '(none)'
         ELSE regexp_extract(message, 'args=(\\w+)', 1) END AS arg,
    coalesce(next_sink, 'terminal') AS outcome
  FROM nxt WHERE sink = 'tool_calls'
)
SELECT tool, arg,
  count(*)::BIGINT AS n_calls,
  sum(CASE WHEN outcome = 'errors' THEN 1 ELSE 0 END)::BIGINT
    AS n_errors,
  ((sum(CASE WHEN outcome = 'errors' THEN 1 ELSE 0 END)::BIGINT
    * 1000) // count(*))::BIGINT AS err_milli
FROM calls GROUP BY tool, arg
"""


def q_rl_trajectories() -> str:
    """rl_trajectories twin (operators/sft.py): visible turns only,
    role:tool:sink steps ordered by turn_idx (list(... ORDER BY) vs
    Spark's sort-the-collected-structs — the hash equality proves
    the force-the-order trick), exact-integer reward_milli."""
    return pipeline_cte() + """,
vis AS (
  SELECT conv_id, turn_idx,
         role || ':' || coalesce(tool, '-') || ':' || sink AS s,
         sink
  FROM routed WHERE sink <> 'drop_queue'
)
SELECT conv_id,
  count(*)::BIGINT AS n_steps,
  sum(CASE WHEN sink = 'tool_calls' THEN 1 ELSE 0 END)::BIGINT
    AS n_tool_calls,
  sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT
    AS n_errors,
  (((count(*) -
     sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT)
    * 1000) // count(*))::BIGINT AS reward_milli,
  string_agg(s, '|' ORDER BY turn_idx) AS traj
FROM vis GROUP BY conv_id
"""


def q_retention_cohorts(horizon_days: int = 90) -> str:
    """retention_cohorts twin (operators/aggregate.py): distinct
    active days per user, cohort = min day, (cohort, offset) rollup;
    count(*) == count(distinct user) because the day set is distinct
    per user."""
    return f"""
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
f AS (
  SELECT user_id, min(d) AS cohort_day FROM d GROUP BY user_id
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
  CAST(date_diff('day', f.cohort_day, d.d) AS BIGINT) AS day_offset,
  count(*)::BIGINT AS n_users
FROM d JOIN f USING (user_id)
WHERE date_diff('day', f.cohort_day, d.d) <= {int(horizon_days)}
GROUP BY 1, 2
"""


def q_log_templates(min_count: int = 1) -> str:
    """log_templates twin (operators/aggregate.py): identical
    [0-9]-token mask via RE2 regexp_replace with the 'g' flag."""
    having = f"HAVING count(*) >= {int(min_count)}" if min_count > 1 else ""
    return pipeline_cte() + f"""
SELECT regexp_replace(message, '\\S*[0-9]\\S*', '<*>', 'g')
         AS template,
       count(*)::BIGINT AS n_msgs,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       min(message) AS example
FROM routed WHERE sink <> 'drop_queue'
GROUP BY 1 {having}
"""


def q_conv_dedup() -> str:
    """conv_dedup twin (operators/dedup.py): md5 over the ordered
    \\x1f-joined visible messages (string_agg ORDER BY vs Spark's
    sorted-struct collect — hash equality proves the ordering),
    min-conv_id keeper, per-fp copy count."""
    return pipeline_cte() + """,
per_conv AS (
  SELECT conv_id,
         count(*)::BIGINT AS n_turns,
         md5(string_agg(message, chr(31) ORDER BY turn_idx)) AS fp
  FROM routed WHERE sink <> 'drop_queue'
  GROUP BY conv_id
)
SELECT conv_id, fp, n_turns,
  count(*) OVER (PARTITION BY fp)::BIGINT AS n_copies,
  (row_number() OVER (PARTITION BY fp ORDER BY conv_id) = 1)
    AS keeper
FROM per_conv
"""


def q_stream_templates() -> str:
    """run_streaming_templates twin: the single-pass template miner
    plus the first-seen-batch column, reproducing the gate's wave
    rule (batch 0 = conv_ids whose last-char ascii is even)."""
    return pipeline_cte() + """
SELECT regexp_replace(message, '\\S*[0-9]\\S*', '<*>', 'g')
         AS template,
       count(*)::BIGINT AS n_msgs,
       count(DISTINCT conv_id)::BIGINT AS n_convs,
       min(message) AS example,
       min(ascii(right(conv_id, 1)) % 2)::BIGINT AS first_batch
FROM routed WHERE sink <> 'drop_queue'
GROUP BY 1
"""


def q_tool_cooccurrence() -> str:
    """tool_cooccurrence twin (operators/toolgraph.py): distinct
    (conv, tool) basket, conv-keyed pair self-join, exact-integer
    lift."""
    return pipeline_cte() + """,
ct AS (
  SELECT DISTINCT conv_id, tool FROM routed
  WHERE sink <> 'drop_queue' AND tool IS NOT NULL
),
n AS (SELECT count(DISTINCT conv_id) AS nn FROM ct),
pt AS (SELECT tool, count(*) AS n_t FROM ct GROUP BY tool),
pairs AS (
  SELECT a.tool AS tool_a, b.tool AS tool_b, count(*) AS n_both
  FROM ct a JOIN ct b
    ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY 1, 2
)
SELECT tool_a, tool_b, n_both::BIGINT AS n_both,
  pa.n_t::BIGINT AS n_a, pb.n_t::BIGINT AS n_b,
  ((n_both * nn * 1000) // (pa.n_t * pb.n_t))::BIGINT AS lift_milli
FROM pairs
JOIN pt pa ON pa.tool = pairs.tool_a
JOIN pt pb ON pb.tool = pairs.tool_b, n
"""


def q_json_schema_profile() -> str:
    """json_schema_profile twin (operators/convmeta.py): unnest
    json_keys + stringified extraction, identical lexical type
    classes."""
    return """
WITH kv AS (
  SELECT event_type, t.key AS key,
         json_extract_string(props, '$."' || t.key || '"') AS val
  FROM events, unnest(json_keys(props)) AS t(key)
)
SELECT event_type, key,
  count(*)::BIGINT AS n_records,
  sum(CASE WHEN regexp_matches(val, '^-?[0-9]+$')
      THEN 1 ELSE 0 END)::BIGINT AS n_int,
  sum(CASE WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$')
      THEN 1 ELSE 0 END)::BIGINT AS n_float,
  sum(CASE WHEN val IN ('true', 'false')
      THEN 1 ELSE 0 END)::BIGINT AS n_bool,
  count(DISTINCT val)::BIGINT AS n_distinct_values
FROM kv GROUP BY 1, 2
"""


def q_cusum_error_drift(k_per_hour: int = 2, h_threshold: int = 6) -> str:
    """cusum_error_drift twin (operators/aggregate.py): identical
    prefix-sum / running-min identity, exact integers."""
    k, h = int(k_per_hour), int(h_threshold)
    return pipeline_cte() + f""",
hourly AS (
  SELECT subsystem, date_trunc('hour', filled_ts) AS window_start,
         count(*)::BIGINT AS cnt
  FROM routed WHERE sink = 'errors' GROUP BY 1, 2
),
pref AS (
  SELECT subsystem, window_start, cnt,
    sum(cnt - {k}) OVER (PARTITION BY subsystem ORDER BY window_start
                         ROWS UNBOUNDED PRECEDING) AS p
  FROM hourly
),
mins AS (
  SELECT *, min(p) OVER (PARTITION BY subsystem ORDER BY window_start
                         ROWS UNBOUNDED PRECEDING) AS rmin
  FROM pref
)
SELECT subsystem, window_start, cnt,
  (p - least(0, rmin))::BIGINT AS cusum,
  ((p - least(0, rmin)) > {h}) AS alarm
FROM mins
"""


def q_sessionize_events(gap_minutes: int = 30) -> str:
    """sessionize_events twin (operators/aggregate.py): the same
    lag + boundary-flag + running-sum island id over the raw events
    view; second arithmetic on floor-truncated epoch seconds exactly
    as Spark's timestamp->long cast."""
    gap = int(gap_minutes) * 60
    return f"""
WITH f AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) // 1000000
              - epoch_us(lag(ts) OVER w) // 1000000 > {gap}
         THEN 1 ELSE 0 END AS nf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
    sum(nf) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f
)
SELECT user_id, session_idx::BIGINT AS session_idx,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*)::BIGINT AS n_events,
  (epoch_us(max(ts)) // 1000000
   - epoch_us(min(ts)) // 1000000)::BIGINT AS duration_sec
FROM s GROUP BY 1, 2
"""


def q_slo_burn_alert(slo_milli: int = 50, long_hours: int = 6) -> str:
    """slo_burn_alert twin (operators/aggregate.py): hourly rollup +
    trailing RANGE frame on epoch seconds, exact integer burns."""
    span = (int(long_hours) - 1) * 3600
    return pipeline_cte() + f""",
hourly AS (
  SELECT date_trunc('hour', filled_ts) AS window_start,
         count(*)::BIGINT AS n_total,
         sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT
           AS n_errors
  FROM routed WHERE sink <> 'drop_queue' GROUP BY 1
),
st AS (
  SELECT *, sum(n_total) OVER w AS lt, sum(n_errors) OVER w AS le
  FROM hourly
  WINDOW w AS (ORDER BY epoch_us(window_start) // 1000000
               RANGE BETWEEN {span} PRECEDING AND CURRENT ROW)
)
SELECT window_start, n_total, n_errors,
  ((n_errors * 1000) // n_total)::BIGINT AS short_burn_milli,
  ((le * 1000) // lt)::BIGINT AS long_burn_milli,
  ((n_errors * 1000) // n_total > {int(slo_milli)}
   AND (le * 1000) // lt > {int(slo_milli)}) AS alert
FROM st
"""


def q_scd2_intervals() -> str:
    """scd2_intervals twin (operators/enrich.py) over the config
    update stream: one key-keyed lead/row_number window."""
    from .sources.derived import config_updates_sql

    return f"""
WITH cfg AS ({config_updates_sql('duckdb')})
SELECT conv_id,
  cfg_state AS state,
  cfg_ts AS valid_from,
  lead(cfg_ts) OVER w AS valid_to,
  row_number() OVER w AS version,
  (lead(cfg_ts) OVER w IS NULL) AS is_current
FROM cfg
WINDOW w AS (PARTITION BY conv_id ORDER BY cfg_ts, cfg_seq)
"""


def q_agg_incremental() -> str:
    """merge_agg_deltas twin: the ORACLE recomputes the hourly
    aggregate FLAT over all rows — identical to q_agg_hourly — while
    the Spark side computes it incrementally (base agg + delta agg +
    monoid merge). A hash match is the merge-correctness proof."""
    return pipeline_cte() + (
        "SELECT sink, severity, subsystem, "
        "date_trunc('hour', filled_ts) AS window_start, "
        "count(*)::BIGINT AS cnt "
        "FROM routed GROUP BY 1, 2, 3, 4"
    )


def q_skew_audit(top_n: int = 20) -> str:
    """key_skew_audit twin (operators/skew.py): per-key counts,
    exact integer-milli share of the total, deterministic top-N."""
    return pipeline_cte() + f""",
c AS (
  SELECT conv_id AS key, count(*)::BIGINT AS cnt
  FROM routed GROUP BY 1
),
t AS (SELECT sum(cnt)::BIGINT AS total FROM c),
top AS (
  SELECT * FROM c ORDER BY cnt DESC, key LIMIT {int(top_n)}
)
SELECT key, cnt,
  ((cnt * 1000) // total)::BIGINT AS share_milli,
  CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INT) AS rank
FROM top, t
"""


def q_stream_agg_incremental() -> str:
    """run_agg_maintenance twin (streaming/agg_incremental.py): the
    folded batch partials must equal this FLAT hourly severity
    aggregate over the same conv subset — no watermark clause, since
    exact partial merging never drops late rows."""
    return pipeline_cte() + (
        "SELECT severity, date_trunc('hour', ts) AS window_start, "
        "count(*)::BIGINT AS cnt "
        "FROM parsed2 "
        "WHERE CAST(substr(conv_id, 6) AS INT) % 23 = 7 "
        "GROUP BY 1, 2"
    )


def q_volume_trend() -> str:
    """volume_trend twin (operators/aggregate.py): daily per-sink
    row counts over OBSERVED days, then the SAME exact-integer OLS
    slope — (1000 * (n*Sxy - Sx*Sy)) // (n*Sxx - Sx^2) with x =
    days-since-epoch; both engines truncate integer division toward
    zero, so negative slopes agree bit-for-bit. Singleton groups
    emit NULL."""
    return pipeline_cte() + """,
daily AS (
  SELECT sink, CAST(filled_ts AS DATE) AS day,
         count(*)::BIGINT AS n
  FROM routed GROUP BY 1, 2
),
xs AS (
  SELECT sink, day, n,
         date_diff('day', DATE '1970-01-01', day)::BIGINT AS x
  FROM daily
),
sums AS (
  SELECT sink, count(*)::BIGINT AS n_days,
         min(day) AS first_day, max(day) AS last_day,
         sum(n)::BIGINT AS total_rows,
         sum(x)::BIGINT AS sx, sum(n)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * n)::BIGINT AS sxy
  FROM xs GROUP BY 1
)
SELECT sink, n_days,
       strftime(first_day, '%Y-%m-%d') AS first_day,
       strftime(last_day, '%Y-%m-%d') AS last_day,
       total_rows,
       CAST(CASE WHEN n_days * sxx - sx * sx <> 0
            THEN (1000 * (n_days * sxy - sx * sy))
                 // (n_days * sxx - sx * sx)
       END AS BIGINT) AS slope_milli
FROM sums
"""


def q_chat_lint() -> str:
    """chat_lint twin (operators/sft.py): lag(role) over visible conv
    order, arg_min/arg_max on the unique turn_idx for opens/ends,
    CASE-summed violation counts (NULL-safe: a lag NULL is never a
    repeat, and a leading tool turn IS an orphan)."""
    return pipeline_cte() + """,
visible AS (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev
  FROM routed WHERE sink <> 'drop_queue'
),
lint AS (
  SELECT conv_id,
         count(*)::BIGINT AS n_visible,
         arg_min(role, turn_idx) AS opens_role,
         arg_max(role, turn_idx) AS ends_role,
         sum(CASE WHEN role = prev THEN 1 ELSE 0 END)::BIGINT
           AS n_role_repeats,
         sum(CASE WHEN role = 'tool'
                   AND coalesce(prev, '') <> 'assistant'
              THEN 1 ELSE 0 END)::BIGINT AS n_tool_wo_assistant
  FROM visible GROUP BY 1
)
SELECT conv_id, n_visible, opens_role, ends_role, n_role_repeats,
       n_tool_wo_assistant,
       (n_role_repeats = 0 AND n_tool_wo_assistant = 0
        AND ends_role = 'assistant') AS lint_ok
FROM lint
"""


def q_sft_examples(
    min_turns: int = 5,
    max_error_frac: float = 0.2,
    min_tool_calls: int = 1,
    n_context: int = 4,
) -> str:
    """Composed SFT export twin (chat_lint AND conversation_select
    gate the conversations, context_windows builds the examples —
    the operators compose, so the oracle chains their CTEs): a
    conversation contributes examples only if it passes BOTH the
    structural lint and the quality selection. Lint policy here:
    the discriminating flags for this corpus (no orphan tool calls,
    assistant closing) — roles alternate freely in the derived
    transcripts, so the repeats flag would empty the set."""
    return pipeline_cte() + f""",
visible AS (
  SELECT conv_id, turn_idx, role, message
  FROM routed WHERE sink <> 'drop_queue'
),
lv AS (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev
  FROM visible
),
lint AS (
  SELECT conv_id,
         arg_max(role, turn_idx) AS ends_role,
         sum(CASE WHEN role = 'tool'
                   AND coalesce(prev, '') <> 'assistant'
              THEN 1 ELSE 0 END) AS orph
  FROM lv GROUP BY 1
),
per AS (
  SELECT conv_id,
         sum(CASE WHEN sink <> 'drop_queue' THEN 1 ELSE 0 END)::BIGINT
           AS n_visible,
         sum(CASE WHEN sink = 'errors' THEN 1 ELSE 0 END)::BIGINT
           AS n_errors,
         sum(CASE WHEN sink = 'tool_calls' THEN 1 ELSE 0 END)::BIGINT
           AS n_tool_calls
  FROM routed GROUP BY conv_id
),
frac AS (
  SELECT *,
         CASE WHEN n_visible > 0
              THEN round(n_errors / CAST(n_visible AS DOUBLE), 5)
              ELSE 0.0 END AS error_frac
  FROM per
),
keep AS (
  SELECT l.conv_id
  FROM lint l JOIN frac f USING (conv_id)
  WHERE l.orph = 0 AND l.ends_role = 'assistant'
    AND f.n_visible >= {min_turns}
    AND f.error_frac <= {max_error_frac}
    AND f.n_tool_calls >= {min_tool_calls}
),
vk AS (
  SELECT v.* FROM visible v JOIN keep USING (conv_id)
),
w AS (
  SELECT conv_id, turn_idx, role, message,
         list(role || ': ' || message) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN {n_context} PRECEDING AND 1 PRECEDING) AS ctx
  FROM vk
)
SELECT conv_id, turn_idx,
       coalesce(len(ctx), 0)::BIGINT AS n_context_turns,
       coalesce(array_to_string(ctx, chr(10)), '') AS context,
       message AS target
FROM w WHERE role = 'assistant'
"""


def q_render_chat(template: str = "chatml") -> str:
    """render_chat twin (operators/sft.py): visible turns only, one
    string_agg ORDER BY turn_idx per conversation with the same
    per-turn markup."""
    if template == "chatml":
        row = ("'<|im_start|>' || role || chr(10) || message"
               " || '<|im_end|>'")
    elif template == "plain":
        row = "role || ': ' || message"
    else:
        raise ValueError(f"unknown template {template!r}")
    return pipeline_cte() + f""",
visible AS (
  SELECT conv_id, turn_idx, role, message
  FROM routed WHERE sink <> 'drop_queue'
)
SELECT conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
         AS n_assistant_turns,
       string_agg({row}, chr(10) ORDER BY turn_idx) AS text
FROM visible GROUP BY conv_id
"""


def q_agg_cube() -> str:
    """cube_hourly twin — DuckDB's own GROUP BY CUBE + GROUPING_ID
    (same bit order as the rollup twin)."""
    h = "date_trunc('hour', filled_ts)"
    return pipeline_cte() + (
        f"SELECT sink, severity, {h} AS window_start, "
        "count(*) AS cnt, "
        f"GROUPING_ID(sink, severity, {h}) AS grain "
        f"FROM routed GROUP BY CUBE(sink, severity, {h})"
    )


def q_salted_join() -> str:
    """salted_join twin: the PLAIN unsalted join — salting must be
    row-invisible, so the oracle is deliberately the join the
    operator claims to equal."""
    return pipeline_cte() + """,
fact AS (SELECT conv_id, turn_idx, sink FROM routed),
dim AS (SELECT conv_id, count(*)::BIGINT AS n_conv_turns
        FROM fact GROUP BY 1)
SELECT f.conv_id, f.turn_idx, f.sink, d.n_conv_turns
FROM fact f JOIN dim d USING (conv_id)
"""


def q_ewma_alerts(window: int = 16, slack: int = 5) -> str:
    """ewma_alerts twin (operators/aggregate.py): hourly counts, the
    same <= window-lag list frame, geometric 2^(i-1) weights
    renormalized by (2^m - 1), and the doubled-baseline-plus-slack
    int64 alert."""
    return pipeline_cte() + f""",
hourly AS (
  SELECT sink, date_trunc('hour', filled_ts) AS window_start,
         count(*) AS cnt
  FROM routed GROUP BY 1, 2
),
lagged AS (
  SELECT sink, window_start, cnt,
         list(cnt) OVER (PARTITION BY sink ORDER BY window_start
           ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING) AS lags
  FROM hourly
),
sm AS (
  SELECT sink, window_start, cnt,
         CASE WHEN len(lags) > 0 THEN
           (1000 * list_sum(list_transform(range(1, len(lags) + 1),
              i -> lags[i] * (1::BIGINT << (i - 1)))))
             // ((1::BIGINT << len(lags)) - 1)
         END AS ewma_milli
  FROM lagged
)
SELECT sink, window_start, CAST(cnt AS BIGINT) AS cnt,
       CAST(ewma_milli AS BIGINT) AS ewma_milli,
       coalesce(ewma_milli IS NOT NULL AND
                1000 * cnt > 2 * ewma_milli + {1000 * slack}, false)
         AS alert
FROM sm
"""


def q_asof_forward() -> str:
    """Forward as-of twin — DuckDB's native ASOF with the
    inequality flipped (t.ts <= cfg.cfg_ts picks the NEAREST
    following cfg row); same max-seq pre-dedup of right rows
    sharing (conv_id, ts)."""
    from .sources.derived import config_updates_sql

    return f"""
WITH t AS ({transcripts_sql('duckdb')}),
cfg0 AS ({config_updates_sql('duckdb')}),
cfg AS (
  SELECT conv_id, cfg_ts, arg_max(cfg_state, cfg_seq) AS cfg_state
  FROM cfg0 GROUP BY conv_id, cfg_ts
)
SELECT t.conv_id, t.turn_idx,
       coalesce(cfg.cfg_state, '') AS cfg_state
FROM t ASOF LEFT JOIN cfg
  ON t.conv_id = cfg.conv_id AND t.ts <= cfg.cfg_ts
"""


def q_pseudonymize(salt: str = "p1") -> str:
    """pseudonymize twin (operators/pii.py): the same salted md5
    token over conv_id on the routed turns."""
    return pipeline_cte() + f""",
vis AS (SELECT conv_id, turn_idx, sink FROM routed)
SELECT 'p_' || substr(md5('{salt}' || chr(1) || conv_id), 1, 16)
         AS conv_id,
       turn_idx, sink
FROM vis
"""


def q_stream_ewma(window: int = 16, slack: int = 5) -> str:
    """Streaming-EWMA twin: flat hourly severity counts over the
    same conv subset, then the identical lag-list EWMA arithmetic —
    the streaming side must land on this through partial-merge +
    detector-on-read."""
    return pipeline_cte() + f""",
hourly AS (
  SELECT severity, date_trunc('hour', ts) AS window_start,
         count(*) AS cnt
  FROM parsed2
  WHERE CAST(substr(conv_id, 6) AS INT) % 23 = 11
  GROUP BY 1, 2
),
lagged AS (
  SELECT severity, window_start, cnt,
         list(cnt) OVER (PARTITION BY severity ORDER BY window_start
           ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING) AS lags
  FROM hourly
),
sm AS (
  SELECT severity, window_start, cnt,
         CASE WHEN len(lags) > 0 THEN
           (1000 * list_sum(list_transform(range(1, len(lags) + 1),
              i -> lags[i] * (1::BIGINT << (i - 1)))))
             // ((1::BIGINT << len(lags)) - 1)
         END AS ewma_milli
  FROM lagged
)
SELECT severity, window_start, CAST(cnt AS BIGINT) AS cnt,
       CAST(ewma_milli AS BIGINT) AS ewma_milli,
       coalesce(ewma_milli IS NOT NULL AND
                1000 * cnt > 2 * ewma_milli + {1000 * slack}, false)
         AS alert
FROM sm
"""
