"""Deterministic derived inputs for the perf-JSON, conv-meta and
subunit-analog operators — dual-dialect SQL over `events`, like
sources/transcripts.py. Guard cases ([not set] strings, int64
overflow, missing fields, old-vs-new schema shapes) are planted on
fixed residue classes of event_id/user_id so both engines derive
byte-identical JSON.
"""

from __future__ import annotations


def _s(dialect: str, expr: str) -> str:
    t = "STRING" if dialect == "spark" else "VARCHAR"
    return f"CAST({expr} AS {t})"


def perf_reports_sql(dialect: str) -> str:
    """One performance.json-shaped document per sampled event.

    Shape mirrors tests/performance-example.json: services[2] (one
    clean, one guard case), db[1], api[1] with GET/POST verbs.
    """
    eid = _s(dialect, "event_id")
    uid = _s(dialect, "user_id")
    mem_guard = f"""CASE event_id % 4
      WHEN 0 THEN '"[not set]"'
      WHEN 1 THEN '18446744073709551616'
      ELSE {_s(dialect, 'event_id * 1000')} END"""
    db_count = f"""CASE WHEN event_id % 3 = 0 THEN '"n/a"'
      ELSE {_s(dialect, 'event_id % 1000')} END"""
    api_get = f"""CASE WHEN event_id % 5 = 0 THEN '"x"'
      ELSE {_s(dialect, 'event_id % 97')} END"""
    api_post = _s(dialect, "event_id % 13")

    json_expr = f"""concat(
      '{{"services": [',
        '{{"service": "', event_type, '", "MemoryCurrent": ', {mem_guard}, '}},',
        '{{"service": "svc-', {_s(dialect, 'user_id % 10')}, '", "MemoryCurrent": ', {_s(dialect, 'event_id + 7')}, '}}',
      '], "db": [',
        '{{"db": "nova", "op": "SELECT", "count": ', {db_count}, '}}',
      '], "api": [',
        '{{"service": "glance", "log": "api.log", "GET": ', {api_get}, ', "POST": ', {api_post}, '}}',
      '], "report": {{"timestamp": "2024-01-01T00:00:00", "hostname": "host-', {uid}, '"}}}}'
    )"""

    return f"""
SELECT concat('conv-', lpad({uid}, 4, '0')) AS conv_id,
       event_id,
       {json_expr} AS perf_json
FROM events
WHERE event_id % 50 = 0
"""


def conv_meta_sql(dialect: str) -> str:
    """Per-conversation raw metadata JSON in TWO source shapes —
    even user_id gets the new-Zuul nested form, odd the old flat
    form (reference makeZuulCapability dual-schema tolerance,
    logsender.py:220-249; golden tests/test_logsender.py:1035-1050).
    Both must normalize to identical rows.

    Planted absence: user_id % 7 == 3 conversations have NO metadata
    row at all — the analog of a build dir missing its buildinfo/
    inventory sentinels (logsender.py:136-141), which the routing
    stage must send to drop_queue with reason 'no_metadata'."""
    uid = _s(dialect, "user_id")
    change = _s(dialect, "user_id * 7 + 1")
    # user_id % 5 == 0: change absent entirely -> build_change ''
    new_shape = f"""concat(
      '{{"project": {{"name": "proj-', {uid}, '"}},',
      ' "ref": {{"branch": "main"',
      CASE WHEN user_id % 5 = 0 THEN '' ELSE concat(', "change": ', {change}, ', "patchset": "2"') END,
      '}},',
      ' "buildset": {{"uuid": "bs-', {uid}, '"}},',
      ' "pipeline": "check", "voting": ', CASE WHEN user_id % 3 = 0 THEN 'true' ELSE 'false' END, ',',
      ' "change_url": "https://review/c/', {change}, '"}}'
    )"""
    old_shape = f"""concat(
      '{{"project": "proj-', {uid}, '",',
      ' "branch": "main"',
      CASE WHEN user_id % 5 = 0 THEN '' ELSE concat(', "change": ', {change}, ', "patchset": "2"') END,
      ',',
      ' "buildset": "bs-', {uid}, '",',
      ' "pipeline": "check", "voting": ', CASE WHEN user_id % 3 = 0 THEN 'true' ELSE 'false' END, ',',
      ' "ref_url": "https://review/c/', {change}, '"}}'
    )"""
    return f"""
SELECT concat('conv-', lpad({uid}, 4, '0')) AS conv_id,
       CASE WHEN user_id % 2 = 0 THEN {new_shape} ELSE {old_shape} END AS meta_json,
       CASE WHEN user_id % 2 = 0 THEN 'new' ELSE 'old' END AS source_shape
FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 7 <> 3) u
"""


def subunit_results_sql(dialect: str) -> str:
    """Synthetic subunit-analog test records: (conv_id, test_name,
    status, start_ts, end_ts). Skips have end == start (duration 0,
    like setUpClass skips in the reference golden,
    tests/test_logsender.py:1254-1359)."""
    uid = _s(dialect, "user_id")
    eid = _s(dialect, "event_id")
    dur_us = "(CAST(event_id % 120 AS BIGINT) * 1000000 + (event_id * 7919) % 1000000)"
    if dialect == "spark":
        end_expr = f"timestampadd(MICROSECOND, {dur_us}, ts)"
    else:
        end_expr = f"ts + to_microseconds({dur_us})"
    return f"""
SELECT concat('conv-', lpad({uid}, 4, '0')) AS conv_id,
       concat('test_scenario_', {eid}) AS test_name,
       CASE WHEN event_id % 7 = 0 THEN 'skip' ELSE 'success' END AS test_status,
       ts AS start_ts,
       CASE WHEN event_id % 7 = 0 THEN ts ELSE {end_expr} END AS end_ts
FROM events
WHERE event_id % 25 = 0
"""


def config_updates_sql(dialect: str) -> str:
    """Sparse per-conversation config/state stream for the as-of join
    gate query (operators/asof.py): every 25th event flips the
    conversation's live config to that event's type. `event_id` is
    the deterministic tie-breaker among same-ts updates."""
    uid = _s(dialect, "user_id")
    return f"""
SELECT concat('conv-', lpad({uid}, 4, '0')) AS conv_id,
       ts AS cfg_ts,
       event_type AS cfg_state,
       event_id AS cfg_seq
FROM events
WHERE event_id % 25 = 0
"""


def incident_windows_sql(dialect: str) -> str:
    """Per-conversation 12 h incident windows for the binned range
    join gate query (operators/rangejoin.py): every 40th event opens
    a window [ts, ts + 12 h] tagged with a deterministic incident id."""
    uid = _s(dialect, "user_id")
    eid = _s(dialect, "event_id")
    if dialect == "spark":
        end_expr = "timestampadd(HOUR, 12, ts)"
    else:
        end_expr = "ts + INTERVAL 12 HOUR"
    return f"""
SELECT concat('conv-', lpad({uid}, 4, '0')) AS conv_id,
       concat('inc-', {eid}) AS incident_id,
       ts AS start_ts,
       {end_expr} AS end_ts
FROM events
WHERE event_id % 40 = 0
"""
