"""cusum_error_drift and sessionize_events (operators/aggregate.py):
semantics vs hand-computed expectations."""

from datetime import datetime

from ci_log_processing_spark.operators.aggregate import (
    CUSUM_H_THRESHOLD,
    CUSUM_K_PER_HOUR,
    cusum_error_drift,
    sessionize_events,
)

ROUTED_SCHEMA = (
    "conv_id string, turn_idx int, subsystem string, "
    "filled_ts timestamp, sink string"
)


def test_cusum_accumulates_sustained_drift(spark):
    assert (CUSUM_K_PER_HOUR, CUSUM_H_THRESHOLD) == (2, 6)
    ts = datetime
    # subsystem 'nova': 3 errors/hour for 7 hours with k=2 ->
    # S = 1, 2, ..., 7 (alarm at S > 6 in hour 7)
    rows = []
    for h in range(7):
        for i in range(3):
            rows.append(
                ("c", h * 10 + i, "nova", ts(2024, 1, 1, h), "errors")
            )
    # one quiet subsystem: 1 error in one hour -> S = max(0, -1) = 0
    rows.append(("c", 99, "glance", ts(2024, 1, 1, 0), "errors"))
    # non-error rows never count
    rows.append(("c", 98, "nova", ts(2024, 1, 1, 0), "agent_turns"))
    df = spark.createDataFrame(rows, ROUTED_SCHEMA)
    out = {
        (r.subsystem, r.window_start.hour): (r.cusum, r.alarm)
        for r in cusum_error_drift(df).collect()
    }
    for h in range(6):
        assert out[("nova", h)] == (h + 1, False)
    assert out[("nova", 6)] == (7, True)
    # CUSUM floors at zero: the deficit hour never goes negative
    assert out[("glance", 0)] == (0, False)


def test_cusum_resets_after_deficit(spark):
    ts = datetime
    rows = []
    # hour 0: 5 errors (S = 3); hour 1: 0 absent; hour 2: 1 error
    # (S = max(0, 3 + 1-2) = 2) — deficit subtracts but floors at 0
    for i in range(5):
        rows.append(("c", i, "nova", ts(2024, 1, 1, 0), "errors"))
    rows.append(("c", 9, "nova", ts(2024, 1, 1, 2), "errors"))
    df = spark.createDataFrame(rows, ROUTED_SCHEMA)
    out = {
        r.window_start.hour: r.cusum
        for r in cusum_error_drift(df).collect()
    }
    assert out[0] == 3
    assert out[2] == 2


def test_sessionize_islands(spark):
    ts = datetime
    events = spark.createDataFrame(
        [
            # u1: two sessions, split by a 31-minute gap
            ("u1", ts(2024, 1, 1, 10, 0)),
            ("u1", ts(2024, 1, 1, 10, 10)),
            ("u1", ts(2024, 1, 1, 10, 41)),
            ("u1", ts(2024, 1, 1, 10, 50)),
            # u2: one event = one session of duration 0
            ("u2", ts(2024, 1, 2, 9, 0)),
        ],
        "user_id string, ts timestamp",
    )
    out = {
        (r.user_id, r.session_idx): r
        for r in sessionize_events(events).collect()
    }
    assert len(out) == 3
    s1 = out[("u1", 1)]
    assert (s1.n_events, s1.duration_sec) == (2, 600)
    s2 = out[("u1", 2)]
    assert (s2.n_events, s2.duration_sec) == (2, 540)
    assert s2.session_start == datetime(2024, 1, 1, 10, 41)
    assert out[("u2", 1)].duration_sec == 0


def test_sessionize_gap_boundary_is_exclusive(spark):
    ts = datetime
    # exactly 30:00 apart stays ONE session (rule is gap > threshold)
    events = spark.createDataFrame(
        [("u", ts(2024, 1, 1, 0, 0)), ("u", ts(2024, 1, 1, 0, 30))],
        "user_id string, ts timestamp",
    )
    out = sessionize_events(events).collect()
    assert len(out) == 1 and out[0].n_events == 2


def test_resize_downsample_matches_python(spark):
    from ci_log_processing_spark.operators.multimodal import (
        _bmp_geometry,
        _cycle,
        attach_media,
        resize_images,
    )
    import hashlib

    text = "deterministic resize fixture"
    docs = spark.createDataFrame(
        [(0, text, "s")], "doc_id long, text string, source string"
    )
    got = resize_images(attach_media(docs)).collect()[0]
    w, h = _bmp_geometry(len(text))
    pixels = _cycle(text.encode(), w * h * 3)
    out = bytearray()
    for y in range(4):
        sy = y * h // 4
        for x in range(4):
            p = (sy * w + x * w // 4) * 3
            out += pixels[p:p + 3]
    assert got.resized_hash == hashlib.md5(bytes(out)).hexdigest()
    assert (got.width, got.height, got.new_w, got.new_h) == (w, h, 4, 4)
