"""Sessionization: the lag-cumsum sessionizer's gap rule, and its
agreement with the native session_window grouping."""

import pyspark.sql.functions as F

from open_ocr_spark.dataops.sessions import (
    session_window_stats,
    sessionize_events,
)


def test_session_gap_semantics(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "c", 1.0, ""),
            (2, "2024-01-01 10:10:00", 7, "c", 2.0, ""),   # same session
            (3, "2024-01-01 11:00:00", 7, "c", 4.0, ""),   # 50min gap: new
            (4, "2024-01-01 11:00:00", 8, "c", 8.0, ""),   # other user
        ],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in sessionize_events(events, gap_seconds=1800).collect()
    }
    assert got[(7, 1)] == (2, 3.0)
    assert got[(7, 2)] == (1, 4.0)
    assert got[(8, 1)] == (1, 8.0)


def test_session_window_stats_matches_batch_sessionizer(spark):
    """The native session_window grouping reproduces the batch
    sessionizer's (n_events, sum_value) per session, and its window end is
    last-event + gap (documented close semantics)."""
    rows = [
        # user 1: two sessions (gap 1800s): events at 10:00,10:10 | 11:30
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:10:00", 1, "view", 2.0),
        (3, "2024-01-01 11:30:00", 1, "click", 4.0),
        # user 2: one session spanning the same wall-clock range
        (4, "2024-01-01 10:00:00", 2, "click", 8.0),
        (5, "2024-01-01 10:29:00", 2, "view", 16.0),
        (6, "2024-01-01 10:58:00", 2, "click", 32.0),
        # user 3: gap of EXACTLY 1800 s — merges into one session (Spark
        # merges an event landing on the window close; new session only
        # when the gap exceeds the duration, probed live)
        (7, "2024-01-01 10:00:00", 3, "click", 64.0),
        (8, "2024-01-01 10:30:00", 3, "view", 128.0),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value",
    )

    got = {
        (r["user_id"], str(r["session_start"])): r
        for r in session_window_stats(events, gap_seconds=1800).collect()
    }
    assert len(got) == 4
    s3 = got[(3, "2024-01-01 10:00:00")]
    assert (s3["n_events"], s3["sum_value"]) == (2, 192.0)
    s1a = got[(1, "2024-01-01 10:00:00")]
    assert (s1a["n_events"], s1a["sum_value"]) == (2, 3.0)
    # close = last event (10:10) + 1800s gap
    assert str(s1a["session_end"]) == "2024-01-01 10:40:00"
    s1b = got[(1, "2024-01-01 11:30:00")]
    assert (s1b["n_events"], s1b["sum_value"]) == (1, 4.0)
    s2 = got[(2, "2024-01-01 10:00:00")]
    assert (s2["n_events"], s2["sum_value"]) == (3, 56.0)

    # full parity vs the batch sessionizer: same session count and the
    # same (n_events, sum_value) multiset per user; start == start and
    # end == session_end - gap
    batch = sessionize_events(events, gap_seconds=1800).collect()
    assert len(batch) == len(got)
    batch_keys = {
        (b["user_id"], b["start_epoch"], b["n_events"], b["sum_value"])
        for b in batch
    }
    stream_keys = {
        (
            r["user_id"],
            int(r["session_start"].timestamp()),
            r["n_events"],
            r["sum_value"],
        )
        for r in got.values()
    }
    assert batch_keys == stream_keys
