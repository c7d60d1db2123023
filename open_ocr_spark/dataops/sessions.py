"""Sessionization over `events`: group each user's events into sessions
split by an inactivity gap.

- sessionize_events:    lag + windowed cumsum, pure Catalyst — shuffles
                        once on user_id; numbers sessions per user and
                        reports first/last event epochs.
- session_window_stats: Spark's native merging ``session_window``
                        grouping; reports the window start and close
                        (last event + gap).

Both split where the gap EXCEEDS ``gap_seconds`` and agree on each
session's (n_events, sum_value); DuckDB oracles check each of them
(queries/relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 1800


def sessionize_events(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """(user_id, session_id, n_events, sum_value, start_epoch, end_epoch):
    a new session starts when the gap to the previous event exceeds
    ``gap_seconds``. Deterministic ordering ties on event_id."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # floored epoch seconds: TIMESTAMP_NTZ has no double cast under ANSI,
    # and flooring both engines identically keeps the oracle exact
    ts_d = F.unix_timestamp(F.col("ts").cast("timestamp"))
    prev = F.lag(ts_d).over(w)
    new_sess = F.when(
        prev.isNull() | ((ts_d - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = events.withColumn("_new", new_sess).withColumn(
        "session_id", F.sum("_new").over(cum)
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min(ts_d).cast("long").alias("start_epoch"),
            F.max(ts_d).cast("long").alias("end_epoch"),
        )
        .orderBy("user_id", "session_id")
    )


def session_window_stats(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user inactivity sessions via the native session_window grouping
    (merging windows; the watermark only bounds state on a stream, a
    batch DataFrame ignores it) — the window-grouping twin of
    sessionize_events. Emits (user_id, session_start, session_end,
    n_events, sum_value); session_end is last event + gap (Spark's
    session_window close semantics), whereas sessionize_events reports
    the last event's timestamp — callers comparing the two subtract the
    gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_seconds} seconds").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
