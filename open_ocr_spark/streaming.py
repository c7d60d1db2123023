"""Structured Streaming surface.

The reference is strictly request/response — its only time semantics is a
120 s RPC timeout (/root/reference/ocr_rpc_client.go:13,141-146) — and the
graft spec is an offline batch job (SURVEY.md §2.B "Streaming": not
needed for parity). This module exists because a continuously-crawling
pages table is the natural NEXT step of the same pipeline: the SAME
extraction kernel runs unchanged under `readStream`, which is the point —
batch/stream symmetry falls out of keeping the kernel a pure function over
Arrow batches.

- stream_extract:   readStream(parquet pages dir) → mapInArrow kernel →
                    writeStream parquet sink with checkpointing.
                    Trigger.AvailableNow processes the backlog then stops
                    (the batch-parity mode tests use).
- windowed_event_counts: tumbling event-time windows + watermark for late
                    data — the streaming twin of metrics.daily_metrics.

Dedupe note: EXACT latest-per-url dedupe is not restated in streaming
(unbounded keyed state at 10^12 urls); re-crawls are folded in batch
compaction (pipeline/dedupe.py) exactly like the batch job — streaming
emits append-only extractions keyed by (url, warc_ts). What streaming CAN
do with bounded state is suppress re-crawls inside a time horizon:
stream_extract_deduped uses dropDuplicatesWithinWatermark so a url seen
twice within the watermark extracts once, and state is evicted as event
time advances — first-seen-wins inside the horizon, batch compaction
stays authoritative for latest-wins across horizons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.fixtures import PAGES_DDL
from open_ocr_spark.pipeline.ingest import ingest
from open_ocr_spark.pipeline.stages import extract_stage


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous extraction: same ingest + kernel as the batch plan (no
    dedupe — see module docstring). Returns the StreamingQuery; caller
    awaits termination."""
    pages = read_pages_stream(spark, pages_dir)
    extracted = extract_stage(ingest(pages))
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract_deduped(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
):
    """Streaming extraction with bounded-state url dedupe: a url re-crawled
    within ``watermark`` of event time extracts ONCE (first arrival wins);
    the dedupe state for a url is evicted once the watermark passes it, so
    state size is bounded by the crawl rate × horizon, not by 10^12
    lifetime urls. Latest-wins across horizons remains the batch
    compaction's job (pipeline/dedupe.py) — this operator's contract is
    "don't re-extract the same url twice in a day", which is the expensive
    part at crawl scale (the kernel runs AFTER the drop, so suppressed
    re-crawls never pay extraction).

    Determinism caveat: "first arrival" is TASK-SCHEDULING order, not
    event-time order — which replica of a within-horizon re-crawl
    survives (its warc_ts/payload) can differ between runs over the same
    files. The batch compaction's latest-per-url (deterministic, content
    tie-broken) remains the authoritative answer; this stage only bounds
    duplicated extraction work, which is why its output stays keyed by
    (url, warc_ts) and is compacted downstream like any other crawl
    append.

    Streaming twin of the reference's one-request-one-result semantics
    (/root/reference/ocr_rpc_client.go:60-101 correlates exactly one
    response per queued request id)."""
    pages = read_pages_stream(spark, pages_dir)
    deduped = pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    extracted = extract_stage(ingest(deduped))
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def session_window_stats(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user inactivity sessions via the native session_window grouping
    (merging windows, watermark-evicted state) — the streaming twin of
    dataops.sessions.sessionize_events. Emits (user_id, session_start,
    session_end, n_events, sum_value); session_end is last event + gap
    (Spark's session_window close semantics), whereas the batch
    sessionizer reports the last event's timestamp — callers comparing
    the two subtract the gap. Runs identically on a batch DataFrame (the
    parity test) and under readStream (append mode once the watermark
    closes a session)."""
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


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window with watermark: counts + value sums per
    (window, event_type). Late rows beyond the watermark are dropped;
    state is bounded by watermark horizon — works identically on a batch
    DataFrame (window agg, watermark ignored) and a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def running_user_counts_stateful(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful streaming operator (applyInPandasWithState): a
    running per-user event count + value sum whose state survives query
    restarts via the checkpoint. Each micro-batch is appended to parquet
    through foreachBatch (update-mode semantics materialized manually —
    counts are monotone, so the max per user is the current total).

    This is the graft's demonstration of arbitrary stateful processing —
    the general tool for operators Spark lacks natively."""
    from typing import Any, Iterator, Tuple

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    events = spark.readStream.schema(schema).parquet(events_dir)

    def update_counts(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n],
             "sum_value": [round(total, 4)]}
        )

    counted = events.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    return (
        counted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )

