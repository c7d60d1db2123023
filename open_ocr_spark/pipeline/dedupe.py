"""Latest-crawl-per-url dedupe: the window stage before extraction.

Crawl tables carry re-fetches of the same url; extraction must run on the
newest snapshot only (SURVEY.md §2.B "Window functions"). Deterministic
tie-break on the html hash so the result is stable at any parallelism even
if two crawls share a timestamp (SURVEY.md §7.3 Hard #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_url(pages: DataFrame) -> DataFrame:
    """Keep exactly one row per url: max warc_ts, ties broken by
    xxhash64(html) descending (deterministic, content-derived — no UUIDs,
    SURVEY.md §4.2.4).

    Implemented as a row_number window, which Spark plans with
    WindowGroupLimit: a map-side top-1-per-url prune BEFORE the url-hash
    exchange (only candidate winners shuffle — re-fetches co-located in an
    input split collapse there), then one exchange + final top-1. Both
    sorts are per-partition pointer sorts over (url, warc_ts, tie) keys —
    UnsafeExternalSorter moves row pointers, not the html payload. The
    max_by(struct) aggregate form (kept below for parity tests) is NOT the
    scale path: its var-length aggregation buffer forces Catalyst to
    SortAggregate, materializing two full sorts of the aggregation rows
    for the same single exchange. Output rows leave this exchange
    hash-distributed by url — the downstream extraction kernel needs no
    second repartition (the north_rule's bucket-by-url-hash IS this
    shuffle). Exact duplicate rows (same url, warc_ts, html) collapse to
    one, which a winner-key join-back restructure could not guarantee."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(),
        F.xxhash64(F.col("html")).desc(),
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_per_url_agg(pages: DataFrame) -> DataFrame:
    """max_by(struct) aggregate form of the same operator (kept for parity
    tests and SURVEY §2.B aggregation coverage). Catalyst plans it as
    SortAggregate — two sorts around the exchange — because the struct
    buffer holding html is not mutable; see latest_per_url for why the
    window form wins at scale."""
    other_cols = [c for c in pages.columns if c != "url"]
    ordering = F.struct(
        F.col("warc_ts"), F.xxhash64(F.col("html")).alias("_tie")
    )
    picked = pages.groupBy("url").agg(
        F.max_by(F.struct(*other_cols), ordering).alias("_row")
    )
    return picked.select("url", *[F.col(f"_row.{c}").alias(c) for c in other_cols])
