"""Run metrics: the aggregation surface of SURVEY.md §2.B over extraction
outputs — docs/bytes/failures by host, lang, crawl day. All built-in
aggregates (partial+final map-side combine is automatic); the host rollup
goes through a salted two-phase aggregation so skewed hosts never funnel
into one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_metrics(extracted: DataFrame) -> DataFrame:
    """Per-host metrics with skew-safe two-phase agg: partial by
    (host, salt-of-url) then final by host. Counts and sums re-aggregate
    losslessly."""
    partial = (
        extracted.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(16)))
        .groupBy("host", "_salt")
        .agg(
            F.count("*").alias("_docs"),
            F.sum("n_bytes").alias("_bytes"),
            F.sum((F.col("status") != "ok").cast("long")).alias("_failures"),
        )
    )
    return (
        partial.groupBy("host")
        .agg(
            F.sum("_docs").alias("docs"),
            F.sum("_bytes").alias("bytes"),
            F.sum("_failures").alias("failures"),
        )
        .orderBy(F.desc("docs"), F.asc("host"))
    )


def error_class_metrics(extracted: DataFrame) -> DataFrame:
    """Failure breakdown by error class, one hash agg, pure Catalyst.

    ``status`` carries the coarse class (``error:pdf-unsupported``,
    ``error:lang``, ...); for unsupported PDFs the fine class — WHICH
    feature was refused (``filter-DCTDecode``, ``filter-LZWDecode,...``
    chains, ``no-length``, ``corrupt-flate``, ``ambiguous-stream``) — is
    recovered from the kernel's structured error prefix, so a crawl-scale
    run reports exactly what it skipped instead of one opaque bucket.
    """
    fine = F.regexp_extract(
        F.col("error"), r"^(pdf-unsupported:[A-Za-z0-9,._-]+)", 1
    )
    cls = F.when(
        (F.col("status") == "error:pdf-unsupported") & (fine != F.lit("")),
        F.concat(F.lit("error:"), fine),
    ).otherwise(F.col("status"))
    return (
        extracted.filter(F.col("status") != "ok")
        .groupBy(cls.alias("error_class"))
        .agg(F.count("*").alias("docs"))
        .orderBy(F.desc("docs"), F.asc("error_class"))
    )


def lang_metrics(pages: DataFrame) -> DataFrame:
    """Docs + payload bytes per language — column-pruned: reads only
    (lang, html) from the scan."""
    return (
        pages.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.octet_length("html")).alias("bytes"),
        )
        .orderBy(F.desc("docs"), F.asc("lang"))
    )


def daily_metrics(pages: DataFrame) -> DataFrame:
    """Docs per crawl day (warc_ts truncated)."""
    return (
        pages.groupBy(F.date_trunc("day", F.col("warc_ts")).alias("crawl_day"))
        .agg(F.count("*").alias("docs"))
        .orderBy("crawl_day")
    )
