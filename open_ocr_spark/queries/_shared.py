"""Shared fixtures for the query registry: the parquet table loader, the
writer-twin payload scaffold, and the boilerplate-wrapped pages table
every extraction query derives from `documents` (all Catalyst
concat/encode, zero Python)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.pipeline.stages import map_rows


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def twin_payloads(docs: DataFrame, build) -> DataFrame:
    """Writer-twin scaffold: one payload per row of ``docs``, built by
    ``build(doc_id, *values) -> bytes`` where ``values`` are the row's
    remaining columns, as ``doc_id long, payload binary``. Each query
    owns only its builder."""
    return map_rows(
        docs,
        "doc_id long, payload binary",
        lambda i, *vals: [(i, build(i, *vals))],
    )


_WRAP_PREFIX = (
    '<html><head><title>doc</title><script>q()</script></head><body>'
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/a">A</a></li>'
    '<li><a href="/b">B</a></li></ul></nav><article><p>'
)


_WRAP_SUFFIX = (
    '</p></article><footer><a href="/x">x</a> <a href="/y">y</a>'
    "<p>(c) footer</p></footer></body></html>"
)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-shaped pages table derived from the driver's documents
    table: url from doc_id, html by wrapping text in boilerplate — all
    Catalyst expressions (concat/encode), zero Python."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("https://docs.example.com/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit(_WRAP_PREFIX),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(_WRAP_SUFFIX),
            ),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.lit("eng").alias("lang"),
        F.col("doc_id"),
    )
