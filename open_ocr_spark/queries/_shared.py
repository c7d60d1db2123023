"""Shared fixtures for the query registry: the parquet table loader, the
writer-twin payload scaffold, the boilerplate-wrapped pages table
every extraction query derives from `documents` (all Catalyst
concat/encode, zero Python), and the SimHash SQL the DuckDB oracles
share."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.dataops.dedup import _SIMHASH_BITS
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


def simhash_ctes(keys: str) -> str:
    """DuckDB CTEs ``h``, ``votes`` and ``fp`` replaying
    ``dataops.dedup``'s 62-bit SimHash: over a ``toks`` CTE of distinct
    (``keys``, tok) rows, ``fp`` holds (``keys``, simhash). Each token
    hashes to 62 bits from the two 31-bit halves of its md5; bit i of the
    fingerprint is set when more tokens have it set than not."""
    votes = ",\n                   ".join(
        f"sum(CASE WHEN ((h62 >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    assemble = "\n             + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
        h AS (
            SELECT {keys},
                   (('0x' || substring(md5(tok), 1, 8))::BIGINT % 2147483648)
                       * 2147483648
                   + (('0x' || substring(md5(tok), 9, 8))::BIGINT % 2147483648)
                       AS h62
            FROM toks
        ),
        votes AS (
            SELECT {keys},
                   {votes}
            FROM h GROUP BY {keys}
        ),
        fp AS (
            SELECT {keys},
                   {assemble} AS simhash
            FROM votes
        )"""


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
