"""Explicit partitioning: bucket-by-url-hash + bucketed writes (north_rule).

The reference's shuffle is RabbitMQ competing consumers on a shared queue
(/root/reference/ocr_rpc_worker.go:97-105, k8s replicas
open-ocr-worker.yaml:6). Here it is ONE Spark exchange: repartition on
xxhash64(url) — content-addressed, uniform, deterministic; AQE skew
handling covers host skew in host-keyed aggs (SURVEY.md §4.2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_of(url_col):
    """Host extraction from url, JVM-side (no Python)."""
    return F.parse_url(url_col, F.lit("HOST"))


def bucket_by_url_hash(pages: DataFrame, num_partitions: int) -> DataFrame:
    """The north_rule's bucket-by-url-hash: deterministic, key-uniform
    shuffle ahead of the extraction kernel so every task gets an even byte
    budget regardless of host skew in the input files."""
    return pages.repartition(num_partitions, F.xxhash64(F.col("url")))


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int = 32
) -> None:
    """Persist a table bucketed (and sorted) by its join key — the 100 TB
    answer to repeated fact-fact joins: two tables bucketed the same way
    join with NO exchange and NO sort at read time (the shuffle is paid
    once, at write). `tests/test_plan_shape.py` proves the exchange-free
    plan. On a real deployment this is the Iceberg `bucket(N, key)`
    partition transform; locally it is Spark's native bucketing via
    saveAsTable."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
