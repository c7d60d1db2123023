"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship extraction query over /root/testdata/sf0.001:
                wrap every document in Common-Crawl-style boilerplate HTML
                (pure Catalyst), run the vectorized mapInArrow extraction
                kernel, return (doc_id, extracted_text, status).
queries()     — one entry per implemented operator (SURVEY.md §2), each
                (spark, sf_dir) -> DataFrame.
oracle_sql()  — matching DuckDB ANSI SQL per query; keys omitted for
                kernel/hash-seeded ops get the rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from open_ocr_spark.queries import ORACLES, QUERIES
from open_ocr_spark.queries.extraction import q_extract_main_text

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_main_text(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
