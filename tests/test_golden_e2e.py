"""Golden end-to-end tier (SURVEY.md §5.2.2): the full DataFrame pipeline
over the synthetic pages fixture, asserted byte-identical against the
generator-derived golden table — the reference's README-transcript /
ocr_http_handler_test pattern made assertive."""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from open_ocr_spark.fixtures import golden_df, pages_df
from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.pipeline.job import extraction_plan

N_ROWS = 400


def _plan_at(spark, partitions, materialize):
    """``extraction_plan`` with its dedupe exchange (and so its kernel)
    at ``partitions`` tasks, materialized while that conf is set."""
    confs = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return materialize(extraction_plan(pages_df(spark, N_ROWS)))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def extracted(spark):
    def cached(df):
        df = df.cache()
        df.count()
        assert df.rdd.getNumPartitions() == 8
        return df

    return _plan_at(spark, 8, cached)


@pytest.fixture(scope="module")
def golden(spark):
    return golden_df(spark, N_ROWS).cache()


def test_row_counts_match(extracted, golden):
    assert extracted.count() == golden.count()


def test_byte_identical_text_per_url(extracted, golden):
    """A15 join-by-key + golden comparison: inner join on url, assert zero
    text or status mismatches."""
    joined = extracted.alias("e").join(golden.alias("g"), "url", "inner")
    assert joined.count() == golden.count()
    mismatches = joined.filter(
        (F.col("e.extracted_text") != F.col("g.extracted_text"))
        | (F.col("e.status") != F.col("g.status"))
    )
    rows = mismatches.limit(5).collect()
    assert rows == [], f"text/status mismatches: {rows}"


def test_except_all_empty_both_ways(extracted, golden):
    """Set-op check (SURVEY.md §2.B): exceptAll empty in both directions."""
    e = extracted.select("url", "extracted_text", "status")
    g = golden.select("url", "extracted_text", "status")
    assert e.exceptAll(g).count() == 0
    assert g.exceptAll(e).count() == 0


def test_mock_rows_assert_constant(extracted, spark):
    """ocr_rpc_client_test.go:57 recast: every mock-engine row returns the
    literal constant."""
    pages = pages_df(spark, N_ROWS)
    mock_urls = pages.filter(F.col("engine") != "tesseract").select("url").distinct()
    got = extracted.join(mock_urls, "url", "left_semi")
    assert got.count() > 0
    assert got.filter(F.col("extracted_text") != MOCK_ENGINE_RESPONSE).count() == 0


def test_error_as_value_no_job_failure(extracted):
    """A17: bad documents produce status rows, never exceptions."""
    statuses = {r["status"] for r in extracted.select("status").distinct().collect()}
    assert "ok" in statuses
    assert any(s.startswith("error:") for s in statuses)


def test_dedupe_keeps_latest_crawl(extracted, golden, spark):
    """Re-crawled urls must reflect the NEWER warc_ts content."""
    pages = pages_df(spark, N_ROWS)
    dup_urls = (
        pages.groupBy("url").count().filter("count > 1").select("url")
    )
    assert dup_urls.count() > 0
    joined = (
        extracted.join(dup_urls, "url", "left_semi")
        .join(golden.select("url", F.col("extracted_text").alias("want")), "url")
    )
    assert joined.filter(F.col("extracted_text") != F.col("want")).count() == 0


def test_partition_count_invariance(spark, extracted):
    """SURVEY.md §7.3 Hard #2: output must not depend on parallelism."""
    cols = ["url", "extracted_text", "status"]

    def rows(df):
        assert df.rdd.getNumPartitions() == 3
        return Counter(map(tuple, df.select(*cols).collect()))

    want = Counter(map(tuple, extracted.select(*cols).collect()))
    assert _plan_at(spark, 3, rows) == want


def test_dedupe_agg_and_window_forms_agree(spark):
    """latest_per_url (row_number window, the scale path) and
    latest_per_url_agg (max_by form) pick identical winners,
    including on warc_ts ties (broken by xxhash64(html) desc)."""
    from pyspark.sql import functions as F

    from open_ocr_spark.fixtures import pages_df
    from open_ocr_spark.pipeline.dedupe import (
        latest_per_url,
        latest_per_url_agg,
    )

    pages = pages_df(spark, 80)
    # add a same-timestamp re-crawl for some urls to force the tie-break
    ties = pages.limit(10).withColumn(
        "html", F.concat(F.col("html"), F.lit(b"<!-- re-crawl -->"))
    )
    crawl = pages.unionByName(ties)
    a = {
        (r["url"], bytes(r["html"]))
        for r in latest_per_url(crawl).select("url", "html").collect()
    }
    b = {
        (r["url"], bytes(r["html"]))
        for r in latest_per_url_agg(crawl).select("url", "html").collect()
    }
    assert a == b and len(a) == 80
