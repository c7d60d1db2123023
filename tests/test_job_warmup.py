"""The job's cold start: the kernel warm-up thread ``run_extraction_job``
starts while it plans, and a job path that never calls the JVM's SQL
parser."""

import threading
import time

import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

import open_ocr_spark.pipeline.job as job
from open_ocr_spark.fixtures import golden_df, pages_df
from open_ocr_spark.pipeline.checkpoint import read_manifests
from open_ocr_spark.pipeline.job import read_extracted, run_extraction_job
from open_ocr_spark.pipeline.stages import extract_stage

N_ROWS = 120
BUCKETS = 4


def _assert_matches_goldens(spark, out, summary):
    """Rows, manifests and summary equal the generator's goldens."""
    golden = golden_df(spark, N_ROWS)
    got = read_extracted(spark, out).select("url", "extracted_text", "status")
    assert got.exceptAll(golden).count() == 0
    assert golden.exceptAll(got).count() == 0
    manifests = read_manifests(out)
    assert sorted(m["bucket"] for m in manifests) == list(range(BUCKETS))
    n = golden.count()
    assert summary["buckets_processed"] == BUCKETS and summary["docs"] == n
    assert sum(m["docs_processed"] for m in manifests) == n
    assert sum(m["failure_count"] for m in manifests) == \
        golden.filter(F.col("status") != "ok").count()


def _counting_warmups(monkeypatch, after=None):
    calls = []
    real = job._warm_kernel

    def counting(spark):
        calls.append(threading.current_thread().name)
        real(spark)
        if after:
            after()

    monkeypatch.setattr(job, "_warm_kernel", counting)
    return calls


def test_warm_page_is_one_task_through_the_kernel(spark):
    """One partition, so one task and one forked worker, not one per
    core; its one row goes through the real kernel."""
    page = extract_stage(job._warm_page(spark))
    assert page.rdd.getNumPartitions() == 1
    [row] = page.collect()
    assert (row.extracted_text, row.status) == ("warm", "ok")


def _raising_page(spark):
    # an int payload: the kernel row function raises in the worker
    return spark.range(1, numPartitions=1).select(
        F.lit("warm").alias("url"), F.col("id").alias("html"),
        F.lit("eng").alias("lang"))


def _raise(spark):
    raise RuntimeError("warm-up page failed to build")


@pytest.mark.parametrize("broken", [_raising_page, _raise],
                         ids=["in-worker", "on-driver"])
def test_failed_warmup_changes_nothing(spark, tmp_path, monkeypatch, broken):
    if broken is _raising_page:
        with pytest.raises(PythonException):
            extract_stage(_raising_page(spark)).collect()
    calls = []

    def patched(spark):
        calls.append(1)
        return broken(spark)

    monkeypatch.setattr(job, "_warm_page", patched)
    out = str(tmp_path / "run")
    summary = run_extraction_job(spark, pages_df(spark, N_ROWS), out,
                                 num_buckets=BUCKETS)
    assert calls == [1]
    _assert_matches_goldens(spark, out, summary)


def test_noop_resume_starts_no_warmup(spark, tmp_path, monkeypatch):
    """Nor does a mock run, which has no Python stage."""
    calls = _counting_warmups(monkeypatch)
    pages = pages_df(spark, N_ROWS)
    out = str(tmp_path / "run")
    run_extraction_job(spark, pages, out, num_buckets=BUCKETS)
    assert calls == ["warm-kernel"]
    noop = run_extraction_job(spark, pages, out, num_buckets=BUCKETS)
    assert noop["buckets_processed"] == 0
    mock = run_extraction_job(spark, pages, str(tmp_path / "mock"),
                              num_buckets=BUCKETS, use_mock=True)
    assert mock["buckets_processed"] == BUCKETS
    assert calls == ["warm-kernel"]


def _warmups_alive():
    return [t for t in threading.enumerate() if t.name == "warm-kernel"]


def test_no_warmup_thread_alive_after_return(spark, tmp_path, monkeypatch):
    """A warm-up that outlasts the run's write is joined before the run
    commits and returns."""
    calls = _counting_warmups(monkeypatch, after=lambda: time.sleep(5))
    alive_at_commit = []
    real_commit = job.commit_bucket

    def commit(*args, **kwargs):
        alive_at_commit.append(bool(_warmups_alive()))
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(job, "commit_bucket", commit)
    out = str(tmp_path / "run")
    summary = run_extraction_job(spark, pages_df(spark, N_ROWS), out,
                                 num_buckets=BUCKETS)
    assert calls == ["warm-kernel"]
    assert alive_at_commit == [False] * BUCKETS
    assert _warmups_alive() == []
    _assert_matches_goldens(spark, out, summary)


def test_job_never_calls_the_sql_parser(spark, tmp_path, monkeypatch):
    """The job names its types with DataType objects: a type-name string
    costs the JVM's ANTLR parser, whose first use in a fresh JVM is
    ~0.3 s of the cold job. The warm-up thread swallows its own
    failures, so every parse attempt is recorded as well as raised."""
    import sys

    from pyspark.core.context import SparkContext
    from pyspark.sql.classic.column import Column
    from pyspark.sql.types import DataType

    pages = pages_df(spark, N_ROWS)  # its DDL schema is parsed here
    parsed = []

    def refuse(what):
        def parse(*args, **kwargs):
            parsed.append((what, args))
            raise AssertionError(f"{what} called with {args}")
        return parse

    monkeypatch.setattr(DataType, "fromDDL", classmethod(refuse("fromDDL")))
    monkeypatch.setattr(SparkContext, "_parse_ddl", refuse("_parse_ddl"))
    for mod in [m for name, m in sys.modules.items()
                if name.startswith("pyspark") and m is not None]:
        if hasattr(mod, "_parse_datatype_string"):
            monkeypatch.setattr(mod, "_parse_datatype_string",
                                refuse("_parse_datatype_string"))
    real_cast = Column.cast

    def cast(self, data_type):
        if isinstance(data_type, str):
            refuse("Column.cast")(data_type)
        return real_cast(self, data_type)

    monkeypatch.setattr(Column, "cast", cast)
    out = str(tmp_path / "run")
    summary = run_extraction_job(spark, pages, out, num_buckets=BUCKETS)
    assert parsed == []
    monkeypatch.undo()
    _assert_matches_goldens(spark, out, summary)
