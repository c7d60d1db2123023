"""The names the benchmark (``perfbench/``) calls into the program. The
benchmark is versioned apart from the program, so renaming or removing
any of these breaks it; this test fails first, without a SparkSession."""

import ast
import inspect
import os

import open_ocr_spark.pipeline.job as job
from open_ocr_spark.cli import parse_args

LAYERS = os.path.join(os.path.dirname(__file__), "..", "perfbench", "layers.py")


def _job_calls() -> tuple[str, ...]:
    """``perfbench/layers.py::_JOB_CALLS``, read from the source (the
    module itself imports Spark)."""
    with open(LAYERS) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "_JOB_CALLS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/layers.py defines no _JOB_CALLS")


def test_cli_parser_yields_bench_options():
    args = parse_args(["--input", "in", "--output", "out"])
    assert isinstance(args.num_buckets, int)
    assert isinstance(args.buckets_per_commit, int)


def test_run_extraction_job_accepts_bench_keywords():
    params = inspect.signature(job.run_extraction_job).parameters
    assert {"num_buckets", "buckets_per_commit", "max_buckets"} <= set(params)


def test_job_module_exposes_every_traced_name():
    names = _job_calls()
    assert names
    assert [n for n in names if not callable(getattr(job, n, None))] == []
