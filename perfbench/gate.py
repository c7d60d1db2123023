"""Correctness gate: read a job's output back with DuckDB, an independent
reader, and compare it to the generator's goldens.

The gate fails a run when any of these hold:
- a committed ``(url, extracted_text, status)`` differs from its golden, a
  golden url is missing, or a url is committed twice;
- the job did not process every bucket (a reused output directory resumes
  with 0 buckets, which would read as near-infinite throughput);
- the manifests do not cover every bucket, or their ``docs_processed``
  or ``failure_count`` totals disagree with the rows committed;
- the job's own summary disagrees with the rows committed.
"""

from __future__ import annotations

import glob
import json
import os


def read_output(out_dir: str) -> list[tuple[str, str, str]]:
    import duckdb

    files = glob.glob(os.path.join(out_dir, "data", "*", "*.parquet"))
    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute(
            "select url, extracted_text, status from read_parquet(?)", [files]
        ).fetchall()
    finally:
        con.close()


def compare(rows, golden: dict) -> list[str]:
    """Problems found comparing committed rows to ``{url: (text, status)}``;
    empty when they match exactly."""
    problems = []
    seen = set()
    for url, text, status in rows:
        if url in seen:
            problems.append(f"url committed twice: {url}")
        seen.add(url)
        want = golden.get(url)
        if want is None:
            problems.append(f"unexpected url: {url}")
        elif (text, status) != want:
            problems.append(f"mismatch for {url}: status {status!r}, want {want[1]!r}")
    missing = len(golden.keys() - seen)
    if missing:
        problems.append(f"{missing} golden urls missing from the output")
    return problems


def check(out_dir: str, summary: dict, golden: dict, num_buckets: int):
    """Run the gate on one job's output. Returns (problems, rows)."""
    rows = read_output(out_dir)
    problems = compare(rows, golden)
    if summary.get("buckets_processed") != num_buckets:
        problems.append(
            f"job processed {summary.get('buckets_processed')} of {num_buckets} buckets"
        )
    if summary.get("docs") != len(rows):
        problems.append(f"summary says {summary.get('docs')} docs, output has {len(rows)}")
    manifests = []
    for path in glob.glob(os.path.join(out_dir, "manifests", "bucket=*.json")):
        with open(path) as f:
            manifests.append(json.load(f))
    if len(manifests) != num_buckets:
        problems.append(f"{len(manifests)} manifests for {num_buckets} buckets")
    docs = sum(m["docs_processed"] for m in manifests)
    if docs != len(rows):
        problems.append(f"manifests count {docs} docs, output has {len(rows)}")
    failures = sum(m["failure_count"] for m in manifests)
    errors = sum(1 for r in rows if r[2] != "ok")
    if failures != errors:
        problems.append(f"manifests count {failures} failures, output has {errors}")
    return problems, rows


def corrupted(golden: dict) -> dict:
    """A copy of ``golden`` with one row's text changed: the gate must
    reject it, which every run checks."""
    bad = dict(golden)
    url = min(bad)
    text, status = bad[url]
    bad[url] = (text + " corrupted", status)
    return bad
