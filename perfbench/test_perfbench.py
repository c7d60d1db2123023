"""Tests of the benchmark itself: the generator, the gate, and smoke runs of
every workload through the full path.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import gen  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_generator_is_seeded(name):
    a, b, c = (gen.generate(name, s, smoke=True) for s in (5, 5, 6))
    assert a.rows == b.rows and a.golden == b.golden
    assert a.rows != c.rows


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_goldens_match_the_kernel_on_kept_rows(name):
    """The generator's goldens are what the kernel must produce for the row
    the dedupe keeps; checked here on one core without Spark."""
    from open_ocr_spark.kernels.dispatch import extract_document

    wl = gen.generate(name, 11, smoke=True)
    kept = wl.winners()
    assert len(kept) == len(wl.golden)
    for row in kept:
        pargs = row.get("preprocessor_args")
        text, status, _ = extract_document(
            row["html"], lang=row["lang"], engine=row.get("engine"),
            preprocessors=row.get("preprocessors"),
            preprocessor_args=dict(pargs) if pargs else None)
        assert (text, status) == wl.golden[row["url"]], row["url"]


def test_crawl_html_has_recrawls_and_timestamp_ties():
    wl = gen.generate("crawl-html", 3)
    keys = [(r["url"], r["warc_ts"]) for r in wl.rows]
    assert len(keys) - len(set(keys)) == 12  # 2% of 600 urls
    assert len({r["url"] for r in wl.rows}) == len(wl.golden) == 600
    assert wl.input_rows == 600 + 12 + 60


def test_xxhash64_reference_vectors():
    # XXH64 test vectors, seed 0, as unsigned 64-bit values
    assert gen.xxhash64(b"", seed=0) % 2**64 == 0xEF46DB3751D8E999
    assert gen.xxhash64(b"a", seed=0) % 2**64 == 0xD24EC4F1A98C6E5B
    assert gen.xxhash64(b"abc", seed=0) % 2**64 == 0x44BC2CF5AD770999


def _fake_output(tmp_path, golden, buckets=4):
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls = sorted(golden)
    os.makedirs(tmp_path / "manifests")
    for b in range(buckets):
        part = urls[b::buckets]
        d = tmp_path / "data" / f"bucket={b}"
        os.makedirs(d)
        pq.write_table(pa.table({
            "url": part,
            "extracted_text": [golden[u][0] for u in part],
            "status": [golden[u][1] for u in part],
        }), d / "part-0.parquet")
        with open(tmp_path / "manifests" / f"bucket={b}.json", "w") as f:
            json.dump({"docs_processed": len(part),
                       "failure_count": sum(golden[u][1] != "ok" for u in part)}, f)
    return str(tmp_path), {"buckets_processed": buckets, "docs": len(urls)}


def test_gate_accepts_exact_output_and_rejects_corruption(tmp_path):
    golden = gen.generate("format-mix", 2, smoke=True).golden
    out, summary = _fake_output(tmp_path, golden)
    problems, rows = gate.check(out, summary, golden, 4)
    assert problems == []
    assert gate.compare(rows, gate.corrupted(golden))

    # one corrupted output row fails the gate
    import pyarrow.parquet as pq

    path = tmp_path / "data" / "bucket=0" / "part-0.parquet"
    t = pq.read_table(path).to_pydict()
    t["extracted_text"][0] += "!"
    import pyarrow as pa

    pq.write_table(pa.table(t), path)
    problems, _ = gate.check(out, summary, golden, 4)
    assert any("mismatch" in p for p in problems)


def test_gate_rejects_a_resumed_output_dir(tmp_path):
    golden = gen.generate("crawl-html", 2, smoke=True).golden
    out, _ = _fake_output(tmp_path, golden)
    problems, _ = gate.check(out, {"buckets_processed": 0, "docs": 0}, golden, 4)
    assert any("processed 0 of 4 buckets" in p for p in problems)


def _run(*args, cwd=ROOT):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    return res


@pytest.mark.parametrize("name", gen.WORKLOADS)
def test_smoke_traced_run_prints_every_per_layer_metric(name):
    res = _result(_run("--workload", name, "--seed", "2", "--seconds", "1",
                       "--trace", "1", "--smoke"))
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    layers = sum(m[k] for k in ("scan.s", "ingest.s", "dedupe.s", "arrow.s", "kernel.s", "write.s"))
    assert layers == pytest.approx(m["job.wall_s"])
    assert m["scan.rows_read_per_input_row"] > 1  # every commit group rescans


def test_smoke_end_to_end_run_prints_every_end_to_end_metric():
    res = _result(_run("--workload", "format-mix", "--seed", "2", "--seconds", "1",
                       "--trace", "0", "--smoke"))
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "crawl-html", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
