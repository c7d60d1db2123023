"""Benchmark of the extraction job as the CLI runs it.

Run from the repository root:

    python3 perfbench/run.py --workload crawl-html --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload format-mix --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload crawl-html --smoke --trace 1   # tiny, full path

One run is one Python process running one job at a time (a closed loop,
no concurrent clients) on ``local[nproc]``. It generates the workload from
``--seed`` (``gen.py``), writes it as parquet, and calls
``pipeline.job.run_extraction_job`` with the CLI's own defaults, read from
``open_ocr_spark.cli.parse_args`` (64 buckets, 8 per commit). Every timed
job gets a fresh output directory, and every output row is checked against
the generator's goldens (``gate.py``). The last stdout line is one JSON
object: ``correct``, ``attempted`` (timed jobs), ``failed`` (jobs that
raised or failed the gate) and ``metrics``. The line before it holds
context: host size, CPU control before and after, CPU steal during the
run, sample counts. The exit
code is 1 when the gate fails, 2 when the program cannot be imported.

``--trace 0`` reports the end-to-end metrics. Job wall is the
``run_extraction_job`` call to its return, write, manifests and snapshot
included. Jobs run until the next one would pass ``--seconds`` of job
wall, at least one; at the sizes here that is one job, the first of a
fresh JVM, as in every CLI run: its warm-up cost (JIT, first Python
workers) is what a CLI user pays, and ``setup.warmup_s`` in the traced run
isolates it.

- ``setup_s``        session start, overlapped with input generation and
                     materialisation (median of 3 parquet writes)
- ``docs_per_s``     committed (deduped) docs / own job wall, median over
                     jobs. Own job wall is the job wall minus the seconds
                     the hypervisor ran other guests on the host's
                     CPUs meanwhile (/proc/stat steal, per CPU): on a
                     shared VM that steal swings from ~0 to ~25% of the
                     CPUs within minutes, and the raw wall with it. Raw
                     walls and steal are in the context line.
- ``input_mb_per_s`` input ``html`` MB / own job wall, median over jobs
- ``peak_rss_mb``    summed VmHWM of the Spark JVM and its Python workers;
                     the heap is fixed (``-Xms`` = ``-Xmx``, fixed young
                     generation) so the figure follows what the job
                     touches, not when the GC chose to grow the heap
- ``doc_error_frac`` committed docs with ``status != "ok"`` / committed
                     docs (the docs the kernel attempted)

``--trace 1`` starts the session with the Spark event log on, runs the
cold job, a traced job and an untraced job, and reports the per-layer
metrics (see ``layers.py`` and ``eventlog.py``): ``job.wall_s`` is the
last, untraced job; ``setup.warmup_s`` is the cold job's wall minus it;
cumulative plan-prefix deltas satisfy ``scan.s + ingest.s + dedupe.s +
arrow.s + kernel.s + write.s == job.wall_s``; event-log counts come from
the traced job; then single-core kernel loops, one job's commits, and
``scaling.efficiency_1_to_n``, two commit groups of the job at ``local[1]``
against ``local[nproc]``. ``trace.overhead_s`` is the traced job's wall
minus ``job.wall_s``, an upper bound as the untraced job runs warmer.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

import gate
import gen
import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SCALING_BUCKETS = 16  # two commit groups per side of the scaling pair
INPUT_WRITES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs through the full path and the gate")
    return p.parse_args(argv)


def _prepare_work_dir() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the program and this directory's modules
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([old] if old else []))


def start_session(sizing: dict, master: str, eventlog: bool):
    from open_ocr_spark.pipeline.session import get_spark

    # a fixed heap (-Xms = -Xmx, fixed young generation): the JVM's peak
    # RSS then follows what the job touches, not when G1 chose to grow
    conf = {
        "spark.driver.memory": sizing["heap"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{sizing['heap']} -Xmn{sizing['young_gen']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=sizing["shuffle_partitions"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it and the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while host.descendants_hwm() and time.monotonic() < deadline:
        time.sleep(0.2)


def run_job(spark, cli, in_dir: str, out_dir: str, max_buckets=None):
    """One extraction job as the CLI runs it; returns (wall seconds,
    summary). The wall spans the ``run_extraction_job`` call only."""
    from open_ocr_spark.pipeline.job import run_extraction_job

    shutil.rmtree(out_dir, ignore_errors=True)
    pages = spark.read.parquet(in_dir)
    t = time.perf_counter()
    summary = run_extraction_job(
        spark, pages, out_dir,
        num_buckets=cli.num_buckets,
        buckets_per_commit=cli.buckets_per_commit,
        max_buckets=max_buckets,
    )
    return time.perf_counter() - t, summary


class Bench:
    def __init__(self, args):
        from open_ocr_spark.cli import parse_args as cli_parse_args

        self.args = args
        self.sizing = host.sizing()
        self.in_dir = os.path.join(WORK, "input")
        self.cli = cli_parse_args(["--input", self.in_dir, "--output", WORK])
        self.context = {
            "workload": args.workload,
            "seed": args.seed,
            "smoke": args.smoke,
            **self.sizing,
            "num_buckets": self.cli.num_buckets,
            "buckets_per_commit": self.cli.buckets_per_commit,
            "cpu_miter_s_before": host.cpu_control(),
        }
        self.steal_at_start = host.steal_s()
        self.setup = {}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- setup ------------------------------------------------------------

    def _make_input(self):
        """Generate the workload and write it ``INPUT_WRITES`` times; the
        median write counts. Returns (workload, seconds, parquet bytes)."""
        a = self.args
        t = time.perf_counter()
        wl = gen.generate(a.workload, a.seed, a.smoke)
        gen_s = time.perf_counter() - t
        writes = []
        for i in range(INPUT_WRITES):
            d = self.in_dir if i == 0 else f"{self.in_dir}-{i}"
            t = time.perf_counter()
            pq_bytes = gen.write_parquet(wl, d)
            writes.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(d)
        return wl, gen_s + statistics.median(writes), pq_bytes

    def set_up(self, eventlog: bool):
        """Start the session while the input is generated and written."""
        t0 = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            made = pool.submit(self._make_input)
            self.spark = start_session(self.sizing, self.sizing["master"], eventlog)
            self.setup["session_s"] = time.perf_counter() - t0
            self.wl, self.setup["input_s"], pq_bytes = made.result()
        self.context.update(
            input_rows=self.wl.input_rows,
            committed_docs=len(self.wl.golden),
            input_html_mb=self.wl.html_bytes / 1e6,
            input_parquet_mb=pq_bytes / 1e6,
        )
        self.setup_s = time.perf_counter() - t0

    # -- one gated job ----------------------------------------------------

    def gated_job(self, out_name: str):
        """One job through the gate; returns (wall seconds, seconds stolen
        by the hypervisor per CPU meanwhile, committed error fraction)."""
        out = os.path.join(WORK, out_name)
        stolen = host.steal_s()
        wall, summary = run_job(self.spark, self.cli, self.in_dir, out)
        stolen = host.steal_s() - stolen
        problems, rows = gate.check(out, summary, self.wl.golden, self.cli.num_buckets)
        if not gate.compare(rows, gate.corrupted(self.wl.golden)):
            problems.append("gate accepted a corrupted golden row")
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems[:5]
        shutil.rmtree(out)
        errors = sum(1 for r in rows if r[2] != "ok")
        return wall, stolen, errors / max(1, len(rows))

    # -- trace 0 ----------------------------------------------------------

    def end_to_end(self) -> dict:
        self.set_up(eventlog=False)
        # jobs until the next one would pass --seconds of job wall; the
        # first runs cold, as in every CLI run
        walls, stolen = [], []
        while True:
            wall, steal, error_frac = self.gated_job(f"out-{len(walls)}")
            walls.append(wall)
            stolen.append(steal)
            if sum(walls) + wall > self.args.seconds:
                break
        procs = host.descendants_hwm()
        self.spark.stop()
        # the wall the job had on the host's CPUs: the time the
        # hypervisor ran other guests is taken out
        own = [w - s for w, s in zip(walls, stolen)]
        docs, mb = len(self.wl.golden), self.wl.html_bytes / 1e6
        self.context.update(job_walls_s=walls, job_steal_s=stolen, setup_phases_s=self.setup,
                            peak_rss_mb_by_process=procs, error_frac_base="committed docs")
        return {
            "setup_s": (self.setup_s, "s"),
            "docs_per_s": (statistics.median(docs / w for w in own), "docs/s"),
            "input_mb_per_s": (statistics.median(mb / w for w in own), "MB/s"),
            "peak_rss_mb": (sum(mb for _, mb in procs), "MB"),
            "doc_error_frac": (error_frac, "ratio"),
        }

    # -- trace 1 ----------------------------------------------------------

    def traced(self) -> dict:
        import eventlog
        import layers

        a = self.args
        tracer = layers.Tracer(uuid.uuid4().hex[:12])
        with tracer.span("setup"):
            self.set_up(eventlog=True)
        sc = self.spark.sparkContext
        # the first job runs cold, like every CLI run; then the traced job
        # and an untraced one. The untraced job runs last, on the warmest
        # JVM, so trace.overhead_s is an upper bound.
        sc.setJobGroup("job-cold", "first job")
        cold = self.gated_job("out-cold")[0]
        sc.setJobGroup("job-traced", "traced job")
        with tracer.span("job"), layers.traced_job(tracer):
            traced = self.gated_job("out-traced")[0]
        sc.setJobGroup("job-plain", "untraced job")
        plain = self.gated_job("out-plain")[0]
        m = {
            "setup.session_s": (self.setup["session_s"], "s"),
            "setup.input_s": (self.setup["input_s"], "s"),
            "setup.warmup_s": (cold - plain, "s"),
        }
        with tracer.span("prefixes"):
            pre = layers.time_prefixes(self.spark, self.spark.read.parquet(self.in_dir),
                                       tracer, reps=1)
        sc.setJobGroup("scaling-n", "scaling pair, local[nproc]")
        with tracer.span("scaling.n"):
            wall_n, _ = run_job(self.spark, self.cli, self.in_dir,
                                os.path.join(WORK, "out-scaling"), SCALING_BUCKETS)
        self.context["peak_rss_mb_by_process"] = host.descendants_hwm()
        self.spark.stop()  # completes the event log

        ev = eventlog.EventLog(os.path.join(WORK, "eventlog"))
        job, dedupe = ev.totals("job-traced"), ev.totals("prefix-dedupe")
        m.update({
            "job.wall_s": (plain, "s"),
            "trace.overhead_s": (traced - plain, "s"),
            "scan.s": (pre["scan"], "s"),
            "ingest.s": (pre["ingest"] - pre["scan"], "s"),
            "dedupe.s": (pre["dedupe"] - pre["ingest"], "s"),
            "arrow.s": (pre["arrow"] - pre["dedupe"], "s"),
            "kernel.s": (pre["kernel"] - pre["arrow"], "s"),
            "kernel.mock_s": (pre["mock"], "s"),
            "write.s": (plain - pre["kernel"], "s"),
            "scan.rows_read_per_input_row": (job["records_read"] / self.wl.input_rows, "ratio"),
            "dedupe.keep_ratio": (len(self.wl.golden) / self.wl.input_rows, "ratio"),
            "dedupe.shuffle_mb": (dedupe["shuffle_bytes_written"] / 1e6, "MB"),
            "dedupe.shuffle_bytes_per_input_byte":
                (dedupe["shuffle_bytes_written"] / self.wl.html_bytes, "ratio"),
            "arrow.mb_to_python": (job["py_bytes_sent"] / 1e6, "MB"),
            "arrow.mb_from_python": (job["py_bytes_returned"] / 1e6, "MB"),
            "arrow.worker_init_s": ((job["py_start_ms"] + job["py_init_ms"]) / 1e3, "s"),
            "job.spark_jobs": (job["jobs"], "count"),
            "exec.cpu_s": (job["cpu_ns"] / 1e9, "s"),
            "exec.gc_s": (job["gc_ms"] / 1e3, "s"),
            "exec.spill_mb": (job["spill_bytes"] / 1e6, "MB"),
            "exec.peak_exec_mem_mb": (job["peak_exec_mem"] / 1e6, "MB"),
        })

        with tracer.span("kernel_loops"):
            fixture = gen.gen_format_mix(gen.SMOKE_SIZE["format-mix"], a.seed)
            budget = 0.2 if a.smoke else 1.5
            loops, counts = layers.kernel_loops(self.wl, fixture, a.seed, budget, 1000)
        units = {"ms_per_doc": "ms", "mb_per_s": "MB/s", "frac": "ratio"}
        for name, value in loops.items():
            unit = next((u for k, u in units.items() if k in name), "ms")
            m[name] = (value, unit)
        self.context["kernel_loop_samples"] = counts
        with tracer.span("checkpoint"):
            m["checkpoint.commit_ms"] = (
                layers.checkpoint_commit_ms(os.path.join(WORK, "ckpt"), self.cli.num_buckets), "ms")

        with tracer.span("scaling.1"):
            # same JVM, new context: one commit group starts its Python
            # workers before the timed side runs
            self.spark = start_session(self.sizing, "local[1]", eventlog=False)
            run_job(self.spark, self.cli, self.in_dir, os.path.join(WORK, "out-scaling"),
                    max_buckets=self.cli.buckets_per_commit)
            wall_1, _ = run_job(self.spark, self.cli, self.in_dir,
                                os.path.join(WORK, "out-scaling"), SCALING_BUCKETS)
            self.spark.stop()
        m["scaling.efficiency_1_to_n"] = (wall_1 / (self.sizing["nproc"] * wall_n), "ratio")
        tracer.write(os.path.join(WORK, "spans.json"))
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import open_ocr_spark.cli  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    _prepare_work_dir()
    bench = Bench(args)
    try:
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        stop_jvm()
        # keep only the spans and the event log
        for name in os.listdir(WORK):
            if name not in ("spans.json", "eventlog"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    bench.context["cpu_miter_s_after"] = host.cpu_control()
    bench.context["steal_s_per_cpu"] = host.steal_s() - bench.steal_at_start
    if bench.problems:
        bench.context["gate_problems"] = bench.problems[:20]
    correct = bench.failed == 0 and not bench.problems
    print(json.dumps({"perfbench_context": bench.context}))
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
