"""Per-layer measurement for the traced run, taken from outside the program
by calling each layer's public functions.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written out when the run ends; ``traced_job`` records one around each
  call the extraction job makes into the checkpoint layer,
  ``extraction_plan`` and the parquet writer.
- ``prefix_plans``: cumulative plan prefixes (scan, ingest, dedupe,
  identity ``mapInArrow``, full kernel, mock engine) run into Spark's noop
  sink, so each layer's cost is a difference of two prefixes.
- ``kernel_loops``: single-core loops over the kept payloads through
  ``extract_document``, each format branch's own extractor, and the HTML
  parser, main-node selection and text emission.
- ``checkpoint_commit_ms``: one job's manifest and snapshot commits.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import random
import shutil
import statistics
import time

import gen


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_JOB_CALLS = (
    "derive_snapshot_id",
    "committed_buckets",
    "read_manifests",
    "extraction_plan",
    "commit_bucket",
    "write_snapshot",
)


@contextlib.contextmanager
def traced_job(tracer: Tracer):
    """While active, every call ``run_extraction_job`` makes to the names
    it imported into ``pipeline.job``, and every parquet write action,
    records a span."""
    import open_ocr_spark.pipeline.job as job_mod
    from pyspark.sql.readwriter import DataFrameWriter

    saved = {name: getattr(job_mod, name) for name in _JOB_CALLS}
    saved_parquet = DataFrameWriter.parquet
    try:
        for name, fn in saved.items():
            setattr(job_mod, name, tracer.wrap(f"job.{name}", fn))
        DataFrameWriter.parquet = tracer.wrap("job.write_action", saved_parquet)
        yield
    finally:
        for name, fn in saved.items():
            setattr(job_mod, name, fn)
        DataFrameWriter.parquet = saved_parquet


# --- plan prefixes ---------------------------------------------------------


def _identity(batches):
    yield from batches


def prefix_plans(pages):
    """Ordered (name, DataFrame) prefixes of ``extraction_plan(pages)``;
    each adds one layer to the one before it."""
    from open_ocr_spark.pipeline.dedupe import latest_per_url
    from open_ocr_spark.pipeline.ingest import ingest
    from open_ocr_spark.pipeline.job import extraction_plan
    from open_ocr_spark.pipeline.stages import _OPTION_COLS

    cols = [c for c in ("url", "warc_ts", "html", "lang", *_OPTION_COLS) if c in pages.columns]
    kernel_cols = [c for c in cols if c != "warc_ts"]
    deduped = latest_per_url(ingest(pages).select(*cols)).select(*kernel_cols)
    return [
        ("scan", pages.select(*cols)),
        ("ingest", ingest(pages).select(*cols)),
        ("dedupe", deduped),
        ("arrow", deduped.mapInArrow(_identity, deduped.schema)),
        ("kernel", extraction_plan(pages)),
        ("mock", extraction_plan(pages, use_mock=True)),
    ]


def time_prefixes(spark, pages, tracer: Tracer, reps: int) -> dict[str, float]:
    """Best-of-``reps`` wall seconds of each prefix into the noop sink;
    each prefix runs in job group ``prefix-<name>``."""
    best = {}
    for name, df in prefix_plans(pages):
        spark.sparkContext.setJobGroup(f"prefix-{name}", name)
        for _ in range(reps):
            with tracer.span(f"prefix.{name}") as s:
                df.write.format("noop").mode("overwrite").save()
            best[name] = min(best.get(name, float("inf")), s["end"] - s["start"])
    spark.sparkContext.setJobGroup("perfbench", "other")
    return best


# --- single-core kernel loops ----------------------------------------------


def _archive_members(split):
    from open_ocr_spark.kernels.html_extract import extract_main_text

    def run(payload):
        return [extract_main_text(data) for _, data in split(payload)]

    return run


def branch_extractors() -> dict:
    """Each format branch's own extractor, the work ``extract_document``
    routes a payload to. Archive members are plain HTML/text, which the
    dispatch sends to the HTML extractor."""
    from open_ocr_spark.kernels.archive import gunzip_payload, split_tar, split_zip
    from open_ocr_spark.kernels.dispatch import MAX_DOC_BYTES
    from open_ocr_spark.kernels.eml_text import extract_eml_text
    from open_ocr_spark.kernels.html_extract import extract_main_text
    from open_ocr_spark.kernels.ipynb_text import extract_ipynb_text
    from open_ocr_spark.kernels.latex_text import extract_latex_text
    from open_ocr_spark.kernels.pdf_text import extract_pdf_text
    from open_ocr_spark.kernels.ps_text import extract_ps_text
    from open_ocr_spark.kernels.subtitle_text import extract_srt_text, extract_webvtt_text

    return {
        "html": extract_main_text,
        "pdf": extract_pdf_text,
        "ps": extract_ps_text,
        "latex": extract_latex_text,
        "ipynb": extract_ipynb_text,
        "eml": extract_eml_text,
        "zip": _archive_members(split_zip),
        "targz": _archive_members(lambda p: split_tar(gunzip_payload(p, cap=MAX_DOC_BYTES))),
        "srt": extract_srt_text,
        "vtt": extract_webvtt_text,
    }


def _dispatcher():
    """``extract_document`` on one generated row, with the arguments the
    Arrow kernel passes it."""
    from open_ocr_spark.kernels.dispatch import extract_document

    def run(row):
        pargs = row.get("preprocessor_args")
        return extract_document(
            row["html"],
            lang=row["lang"],
            engine=row.get("engine"),
            preprocessors=row.get("preprocessors"),
            preprocessor_args=dict(pargs) if pargs else None,
        )

    return run


def _timed_ns(fn, arg) -> int:
    t = time.perf_counter_ns()
    fn(arg)
    return time.perf_counter_ns() - t


def kernel_loops(wl, fixture, seed: int, budget_s: float, max_docs: int):
    """Single-core timings on the payloads the dedupe keeps. ``fixture``
    supplies docs for format branches the workload does not have.
    Returns (metrics, sample counts)."""
    from open_ocr_spark.kernels.html_extract import extract_main_text, select_main_node
    from open_ocr_spark.kernels.htmltree import parse_html

    docs = wl.winners()
    random.Random(seed).shuffle(docs)
    extractors = branch_extractors()
    out = {}

    # extract_document per doc, then the same docs through their branch
    # extractor: the difference is dispatch routing
    dispatch = _dispatcher()
    disp, own = [], []
    stop = time.perf_counter() + budget_s
    for row in docs[:max_docs]:
        if time.perf_counter() > stop:
            break
        disp.append(_timed_ns(dispatch, row))
    for row in docs[: len(disp)]:
        fn = extractors.get(wl.branch[row["url"]])
        own.append(_timed_ns(fn, row["html"]) if fn else 0)
    q = statistics.quantiles(disp, n=100) if len(disp) > 1 else [disp[0]] * 99
    out["dispatch.ms_per_doc_p50"] = q[49] / 1e6
    out["dispatch.ms_per_doc_p99"] = q[98] / 1e6
    out["dispatch.routing_frac"] = (sum(disp) - sum(own)) / sum(disp)

    # HTML layers: parse, main-node selection, and the whole
    # extract_main_text (parse, selection and text emission); the latter is
    # also the HTML branch's format.* figure
    html_docs = [r["html"] for r in docs if wl.branch[r["url"]] == "html"]
    parse = select = extract = nbytes = n_html = 0
    stop = time.perf_counter() + budget_s
    for payload in html_docs[:max_docs]:
        if time.perf_counter() > stop:
            break
        t0 = time.perf_counter_ns()
        root = parse_html(payload)
        t1 = time.perf_counter_ns()
        select_main_node(root)
        t2 = time.perf_counter_ns()
        extract_main_text(payload)
        t3 = time.perf_counter_ns()
        parse += t1 - t0
        select += t2 - t1
        extract += t3 - t2
        nbytes += len(payload)
        n_html += 1
    out["html.parse_ms_per_doc"] = parse / n_html / 1e6
    out["html.select_ms_per_doc"] = select / n_html / 1e6
    out["html.extract_ms_per_doc"] = extract / n_html / 1e6
    out["html.mb_per_s"] = nbytes / 1e6 / (extract / 1e9)

    out["format.html.ms_per_doc"] = out["html.extract_ms_per_doc"]
    out["format.html.mb_per_s"] = out["html.mb_per_s"]

    # every other format branch's own extractor
    own_docs, extra_docs = _by_branch(wl, docs), _by_branch(fixture, fixture.winners())
    others = [b for b in gen.BRANCHES if b != "html"]
    for b in others:
        total = nbytes = n = 0
        stop = time.perf_counter() + budget_s / len(others)
        for payload in (own_docs.get(b) or extra_docs[b])[:max_docs]:
            if n and time.perf_counter() > stop:
                break
            total += _timed_ns(extractors[b], payload)
            nbytes += len(payload)
            n += 1
        out[f"format.{b}.ms_per_doc"] = total / n / 1e6
        out[f"format.{b}.mb_per_s"] = nbytes / 1e6 / (total / 1e9)
    counts = {"dispatch_docs": len(disp), "html_docs": n_html}
    return out, counts


def _by_branch(wl, rows) -> dict[str, list[bytes]]:
    out: dict[str, list[bytes]] = {}
    for row in rows:
        b = wl.branch[row["url"]]
        if b is not None:
            out.setdefault(b, []).append(row["html"])
    return out


def checkpoint_commit_ms(work: str, num_buckets: int, reps: int = 3) -> float:
    """Median wall milliseconds of one job's commits on a scratch dir:
    ``num_buckets`` manifests and one snapshot."""
    from open_ocr_spark.pipeline.checkpoint import commit_bucket, write_snapshot

    walls = []
    for r in range(reps):
        d = os.path.join(work, f"ckpt-{r}")
        shutil.rmtree(d, ignore_errors=True)
        t = time.perf_counter()
        for b in range(num_buckets):
            commit_bucket(d, b, run_id="bench", input_snapshot_id="snap", docs=1,
                          bytes_processed=1, failures=0)
        write_snapshot(d, run_id="bench", input_snapshot_id="snap",
                       buckets_processed=list(range(num_buckets)))
        walls.append((time.perf_counter() - t) * 1e3)
        shutil.rmtree(d, ignore_errors=True)
    return statistics.median(walls)
