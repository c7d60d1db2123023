"""End-to-end extraction job: read → ingest → dedupe → extract → write +
manifest. This is the reference's whole §3.1 lifecycle as ONE batch
plan, plus resumability.

Two entry points:
- ``extraction_plan``      pure DataFrame → DataFrame (what tests/oracle
                           compare; no side effects; single Spark job)
- ``run_extraction_job``   the resumable spark-submit job: one write action
                           of its uncommitted buckets into one new data
                           directory, a manifest per bucket, then the
                           run's snapshot, which commits it
                           (checkpoint.py); a rerun filters committed
                           buckets out right above the scan.

At 100 TB the bucket count is sized so one bucket ≈ a few hundred GB of
input (e.g. B=1024); locally the tests use B=8. A run is one scan and one
write action, so the unit of resume is the run (or its ``max_buckets``
slice), and it writes one file per write task, whatever B is.

A run with buckets to process also warms the kernel path while the
driver plans: a background thread sends one tiny page through
``extract_stage`` (one task, one row, collected and dropped), so the
Python daemon, a worker with the kernels imported and the JVM's Arrow
runner are up by the time the kernel stage asks for them, and the stage
reuses that idle worker. The run joins the thread before it commits; a
warm-up that fails changes nothing.
"""

from __future__ import annotations

import os
import threading
import uuid
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.pipeline.checkpoint import (
    BUCKET_COL,
    check_layout,
    commit_bucket,
    committed_buckets,
    derive_snapshot_id,
    read_manifests,
    remove_uncommitted,
    snapshot_chain,
    with_bucket,
    write_snapshot,
)
from open_ocr_spark.pipeline.dedupe import latest_per_url
from open_ocr_spark.pipeline.ingest import ingest
from open_ocr_spark.pipeline.stages import (
    _OPTION_COLS,
    extract_stage,
    mock_stage,
)


def extraction_plan(pages: DataFrame, *, use_mock: bool = False) -> DataFrame:
    """The flagship query as a single declarative plan:

        scan → ingest-normalize → latest-per-url dedupe (ONE url-hash
        shuffle) → map_rows extraction kernel

    (SURVEY.md §7.1 minimum slice). Returns (url, extracted_text, status,
    error, n_bytes).

    The dedupe's groupBy(url) exchange IS the bucket-by-url-hash shuffle:
    its output is already hash-distributed by url, so no second exchange
    sits in front of the kernel; ``spark.sql.shuffle.partitions`` (with
    AQE coalescing) sets the kernel's parallelism.

    Column pruning happens BEFORE the dedupe, not after: any column left
    in the frame here (the crawl table's ``text`` snapshot column in
    particular — as large as ``html``) would ride the url-hash exchange
    and the window sort buffers. Projecting first roughly halves the
    shuffle volume on an input_hint-shaped table."""
    return _plan_ingested(ingest(pages), use_mock=use_mock)


def _plan_ingested(df: DataFrame, *, use_mock: bool) -> DataFrame:
    """``extraction_plan`` after its ingest step."""
    keep = ["url", "warc_ts", "html", "lang", *_OPTION_COLS]
    df = latest_per_url(df.select(*[c for c in keep if c in df.columns]))
    return mock_stage(df) if use_mock else extract_stage(df)


def _warm_page(spark: SparkSession) -> DataFrame:
    """One tiny HTML page in ONE partition: ``spark.range(1)`` alone would
    plan ``defaultParallelism`` tasks and fork a worker for each."""
    return spark.range(1, numPartitions=1).select(
        F.lit("warm").alias("url"),
        F.lit(b"<p>warm</p>").alias("html"),
        F.lit("eng").alias("lang"),
    )


def _warm_kernel(spark: SparkSession) -> None:
    """The warm-up: the page through the real boundary, its row dropped.
    A failure is swallowed; the run's own kernel stage surfaces a real
    fault."""
    try:
        extract_stage(_warm_page(spark)).collect()
    except Exception:
        pass


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    num_buckets: int = 8,
    buckets_per_commit: int = 1,
    input_snapshot_id: str | None = None,
    run_id: str | None = None,
    max_buckets: int | None = None,
    use_mock: bool = False,
) -> dict:
    """Resumable extraction: ONE write action of the uncommitted buckets
    into one new directory ``data/run=<run_id>-<write id>/``, a manifest
    per bucket counted from what that write put on disk, then the run's
    snapshot, which commits all of them at once.

    ``max_buckets`` processes only that many uncommitted buckets then stops
    — the kill-after-k hook the resume test uses (SURVEY.md §5.2.4) and the
    way to bound a run; ``buckets_per_commit`` is accepted and ignored.
    A run killed before its snapshot is uncommitted as a whole: the next
    run deletes its data directory and recomputes all of its buckets.
    ``input_snapshot_id`` defaults to a fingerprint of the input file
    listing (checkpoint.derive_snapshot_id); on resume, committed manifests
    written against a DIFFERENT snapshot id are surfaced in the summary
    (``snapshot_mismatch_buckets``) and as a warning — their outputs were
    computed from an input that has since changed.
    ``out_dir`` must be a local path: manifests and snapshots are
    committed with ``os`` calls on the driver, so a URI (``s3://``,
    ``hdfs://``, ``file://``) raises ``ValueError``. So does an output
    dir in the old ``data/bucket=<k>`` layout, and a resume with a
    ``num_buckets`` other than the committed manifests record — the
    bucket ids would no longer partition the urls the same way. Both
    raise before anything is deleted.
    A run with buckets to process runs ``_warm_kernel`` on a thread
    while it plans and writes, and joins it before it commits; a no-op
    or mock run warms nothing.
    Returns summary counters.
    """
    if urlparse(out_dir).scheme:
        raise ValueError(
            f"out_dir {out_dir!r} is a URI; only local paths are supported "
            "(manifests are committed on the driver's filesystem)"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    if input_snapshot_id is None:
        input_snapshot_id = derive_snapshot_id(pages)
    check_layout(out_dir)
    done = committed_buckets(out_dir)
    manifests = read_manifests(out_dir)
    recorded = sorted({m["num_buckets"] for m in manifests} - {num_buckets})
    if recorded:
        raise ValueError(
            f"resume: {out_dir} has buckets committed with num_buckets="
            f"{recorded}, not {num_buckets}; resume with the same value or "
            "use a fresh output dir"
        )
    remove_uncommitted(out_dir)
    stale = sorted(m["bucket"] for m in manifests
                   if m["input_snapshot_id"] != input_snapshot_id)
    if stale:
        warnings.warn(
            f"resume: {len(stale)} committed bucket(s) {stale} were built "
            f"from a different input snapshot than the current one "
            f"({input_snapshot_id}); their outputs may be stale",
            stacklevel=2,
        )
    all_buckets = [b for b in range(num_buckets) if b not in done]
    if max_buckets is not None:
        all_buckets = all_buckets[:max_buckets]

    if not all_buckets:
        chain = snapshot_chain(out_dir)
        return {
            "run_id": run_id,
            "buckets_processed": 0,
            "docs": 0,
            "snapshot_mismatch_buckets": stale,
            # no-op runs add no snapshot; report the current head
            "snapshot_id": chain[-1]["snapshot_id"] if chain else None,
        }

    # a mock run has no Python stage to warm
    warm = threading.Thread(target=None if use_mock else _warm_kernel,
                            args=(spark,), name="warm-kernel", daemon=True)
    warm.start()
    try:
        # filter out committed buckets BEFORE the dedupe work: the filter
        # sits directly on the scan projection
        subset = with_bucket(ingest(pages), num_buckets)
        subset = subset.filter(F.col(BUCKET_COL).isin(all_buckets)).drop(BUCKET_COL)
        result = with_bucket(
            _plan_ingested(subset, use_mock=use_mock),
            num_buckets,
        ).withColumnRenamed(BUCKET_COL, "bucket")
        # ONE write action per run, into a directory of its own: one file per
        # write task, rows sorted by bucket (row-group stats prune bucket
        # filters). A directory per bucket would cost a file per (task,
        # bucket), each a chmod fork on a local Hadoop filesystem
        data_dir = f"data/run={run_id}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(out_dir, data_dir)
        result.sortWithinPartitions("bucket").write.parquet(path)
        # Manifests are counted from what was written: one groupBy over the
        # run's directory, whose explicit schema keeps a run that wrote no
        # rows readable.
        stats = {
            r[0]: r[1:]
            for r in spark.read.schema(result.schema).parquet(path)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("bytes"),
                 F.count_if(F.col("status") != "ok").alias("failures"))
            .collect()
        }
    finally:
        warm.join()
    for b in all_buckets:
        docs, nbytes, failures = stats.get(b, (0, 0, 0))
        commit_bucket(out_dir, b, run_id=run_id,
                      input_snapshot_id=input_snapshot_id, docs=docs,
                      bytes_processed=nbytes, failures=failures,
                      num_buckets=num_buckets)

    snapshot = write_snapshot(
        out_dir,
        run_id=run_id,
        input_snapshot_id=input_snapshot_id,
        buckets_processed=all_buckets,
        num_buckets=num_buckets,
        data_dir=data_dir,
    )
    return {
        "run_id": run_id,
        "buckets_processed": len(all_buckets),
        "docs": sum(docs for docs, _, _ in stats.values()),
        "snapshot_mismatch_buckets": stale,
        "snapshot_id": snapshot["snapshot_id"],
    }


def read_extracted(
    spark: SparkSession, out_dir: str, as_of: str | int | None = None
) -> DataFrame:
    """Read the extracted table: the data directories the head snapshot
    records, or with ``as_of`` (snapshot_id or sequence number) those of
    that snapshot — time travel. Directories no snapshot records (a
    killed run's) are never read. Committed directories are immutable, so
    an as-of read reproduces that run's state exactly."""
    check_layout(out_dir)
    chain = snapshot_chain(out_dir)
    if as_of is None:
        match = chain[-1:]
    else:
        match = [
            s for s in chain
            if s["snapshot_id"] == as_of or s["sequence_number"] == as_of
        ]
    if not match:
        known = [s["snapshot_id"] for s in chain]
        what = ("no committed run" if as_of is None
                else f"unknown snapshot {as_of!r}")
        raise ValueError(f"{what} in {out_dir}; have {known}")
    paths = [os.path.join(out_dir, d) for d in match[0]["data_dirs"]]
    return spark.read.parquet(*paths).drop("bucket")
