"""spark-submit entry point for the extraction job.

Cluster:
    zip -r openocrspark.zip open_ocr_spark
    spark-submit --py-files openocrspark.zip \\
        --num-executors 4N --conf spark.sql.adaptive.enabled=true \\
        -m open_ocr_spark.cli --input s3://.../pages --output /shared/out
    (or: spark-submit --py-files openocrspark.zip path/to/cli.py ...)

--output must be a local path (a shared mount on a cluster): manifests
and snapshots are committed with os calls on the driver, so a URI
output (s3://, hdfs://, file://) is rejected.

Local test mode (the reference's inplace_decode analog,
/root/reference/ocr_http_handler.go:53-68 — same kernel code, no cluster):
    python -m open_ocr_spark.cli --input pages_dir --output out_dir \\
        --master local[8]

The job is resumable: re-running with the same --output skips committed
buckets. Each run writes one directory, data/run=<run id>-<write id>/,
and commits it with one snapshot under snapshots/; a run killed before
its snapshot is recomputed whole by the next run. Per-document failures
are status rows, never job failures.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv=None):
    p = argparse.ArgumentParser(
        prog="open-ocr-spark",
        description="PySpark-native main-content extraction over a pages table",
    )
    p.add_argument("--input", required=True,
                   help="pages table path (parquet dir or table)")
    p.add_argument("--output", required=True,
                   help="local output dir (data/, manifests/ and "
                        "snapshots/ created under it; one data directory "
                        "per run); URIs are rejected")
    p.add_argument("--master", default=None,
                   help="override master (default: spark-submit / local[*])")
    p.add_argument("--num-buckets", type=int, default=64,
                   help="url-hash buckets of the table; --max-buckets "
                        "bounds a run in these units")
    p.add_argument("--buckets-per-commit", type=int, default=8,
                   help="ignored: every run writes its buckets in one Spark "
                        "action; bound a run with --max-buckets")
    p.add_argument("--max-buckets", type=int, default=None,
                   help="stop after this many uncommitted buckets (bounds a run)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--snapshot-id", default=None,
                   help="input snapshot id recorded in manifests (default: "
                        "derived from the input file listing — "
                        "path/size/mtime fingerprint)")
    p.add_argument("--mock", action="store_true",
                   help="mock engine (constant output, pure-JVM stage)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from open_ocr_spark.pipeline.job import run_extraction_job
    from open_ocr_spark.pipeline.session import get_spark

    spark = get_spark(
        app_name="open-ocr-spark-extract",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    pages = spark.read.parquet(args.input)
    summary = run_extraction_job(
        spark,
        pages,
        args.output,
        num_buckets=args.num_buckets,
        buckets_per_commit=args.buckets_per_commit,
        input_snapshot_id=args.snapshot_id,
        max_buckets=args.max_buckets,
        use_mock=args.mock,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
