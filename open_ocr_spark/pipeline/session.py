"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4.2): AQE on (shuffle
coalescing, skew-join splitting, broadcast conversion), Arrow enabled for
the vectorized kernels, shuffle partitions sized to cores locally —
overridden by spark-submit conf on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "open-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # only pin a master when explicitly requested: under spark-submit the
    # cluster manager supplies it (hard-coding local[*] here would silently
    # turn a cluster job into a single-node one)
    master = master or os.environ.get("SPARK_MASTER")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_SUBMIT" not in os.environ and not os.environ.get("SPARK_CONF_DIR"):
        builder = builder.master("local[*]")
    builder = (
        builder
        # AQE: runtime re-plan — partition coalescing, skew splitting,
        # broadcast conversion (free skew handling on top of our salting)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by shuffle bytes (64 MB advisory), not to one partition
        # per core: each concurrent kernel task forks a ~125 MB Python worker
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: the kernels' batch transport
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # At 100 TB the scan dominates: keep split sizes bounded so a
        # partition's html payloads fit executor memory
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Shuffle spill dir: tmpfs when available — the sandbox's virtio disk
    # serializes concurrent shuffle writers; a real cluster would use
    # per-executor local SSDs instead (never set this on YARN/K8s where
    # the resource manager provides local dirs).
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
