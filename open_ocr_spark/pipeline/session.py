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


def _master_conf(master: str | None) -> dict[str, str]:
    """``spark.master`` and what depends on it: the master the caller or
    ``SPARK_MASTER`` names, else local[*] outside spark-submit. Under
    spark-submit the cluster manager supplies it (hard-coding local[*]
    would silently turn a cluster job into a single-node one). A local master's
    Python daemon starts from the installed pyspark (``pydaemon.py``),
    found through the directory or zip that holds this package; on a
    cluster, the submitting host's paths do not exist on the executors.

    A local master also coalesces shuffles to 8 MB partitions, not Spark's
    64 MB: every AQE-coalesced exchange and skew-join split, but it was
    chosen for the kernel stage, where each concurrent task forks a
    Python worker (87-125 MB in the bench, 4 vCPU). 8 MB of shuffle is
    ~16 MB of HTML, ~2 s of kernel CPU on that host: enough to amortise a
    worker's start, and a bound on its input. Clusters keep 64 MB, since
    nothing was measured there."""
    master = master or os.environ.get("SPARK_MASTER")
    if (not master and "SPARK_SUBMIT" not in os.environ
            and not os.environ.get("SPARK_CONF_DIR")):
        master = "local[*]"
    if not master:
        return {}
    conf = {"spark.master": master}
    if master.startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        conf["spark.python.daemon.module"] = "open_ocr_spark.pipeline.pydaemon"
        conf["spark.executorEnv.PYTHONPATH"] = root
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "8m"
    return conf


def get_spark(
    app_name: str = "open-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    for k, v in _master_conf(master).items():
        builder = builder.config(k, v)
    builder = (
        builder
        # AQE: runtime re-plan — partition coalescing, skew splitting,
        # broadcast conversion (free skew handling on top of our salting)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by shuffle bytes (the advisory size: _master_conf), not
        # to one partition per core: each concurrent kernel task forks a
        # Python worker
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
