"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster: the same code
runs unchanged under ``spark-submit --py-files`` on a real cluster; the
confs below (AQE, skew-join, shuffle partitions sized to cores) are the
ones that matter at 100 TB. Defaults are sized from the host the driver
runs on (its CPU affinity and physical memory), not from constants.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the geotiff_processor_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cores() -> int:
    """CPUs this process may run on (a cpuset or taskset mask counts)."""
    return len(os.sched_getaffinity(0))


def host_memory_bytes() -> int:
    """Physical memory of the host, from ``/proc/meminfo``."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "geotiff_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    AQE + skew-join are on (hot-cell skew handling), Arrow is on (all
    pandas UDFs are Arrow-vectorized), shuffle partitions default to the
    core count rather than 200 (local mode; a real cluster would size
    this to 2-3x total cores). The master defaults to
    ``SPARK_GRAFT_MASTER`` or ``local[<host cores>]``, and the driver
    gets half the host's memory: in local mode it also hosts the
    executor, and the other half is left to the Python workers.
    Executors put the package's parent directory on their PYTHONPATH,
    so Python workers import the engine from any working directory.
    Python workers start through the engine's daemon
    (:mod:`geotiff_processor_spark.daemon`). Spark's worker invalidates
    import caches at the start of every task, and on Python < 3.13
    that re-reads the directory of ``pyspark.zip`` and py4j once per
    importer, a fixed CPU cost per task larger than a small batch's
    work; the daemon re-reads an archive only when the file changed.
    """
    cores = host_cores()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = int(n) if n.isdigit() else cores
    if driver_memory is None:
        driver_memory = f"{host_memory_bytes() // 2 // 2**20}m"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.python.daemon.module", "geotiff_processor_spark.daemon")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # resumable checkpoints overwrite only the partitions present in
        # the incremental write (Iceberg overwritePartitions semantics);
        # the static default would truncate the whole output path
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    return builder.getOrCreate()
