"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every conf here is
the one we'd ship to a 1000-executor job (Arrow on, shuffle partitions sized
to the parallelism level; AQE with partition coalescing and skew-join
splitting is Spark's default and is left as is).  Cores and heap default to
what the host offers: the CPUs this process may run on and half of RAM.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "geolake_spark",
              cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    heap = os.environ.get("GEOLAKE_DRIVER_MEM") or (
        f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2 ** 21}m")
    local_dir = os.environ.get("GEOLAKE_LOCAL_DIR") or (
        "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm")
        else tempfile.gettempdir())
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        # On a real cluster: 2-3x total executor cores; locally: the core count.
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", heap)
        # fixed heap size: no grow/shrink cycles under G1 uncommit
        .config("spark.driver.extraJavaOptions", "-Xms" + heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split scans finer than the 128MB default so wide fact files fan out
        # across all cores even when column pruning reads a small fraction
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # shuffle through tmpfs where there is one: local-mode shuffle files
        # are ephemeral
        .config("spark.local.dir", local_dir)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
