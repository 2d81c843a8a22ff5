"""SparkSession factory with scale-aware defaults.

Local-mode knobs are sized from the host (single JVM, $SPARK_GRAFT_CPUS
threads, a driver heap of about half the physical memory); on a real cluster
the same builder runs under spark-submit with the master/memory supplied
externally and only the SQL confs below matter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """About half of MemTotal, capped at 48g; the cap alone where the
    meminfo file is unreadable (non-Linux hosts)."""
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(total_kb // 2048, MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "entity_matching_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; default $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: default 2x cores (AQE coalesces down at runtime).
    master: override (e.g. "local-cluster[4,8,16384]" for multi-executor-JVM
    scaling runs).
    Driver memory: $SPARK_DRIVER_MEM, else default_driver_memory().
    Python workers get this repo on PYTHONPATH, so UDFs import the package
    whatever the working directory.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cores

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Record-side tables (attrs/dims) are O(records) while pair tables
        # are O(candidates); on this single box a generous broadcast budget
        # turns every attribute-fetch join into a broadcast hash join (zero
        # shuffle of the pair table). A real cluster keeps the default and
        # relies on bucketed/storage-partitioned joins instead.
        .config("spark.sql.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if master and master.startswith("local-cluster"):
        mem_mb = master.split(",")[2].rstrip("]")
        builder = builder.config("spark.executor.memory", f"{mem_mb}m").config(
            "spark.driver.memory", "8g"
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
