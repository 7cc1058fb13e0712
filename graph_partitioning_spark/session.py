"""SparkSession construction tuned for this engine.

Local mode is a single JVM with N executor threads; on a real cluster the
same configs apply per-executor. AQE is always on (runtime coalescing and
skew-join splitting are the first line of defense against power-law hubs;
explicit salting in the operators is the second).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEMORY_GB = 24


def default_driver_memory() -> str:
    """``spark.driver.memory`` sized from host RAM: 60% of physical memory,
    at least 1g and at most ``MAX_DRIVER_MEMORY_GB``. In local mode the
    driver JVM also runs the executors; a heap larger than the host can back
    gets the process killed by the kernel instead of failing in the JVM."""
    try:
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):  # no sysconf on this platform
        return f"{MAX_DRIVER_MEMORY_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEMORY_GB, int(0.6 * ram / 2**30)))}g"


def get_spark(
    app_name: str = "graph_partitioning_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    ``shuffle_partitions`` defaults to the core count — for the local test
    rig; a real cluster run sets this to ~2-3x total executor cores via
    ``spark-submit --conf`` (and AQE coalesces down from there).
    ``spark.driver.memory`` is ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    :func:`default_driver_memory`.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_threads = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n_threads = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(max(n_threads, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
