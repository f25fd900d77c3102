"""SparkSession factory tuned for this engine (local-mode testing, cluster-shaped plans)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the blacklab_spark package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """The driver heap get_spark asks for when none is given: half the
    host's physical memory, capped at 64g. A larger heap than the host has
    lets the JVM grow until the OOM killer ends it."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf: the cap
        return "64g"
    return f"{max(1, min(64 << 10, phys // 2 >> 20))}m"


def get_spark(
    app_name: str = "blacklab_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build or get a SparkSession.

    cores=None → local[*] (or $SPARK_GRAFT_CPUS if set). We keep
    shuffle.partitions ≈ cores for local runs (the 200 default over-
    parallelizes tiny data and under-parallelizes huge data); on a real
    cluster AQE coalescing re-plans at runtime anyway. The driver heap is
    driver_memory, else $SPARK_GRAFT_DRIVER_MEM, else _default_driver_memory().
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    sp = shuffle_partitions if shuffle_partitions is not None else max(n, 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    # Local-mode shuffle files on slow virtio disks serialize under many
    # threads (measured 9x degradation at 32 tasks); put them on tmpfs when
    # one is available. On a real cluster this is the usual fast local SSD.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if shm is None and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
    if shm:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers unpickle kernels that import blacklab_spark: put the
    # package's parent first on their path (the spark.executorEnv.PYTHONPATH
    # they start with), so they find it whatever their working directory
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PKG_PARENT, *paths])
    return spark
