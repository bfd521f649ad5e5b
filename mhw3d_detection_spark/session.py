"""SparkSession construction and session-level configuration.

The engine targets a large multi-executor cluster; locally it runs on
``local[N]``. All settings below are plain public Spark SQL confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and required) to apply to an externally-supplied
# session at runtime — e.g. the test-data `events` table stores
# TIMESTAMP(NANOS) which Spark's parquet reader only accepts as int64
# nanoseconds behind this legacy flag.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start every exchange wide and let AQE coalesce back down: with a
    # fixed spark.sql.shuffle.partitions, per-task aggregate state
    # grows linearly with data and the wide aggregates (pooled clim's
    # array buffers) fall off a cliff once a partition's hash map
    # outgrows memory — measured 456 s -> 138 s on the 16x (49 M
    # sample) pipeline, with no change at bench scale (AQE coalesces
    # the small shuffles back to a handful of tasks). A PERSISTED
    # plan's final shuffle is coalesced only with the next conf
    # (default false): without it the cached table keeps all 1024
    # partitions, and so does every later step its partitioning
    # already satisfies — the detection tail after the runs-table
    # persist ran 4 101 tasks on a 16-cell series instead of 25.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1024",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — non-fatal; the
            # loaders have pure-python fallbacks.
            pass
    return spark


#: driver heap ceiling: 90g+ heaps measurably degrade repeated heavy jobs
MAX_DRIVER_MEMORY_MB = 48 * 1024
#: share of physical RAM the default driver heap may take; the rest is
#: the Python workers' and the OS page cache's
DRIVER_MEMORY_SHARE = 0.5


def _default_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the host's
    core count: a pinned container sees only its own)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def _default_driver_memory() -> str:
    """48g, capped at :data:`DRIVER_MEMORY_SHARE` of physical RAM."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    share = int(phys * DRIVER_MEMORY_SHARE) >> 20
    return f"{max(1024, min(MAX_DRIVER_MEMORY_MB, share))}m"


def get_spark(app_name: str = "mhw3d_detection_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized for this machine.

    Cores default to :func:`_default_cpus` and the driver heap to
    :func:`_default_driver_memory`; ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEMORY`` override them. On a real cluster the user
    supplies their own session; everything in the engine only assumes
    the confs in :data:`RUNTIME_CONFS`.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus())
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
