"""SparkSession factory.

Defaults are chosen for the scale target (large cluster, ~100 TB parquet),
not just the local[32] test rig:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means a
  fixed ``spark.sql.shuffle.partitions`` only sets the *upper bound*.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- Broadcast threshold left at default (10 MB) but every known-small dimension
  side in this package is hinted explicitly with ``F.broadcast`` so plans do
  not depend on stats being available.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on
    (what ``nproc`` reports — the affinity mask, not the host total)."""
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
    if env:
        return env
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


# local mode is ONE JVM for driver + executors, so its heap is sized for
# both: this share of the host's MemTotal leaves the rest to Python
# workers (Arrow batches, NumPy kernels) and the OS
DRIVER_MEMORY_FRACTION = 0.6


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    DRIVER_MEMORY_FRACTION of MemTotal from ``meminfo`` in whole MiB
    (e.g. "9216m" on a 15 GiB host), else "16g" where the host's memory
    cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{int(kib * DRIVER_MEMORY_FRACTION) // 1024}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(
    app_name: str = "vectordb-acc-and-speed-exp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` only affects the master URL when no session exists yet; on a
    real cluster the master comes from the environment instead.
    """
    cpus = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(32, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # engine-wide default, declared here rather than silently flipped
        # by io.catalog.load_table: TIMESTAMP(NANOS) parquet (the events
        # table) reads as bigint and is rebuilt at micro precision.
        # Session-scoped by necessity — the physical reader consults the
        # conf at ACTION time, so a save/restore around read.parquet()
        # would break the later scan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if "SPARK_MASTER" not in os.environ and "MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
