"""SparkSession factory with the engine's scale-tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local-mode driver heap ceiling, in MB
DRIVER_MEM_CAP_MB = 16 * 1024
#: share of physical memory the local-mode driver heap may take
DRIVER_MEM_SHARE = 0.6


def local_cpus() -> str:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS``, else the host's CPUs."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def physical_memory_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None


def driver_memory(mem_bytes: int | None = None) -> str:
    """Local-mode driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else the smaller
    of 16g and 60 % of physical memory (16g when that is unknown)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if mem_bytes is None:
        mem_bytes = physical_memory_bytes()
    if mem_bytes is None:
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, int(mem_bytes * DRIVER_MEM_SHARE) >> 20)}m"


def get_spark(
    app_name: str = "database-anonymiser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build/get a SparkSession.

    Defaults chosen for the engine's workloads:
    - AQE on (runtime coalescing, skew-join splitting) — essential at scale,
      harmless locally.
    - Arrow on for any Pandas-UDF path (multimodal / similarity fallbacks).
    - shuffle partitions sized to cores locally; on a real cluster leave AQE's
      coalescing to right-size post-shuffle partitions.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count() or 1
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (e.g. events.ts) is unreadable natively;
        # read as long and let ParquetCatalog convert ns → timestamp losslessly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the driver JVM hosts ALL executor memory — 8g across
        # 32 concurrent tasks (~250 MB/task + cached frames) produced
        # measured multi-minute GC storms during pipeline cache fills
        # (guide §5: size memory to the workload). The default is 16g,
        # capped at 60 % of physical memory so the heap never exceeds the
        # host; env-overridable, and irrelevant on a real cluster where
        # executor memory is provisioned explicitly.
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
