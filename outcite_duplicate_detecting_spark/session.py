"""SparkSession factory tuned for the dedup workload.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not 200), AQE on for runtime coalescing + skew-join
handling, Arrow on for pandas-UDF transfer, UTC session timezone so
results compare cleanly against the DuckDB oracle.

On a real cluster the same builder is used via ``spark-submit --py-files``;
only ``master`` / memory flags change. No Iceberg catalog is configured:
tables are read as parquet paths (``sources/tables.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores(cores: int | str) -> int:
    """Core count of ``local[cores]``: "*" is every CPU this process may run
    on (its affinity set, which a cgroup or taskset can make smaller than
    the machine)."""
    return len(os.sched_getaffinity(0)) if cores == "*" else int(cores)


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_memory(ram_bytes: int) -> str:
    """60% of physical RAM, capped at 24g: the heap must fit beside the
    python workers and the OS page cache on the machine it runs on."""
    return f"{min(24 * 1024, int(0.6 * ram_bytes / 2**20))}m"


def get_spark(
    cores: int | str | None = None,
    app_name: str = "outcite_duplicate_detecting_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int for ``local[N]``, "*" for all, None → $SPARK_GRAFT_CPUS
    or all cores. ``shuffle_partitions`` defaults to the core count (at
    least 8) — at cluster scale this is instead sized from input bytes (see
    plans/pipeline.py docstring). The driver heap is
    $SPARK_GRAFT_DRIVER_MEM or ``default_driver_memory``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"

    # make the package importable in python workers regardless of the
    # driver's cwd (the local-mode analogue of spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(local_cores(cores), 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        physical_ram_bytes()
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # dedup shuffles are byte-small but CPU-heavy downstream (verify
        # UDFs, pair dedup): the default 1m floor lets AQE coalesce them to
        # 1-2 tasks and serialize those stages — keep partitions fine-grained
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # aggressively reclaim dropped localCheckpoint/persist blocks: the
        # default 30min periodic cleaner GC lets dead RDD blocks accumulate
        # across pipeline stages, starving execution memory (measured as
        # consecutive identical jobs degrading 10.2s → 77.9s)
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
