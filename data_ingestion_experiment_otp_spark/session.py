"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deployment would set per-executor:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores rather than the 200 default, UTC session timezone
(so timestamp semantics match the UTC-naive DuckDB oracle), and Arrow
enabled for the Pandas-UDF slow path.

At 100 TB the same settings hold except ``shuffle.partitions`` (set to
~2-3x total cores, or leave to AQE coalescing from a high initial value)
and ``files.maxPartitionBytes`` (default 128 MB is right for wide parquet
scans).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Read-time flag: the driver-generated events.parquet stores ts as parquet
# TIMESTAMP(NANOS), which Spark 4 refuses by default ([PARQUET_TYPE_ILLEGAL]).
# With this flag the column arrives as LongType nanoseconds; sources.catalog
# converts it to a microsecond timestamp, matching DuckDB's ns->us read.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session.

    Used both by :func:`get_spark` and on driver-provided sessions that the
    engine did not build itself.
    """
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def _default_cpus() -> int:
    """CPUs this process may run on (its affinity set, not the host's)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _default_driver_mem() -> str:
    """Half of physical memory: the heap grows only on demand, and a
    default above physical RAM would let it outgrow the box."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return "2g"
    return f"{max(1024, phys_mb // 2)}m"


def get_spark(app_name: str = "data_ingestion_experiment_otp_spark") -> SparkSession:
    """Build (or fetch) the engine's session. `SPARK_GRAFT_CPUS` and
    `SPARK_GRAFT_DRIVER_MEM` override the box-sized defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_default_cpus())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config(NANOS_AS_LONG, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
