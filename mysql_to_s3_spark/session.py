"""SparkSession factory tuned for the local[N] test harness but configured
the way a 1000-executor cluster run would be: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), UTC session time zone (oracle
comparability), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "mysql_to_s3_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # testdata quirk: some parquet columns are TIMESTAMP(NANOS); read
        # as long once, rebuilt as µs timestamps in sources.registry. Set
        # here, at session build, so per-table loads never flip a shared
        # session's conf mid-flight.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local harness: testdata tables are single ~10 MB parquet files;
        # the default 4 MB openCostInBytes floors the split size at 4 MB
        # and caps such a scan at ~3 tasks on 32 cores. Real deployments
        # read many-file datasets where this never binds; locally a lower
        # open cost lets heavy per-row work (exact percentile, hashing)
        # use the full core count.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def conf_int(
    spark: SparkSession, key: str, default: int | None = None, error: type[Exception] = ValueError
) -> int | None:
    """Integer session conf ``key``, ``default`` when unset. Any other
    value raises ``error`` (the caller module's error class) naming the
    key, instead of a bare ``int()`` error or a silent fallback."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise error(f"{key} must be an integer, got {raw!r}") from None
