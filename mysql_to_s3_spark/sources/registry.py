"""Container registry: name -> DataFrame (reference jx_base/container.py:22
``type2container``; Spark analog is a thin loader in front of spark.read).

Handles the one physical quirk of the testdata: parquet columns written as
TIMESTAMP(NANOS) (e.g. events.ts), which Spark's vectorized reader rejects.
We flip the legacy nanosAsLong read conf and rebuild a microsecond timestamp
column — same values DuckDB sees (it truncates ns -> us).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _nano_ts_columns(path: str) -> list[str]:
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        out = []
        for i, name in enumerate(schema.names):
            t = schema.types[i]
            if str(t).startswith("timestamp[ns"):
                out.append(name)
        return out
    except Exception:
        return []


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        # ns since epoch (long) -> microsecond timestamp, matching DuckDB
        df = df.withColumn(c, F.timestamp_micros((F.col(c) / F.lit(1000)).cast("long")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least one partition per core for CPU-heavy per-row
    projections (regex/hash-dense operators).

    A small table arrives as ONE parquet split, which would serialize the
    whole projection onto a single task. At real scale the input already
    has >= cores splits and this is a no-op — no shuffle is added.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

