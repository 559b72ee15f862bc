"""Keyed-lookup utilities (reference vendor/mo_collections/index.py:22
``Index``, unique_index.py:26 ``UniqueIndex``) re-expressed for a cluster.

The reference's structures are driver-resident dicts keyed by (possibly
dotted) attribute tuples; the extract pipeline uses them to join dims and
validate key uniqueness. The Spark forms keep the DATA distributed:

  hash_index     groupBy(keys).collect_list(struct(*)) — one row per key
                 holding the member list (the non-unique Index). `lookup`
                 is a broadcast-left join against a key frame.
  unique_index   same, but FAILS LOUDLY when a key repeats
                 (fail_on_dup=True analog) using a distributed count —
                 no data ever reaches the driver.
  semi_join_ids  the id-batch semi-join (extract.py:193-198): restrict a
                 fact to a batch of ids with a broadcast LeftSemi.

100 TB: one hash shuffle to build either index (partial-aggregatable);
lookups broadcast only the PROBE side (assumed to be a bounded id batch),
never the indexed data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class IndexError_(ValueError):
    pass


def _key_cols(df: DataFrame, keys: Sequence[str]) -> list[str]:
    missing = [k for k in keys if k not in df.columns and "." not in k]
    if missing:
        raise IndexError_(f"index keys {missing} not in {df.columns}")
    return list(keys)


def hash_index(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Non-unique index: one row per key tuple with the member rows
    collected as `members` (sorted for determinism)."""
    keys = _key_cols(df, keys)
    others = [c for c in df.columns if c not in keys]
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in others]))).alias("members"),
        F.count(F.lit(1)).alias("n_members"),
    )


def unique_index(df: DataFrame, keys: Sequence[str], fail_on_dup: bool = True) -> DataFrame:
    """Unique index: one row per key; raises on duplicate keys like the
    reference's fail_on_dup (distributed check, driver sees one number)."""
    keys = _key_cols(df, keys)
    if fail_on_dup:
        dups = (
            df.groupBy(*[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        n_dup = dups.limit(1).count()
        if n_dup:
            sample = dups.limit(3).collect()
            raise IndexError_(f"duplicate keys in unique index: {[tuple(r)[:-1] for r in sample]}")
        return df
    # keep the first member per key (deterministic: min over sorted struct)
    others = [c for c in df.columns if c not in keys]
    first = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.min(F.struct(*[F.col(c) for c in others])).alias("__first__")
    )
    return first.select(*keys, *[F.col(f"__first__.{c}").alias(c) for c in others])


def semi_join_ids(df: DataFrame, ids: DataFrame | Sequence, key: str) -> DataFrame:
    """Restrict ``df`` to rows whose ``key`` is in ``ids`` — broadcast
    LeftSemi (the probe side is a bounded id batch)."""
    spark = df.sparkSession
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(i,) for i in ids], f"`{key}` {df.schema[key].dataType.simpleString()}")
    return df.join(F.broadcast(ids), df[key] == ids[ids.columns[0]], "left_semi")
