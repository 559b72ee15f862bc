"""Bloom-filter screen for incremental ingest: a fixed-size bit-set
summary of every fingerprint already in the corpus, so a new batch can
skip the exact-dedup index JOIN for docs that are DEFINITELY new.

At 100 TB the persisted dedup index (`operators/dedup_index.py`) makes
incremental screening batch-linear, but every batch still pays one
equi-join against the index's docs/bands tables. Most arriving docs are
new; a Bloom filter answers "possibly seen / definitely new" from a
bitmap small enough to broadcast (the default 2^20 bits = 128 KiB
summarizes ~180k fingerprints at 1% false positives; scale m_bits to
the corpus), so only the "possibly seen" sliver pays the join. No
false negatives, ever: a False from the screen is a hard guarantee the
fingerprint was not inserted.

Scale shape: building is one mapInPandas pass emitting ONE partial
bitmap per partition (numpy OR on the driver over n_partitions rows of
m/8 bytes — never the corpus); screening is a broadcast-closure Arrow
pandas_udf, zero shuffle, streaming-safe. Unions are bitwise OR, so
per-batch bitmaps compose associatively (build per batch, OR into the
sidecar — same append story as the index itself).

The bit positions are an ENGINE-PORTABLE spec (the same md5-prefix
arithmetic the epoch shuffle and shard receipts use, cf.
`operators/dedup.py:399`): position_i(v) = int(md5(v + ':' + i)
.hexdigest()[:15], 16) % m_bits, i in 0..k-1. Python hashlib, Spark
``conv(substring(md5(..),1,15),16,10)``, and DuckDB
``('0x' || substr(md5(..),1,15))::BIGINT`` all agree bit-for-bit, so
the screen's decisions sit under the driver's hard oracle gate
(`bloomf` leg of `dedup_exact`).

Reference parity: none (beyond-reference; the reference re-extracts
from scratch — SURVEY §2 item 8 scale path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


class BloomError(ValueError):
    pass


def _check_shape(m_bits: int, k: int) -> None:
    if m_bits < 8 or m_bits % 8 != 0:
        raise BloomError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    if not 1 <= k <= 16:
        raise BloomError(f"k must be in [1, 16], got {k}")


def _py_positions(value: str, m_bits: int, k: int) -> list[int]:
    """The portable position spec, Python form (used by the builder and
    the screen's Arrow kernel; Spark/DuckDB forms in the module doc)."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}:{i}".encode("utf-8")).hexdigest()[:15], 16) % m_bits
        for i in range(k)
    ]


def bloom_position_columns(col: Column, m_bits: int, k: int) -> list[Column]:
    """Spark Column form of the position spec — exact match of
    `_py_positions` (and of the DuckDB oracle replica)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f":{i}"))), 1, 15), 16, 10
        ).cast("long") % m_bits
        for i in range(k)
    ]


def bloom_build(
    df: DataFrame,
    col: str = "fp",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> bytes:
    """Build the bitmap over ``df[col]`` (strings; nulls skipped).
    EAGER — runs one job; one partial bitmap row per partition comes
    back to the driver (n_partitions x m/8 bytes, never the values)."""
    _check_shape(m_bits, k)
    n_bytes = m_bits // 8

    def _partial(batches):
        import numpy as np
        import pandas as pd

        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            for v in pdf.iloc[:, 0]:
                if v is None:
                    continue
                seen = True
                for p in _py_positions(str(v), m_bits, k):
                    bits[p >> 3] |= 1 << (p & 7)
        if seen:
            yield pd.DataFrame({"bm": [bits.tobytes()]})

    rows = (
        df.select(F.col(col).cast("string"))
        .mapInPandas(_partial, "bm binary")
        .collect()
    )
    import numpy as np

    out = np.zeros(n_bytes, dtype=np.uint8)
    for r in rows:
        out |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out.tobytes()


def bloom_union(*bitmaps: bytes) -> bytes:
    """Bitwise OR — per-batch bitmaps compose associatively."""
    import numpy as np

    if not bitmaps:
        raise BloomError("bloom_union needs at least one bitmap")
    sizes = {len(b) for b in bitmaps}
    if len(sizes) != 1:
        raise BloomError(f"bitmap sizes differ: {sorted(sizes)} — same m_bits required")
    out = np.zeros(len(bitmaps[0]), dtype=np.uint8)
    for b in bitmaps:
        out |= np.frombuffer(b, dtype=np.uint8)
    return out.tobytes()


def bloom_might_contain(
    col: Column,
    bitmap: bytes,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> Column:
    """Boolean screen column: False = DEFINITELY not inserted, True =
    possibly inserted (false-positive rate ~(1 - e^(-k*n/m))^k). NULL
    values screen to False — "no fingerprint" is "nothing to match",
    the same stance the URL blocklist takes on missing addresses.
    Arrow pandas_udf; the bitmap ships in the closure (pickled once per
    executor), zero shuffle, streaming-safe."""
    _check_shape(m_bits, k)
    if len(bitmap) != m_bits // 8:
        raise BloomError(
            f"bitmap is {len(bitmap)} bytes but m_bits={m_bits} needs {m_bits // 8}"
        )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _test(s):  # pd.Series -> pd.Series (SCALAR Arrow batches)
        import numpy as np

        bits = np.frombuffer(bitmap, dtype=np.uint8)

        def one(v):
            if v is None:
                return False
            return all(
                bits[p >> 3] & (1 << (p & 7))
                for p in _py_positions(str(v), m_bits, k)
            )

        return s.map(one)

    return _test(col.cast("string"))


def write_bloom_sidecar(
    index_path: str,
    spark,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    mode: str = "overwrite",
    batch_bitmap: bytes | None = None,
    batch_n_docs: int | None = None,
) -> bytes:
    """Build (or extend) the ``bloom`` sidecar of a persisted dedup
    index (`operators/dedup_index.py` layout). ``mode='overwrite'``
    rebuilds from the docs table's fingerprints (corpus-linear — the
    first build, or recovery). ``mode='extend'`` ORs new bits into the
    existing sidecar: pass ``batch_bitmap`` (a `bloom_build` over JUST
    the appended batch's fingerprints) plus ``batch_n_docs`` (that
    batch's row count) to keep the update BATCH-linear — the corpus is
    never re-read; without a batch bitmap, extend falls back to a
    corpus-linear rebuild-and-OR (correct, but it saves nothing over
    overwrite). Returns the written bitmap.

    The n_docs stamp is only advanced when it is PROVEN the batch
    bitmap accounts for every doc added since the old stamp:
    ``old n_docs + batch_n_docs == docs.count()``. If two appends
    happened but only the last batch's bitmap was passed, stamping
    would legitimize an under-covering bloom and defeat the staleness
    guard — so any mismatch (or an unstamped old sidecar) falls back
    to the corpus-linear rebuild instead."""
    if mode not in ("overwrite", "extend"):
        raise BloomError(f"mode must be 'overwrite' or 'extend', got {mode!r}")
    if batch_bitmap is not None and mode != "extend":
        raise BloomError("batch_bitmap only composes with mode='extend'")
    if batch_bitmap is not None and batch_n_docs is None:
        raise BloomError(
            "batch_bitmap requires batch_n_docs (the batch's row count) so the "
            "n_docs stamp can be proven to cover every append since the old one"
        )
    if batch_bitmap is not None and len(batch_bitmap) != m_bits // 8:
        raise BloomError(
            f"batch_bitmap is {len(batch_bitmap)} bytes but m_bits={m_bits} "
            f"needs {m_bits // 8}"
        )
    docs = spark.read.parquet(index_path + "/docs")
    n_docs_now = docs.count()
    use_batch = batch_bitmap is not None
    old = None
    if mode == "extend":
        old = read_bloom_sidecar(index_path, spark)
        if (old["m_bits"], old["k"]) != (m_bits, k):
            raise BloomError(
                f"sidecar at {index_path} has (m_bits={old['m_bits']}, k={old['k']}); "
                f"extend requested ({m_bits}, {k})"
            )
        if use_batch and (
            old["n_docs"] is None or old["n_docs"] + batch_n_docs != n_docs_now
        ):
            # the batch bitmap provably does NOT cover everything added
            # since the old stamp (or the old sidecar carries no stamp
            # to prove it against): rebuild corpus-linear
            use_batch = False
    fresh = batch_bitmap if use_batch else bloom_build(docs, "fp", m_bits, k)
    if mode == "extend":
        fresh = bloom_union(old["bitmap"], fresh)
    # n_docs stamp = the docs-table row count this sidecar covers: the
    # staleness guard `exact_screen_against_index` compares against (an
    # index append without a sidecar update would otherwise silently
    # break the no-false-negative routing guarantee)
    spark.createDataFrame(
        [(m_bits, k, fresh, n_docs_now)],
        "m_bits int, k int, bitmap binary, n_docs long",
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/bloom")
    return fresh


def read_bloom_sidecar(index_path: str, spark) -> dict:
    row = spark.read.parquet(index_path + "/bloom").first()
    if row is None:
        raise BloomError(f"no bloom sidecar at {index_path}/bloom")
    d = row.asDict()
    return {
        "m_bits": d["m_bits"],
        "k": d["k"],
        "bitmap": bytes(d["bitmap"]),
        # pre-stamp sidecars have no n_docs column: None = unknown
        "n_docs": d.get("n_docs"),
    }
