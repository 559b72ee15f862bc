"""Incremental dedup: screen NEW documents against a PERSISTED index of
the corpus already ingested — without re-shingling or re-hashing a byte
of the old corpus.

At 100 TB the corpus is append-only and arrives in batches; re-running
`minhash_lsh_pairs` over old ∪ new per batch re-pays the full corpus
shingling cost every time. The index is three tables under one path:

- ``docs``  — one row per ingested doc: ``fp`` (the normalized-text
  exact-dedup fingerprint), ``sig`` (the minhash signature), and ``hb``
  (the doc's distinct shingle set as FULL 64-bit xxhash64 values,
  ~8 bytes/shingle — the verify payload, a few percent of text size);
- ``bands`` — (band, bucket, id) LSH keys (`dedup.lsh_band_rows`, the
  same formula the in-memory operator uses);
- ``meta``  — (n_hashes, bands, shingle_k): the hash-family shape, read
  back at screen time so a writer/reader parameter mismatch is
  impossible (the same sidecar idea as the IVF index's centroids).

A new batch then pays exactly its own cost: project its shingles and
signature, equi-join its band keys against the bands table, signature
pre-verify (σ-scaled margin, same as the batch operator), and decide
with Jaccard over the stored 64-bit hash sets — the collision odds for
~1k-shingle docs are ~|A|·|B|/2^64 ≈ 1e-13 per screened pair, so the
decision agrees with exact string Jaccard for all practical purposes
(the minhash SIGNATURES still derive from the 2^32-folded universe so
they stay bit-identical with `minhash_lsh_pairs`). The old corpus is
touched only through the index.

Reference parity: none (beyond-reference, SURVEY §2 item 8 — the
reference re-extracts from scratch; its `Counter` resume is row-id
based, not content-based).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mysql_to_s3_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_N,
    SHINGLE_K,
    _minhash_columns,
    lsh_band_rows,
    shingles,
)
from mysql_to_s3_spark.operators.text import fingerprint


class DedupIndexError(ValueError):
    pass


def _doc_rows(df: DataFrame, id_col: str, text_col: str, n_hashes: int, k: int) -> DataFrame:
    """(id, fp, hb, sig) in ONE scan: fingerprint and shingles project
    together; ``hb`` keeps the full 64-bit shingle hashes (the decision
    payload), while the signature permutes the 2^32-folded values so it
    stays bit-identical with `minhash_lsh_pairs`. hb is materialized by
    a repartition Exchange before sig derives from it, so projection
    collapse cannot re-expand the per-shingle xxhash64 into all n_hashes
    permutations (same trap + fix as minhash_lsh_pairs)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("id"),
        fingerprint(F.col(text_col)).alias("fp"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), k), lambda s: F.xxhash64(s))
        ).alias("hb"),
    ).repartition(par, "id")
    folded = F.transform(F.col("hb"), lambda h: F.pmod(h, F.lit(2**32)))
    sig = F.array(*_minhash_columns(folded, n_hashes))
    return base.select("id", "fp", "hb", sig.alias("sig"))


def write_dedup_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = MINHASH_N,
    bands: int = MINHASH_BANDS,
    shingle_k: int = SHINGLE_K,
    mode: str = "overwrite",
) -> None:
    """Build/extend the index. ``mode='append'`` adds a new batch's docs
    (callers append only the batch's KEPT docs, after screening).

    The batch frame is frozen with ``localCheckpoint`` before any write:
    the docs and bands tables must be derived from the SAME evaluation —
    a lazy frame whose lineage reads this very index (the
    `dedup_against_index` output, the natural append input) would
    otherwise re-screen against the just-extended docs table when the
    bands write re-evaluates it, anti-join itself away, and leave the
    appended docs with no band keys (silent recall loss)."""
    spark = df.sparkSession
    if mode not in ("overwrite", "append"):
        # SaveMode.Ignore/ErrorIfExists would no-op the data writes while
        # the meta rewrite below still ran, silently flipping the
        # recorded hash shape out from under the stored tables
        raise DedupIndexError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if mode == "append":
        meta = spark.read.parquet(path + "/meta").first()
        if (meta.n_hashes, meta.bands, meta.shingle_k) != (n_hashes, bands, shingle_k):
            raise DedupIndexError(
                f"index at {path} was built with (n_hashes={meta.n_hashes}, "
                f"bands={meta.bands}, shingle_k={meta.shingle_k}); "
                f"append requested ({n_hashes}, {bands}, {shingle_k})"
            )
    docs = _doc_rows(df, id_col, text_col, n_hashes, shingle_k).localCheckpoint()
    # bands BEFORE docs: the two appends are not atomic, and the failure
    # modes differ — a crash after bands-only leaves orphan band keys
    # (harmless: candidates with no doc row drop out of the sig join),
    # while docs-without-bands would be SILENT near-dup recall loss.
    # Recover a half-done append by re-running it after deduplicating on
    # id, or rebuild with mode='overwrite'.
    lsh_band_rows(docs, n_hashes, bands).write.mode(mode).parquet(path + "/bands")
    docs.write.mode(mode).parquet(path + "/docs")
    if mode != "append":
        spark.createDataFrame(
            [(n_hashes, bands, shingle_k)], "n_hashes int, bands int, shingle_k int"
        ).coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def exact_screen_against_index(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    use_bloom: bool = True,
) -> DataFrame:
    """Drop new docs whose EXACT normalized-text fingerprint is already
    in the index (the exact half of incremental screening;
    `dedup_against_index` is the near-dup half). One anti-join of the
    batch's fps against the index docs table's fp column — column-
    pruned, the old corpus text is never read.

    With ``use_bloom`` (default) and a FRESH bloom sidecar present,
    the Bloom screen routes the join: definitely-new docs (bloom False
    — a HARD guarantee for exact fingerprints) bypass the index
    entirely, and only the possibly-seen sliver anti-joins. This
    composition is sound ONLY for exact fingerprints — do NOT
    bloom-gate the near-dup screen, where a bloom-negative doc can
    still be a near-duplicate of an indexed one.

    Staleness guard: the sidecar carries the docs-table row count it
    was built/extended against (`n_docs`); when the index has MORE
    docs than the stamp (an append without the sidecar update), the
    bloom's no-false-negative guarantee no longer covers the corpus,
    so the screen silently falls back to the plain anti-join — correct
    either way, just without the routing. A missing sidecar (checked
    by error CLASS, not message substring) falls back the same way.
    The flagged frame is checkpointed (``localCheckpoint(eager=False)``,
    freed with the frame): both route branches consume it, and an
    uncheckpointed union would re-run the whole upstream lineage
    (fingerprints + the Arrow bloom kernel included) once per branch.
    """
    from pyspark.errors import AnalysisException

    from mysql_to_s3_spark.operators.bloom import (
        BloomError,
        bloom_might_contain,
        read_bloom_sidecar,
    )
    from mysql_to_s3_spark.operators.text import fingerprint

    spark = new_df.sparkSession
    docs_tbl = spark.read.parquet(path + "/docs")
    index_fps = docs_tbl.select("fp")
    with_fp = new_df.withColumn("__fp__", fingerprint(F.col(text_col)))
    side = None
    if use_bloom:
        try:
            side = read_bloom_sidecar(path, spark)
        except BloomError:
            side = None
        except AnalysisException as exc:
            err = exc.getErrorClass() if hasattr(exc, "getErrorClass") else None
            if err != "PATH_NOT_FOUND" and "PATH_NOT_FOUND" not in str(exc):
                raise
            side = None
        if side is not None and side.get("n_docs") is not None:
            if docs_tbl.count() > side["n_docs"]:
                side = None  # stale sidecar: appended docs not in the bloom
    if side is not None:
        flag = bloom_might_contain(
            F.col("__fp__"), side["bitmap"], side["m_bits"], side["k"]
        )
        flagged = with_fp.withColumn("__maybe__", flag).localCheckpoint(eager=False)
        definite_new = flagged.filter(~F.col("__maybe__")).drop("__maybe__")
        maybe = flagged.filter(F.col("__maybe__")).drop("__maybe__")
        screened = maybe.join(
            index_fps.withColumnRenamed("fp", "__fp__"), "__fp__", "left_anti"
        )
        return definite_new.unionByName(screened).drop("__fp__")
    return with_fp.join(
        index_fps.withColumnRenamed("fp", "__fp__"), "__fp__", "left_anti"
    ).drop("__fp__")


def dedup_index_pairs(
    new_df: DataFrame,
    path: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(new_id, index_id, jaccard) for every new doc within ``threshold``
    of an indexed doc, via the hash family recorded in the index's meta
    table. Near pairs decide on 64-bit hashed Jaccard (≈ exact string
    Jaccard; collision odds ~1e-13/pair); additionally, an identical doc
    AFTER text normalization always matches at jaccard 1.0 through the
    fingerprint — a deliberate superset of the raw-shingle operator
    (normalized-exact copies are duplicates even when case/whitespace
    shifts their raw shingles). Only the new batch is shingled."""
    spark = new_df.sparkSession
    meta = spark.read.parquet(path + "/meta").first()
    n_hashes, bands = int(meta.n_hashes), int(meta.bands)
    idx_docs = spark.read.parquet(path + "/docs")
    idx_bands = spark.read.parquet(path + "/bands")

    # checkpointed, not cached: the band rows and both staged joins read
    # the signature, and Spark frees the checkpoint with the frame
    new_docs = _doc_rows(new_df, id_col, text_col, n_hashes, int(meta.shingle_k)).localCheckpoint(
        eager=False
    )
    cand = (
        lsh_band_rows(new_docs, n_hashes, bands)
        .join(
            idx_bands.select(F.col("id").alias("index_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select(F.col("id").alias("new_id"), "index_id")
        .distinct()
    )
    # STAGED verification, same as minhash_lsh_pairs: join SIGNATURES
    # only (n_hashes longs) for every band candidate, prune at the
    # σ-scaled margin, and attach the ~KB-scale hb shingle sets only for
    # survivors — a template-heavy corpus floods the bands (176k
    # candidates for 255 true pairs measured there), and shuffling both
    # sides' full sets per candidate would dominate the screen
    margin = 4.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    est = (
        cand.join(
            new_docs.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_n")),
            "new_id",
        )
        .join(
            idx_docs.select(F.col("id").alias("index_id"), F.col("sig").alias("sig_i")),
            "index_id",
        )
        .withColumn(
            "__est__",
            F.size(F.filter(F.zip_with("sig_n", "sig_i", lambda p, q: p == q), lambda v: v))
            / F.lit(float(n_hashes)),
        )
        .filter(F.col("__est__") >= F.lit(max(0.0, threshold - margin)))
        .select("new_id", "index_id")
    )
    inter = F.size(F.array_intersect("hb_n", "hb_i"))
    j = inter.cast("double") / (F.size("hb_n") + F.size("hb_i") - inter)
    near = (
        est.join(new_docs.select(F.col("id").alias("new_id"), F.col("hb").alias("hb_n")), "new_id")
        .join(idx_docs.select(F.col("id").alias("index_id"), F.col("hb").alias("hb_i")), "index_id")
        .select("new_id", "index_id", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    exact = (
        new_docs.select(F.col("id").alias("new_id"), "fp")
        .join(idx_docs.select(F.col("id").alias("index_id"), "fp"), "fp")
        .select("new_id", "index_id", F.lit(1.0).alias("jaccard"))
    )
    return near.unionByName(exact).groupBy("new_id", "index_id").agg(
        F.max("jaccard").alias("jaccard")
    )


def dedup_against_index(
    new_df: DataFrame,
    path: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The incremental ingest filter: new docs minus everything already
    represented in the index (exact or near) — one anti-join against the
    (small) hit set. Survivors are what `write_dedup_index(mode='append')`
    should then add (the append freezes its input, so passing this lazy
    result straight in is safe; evaluating it yourself AFTER the append
    would re-screen against the extended index)."""
    hits = (
        dedup_index_pairs(new_df, path, threshold, id_col, text_col)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")
