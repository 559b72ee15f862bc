"""Train/eval cross-corpus decontamination by n-gram overlap.

A training-corpus document is CONTAMINATED when a large fraction of an
evaluation document's k-shingles appear verbatim in it — the standard
published decontamination recipe (n-gram collision against benchmark
text, as described in the GPT-2/GPT-3 appendices and the open
Dolma/RedPajama pipeline docs). The overlap is measured as

    |shingles(bench) ∩ shingles(train)| / |shingles(bench)|

i.e. asymmetric containment of the BENCH doc (the small, fixed side) in
the train doc — a 1000-page train doc that embeds a whole eval question
scores 1.0 even though its Jaccard similarity is tiny, which is exactly
why dedup thresholds cannot be reused for decontamination.

100 TB story: the benchmark side is tiny (eval suites are MBs) while the
train side is the full corpus, so the exploded bench shingles are
BROADCAST — the corpus-side scan never shuffles on text. The per-pair
overlap count is a partial-aggregated groupBy on (train_id, bench_id),
map-side-combined down to the few candidate pairs that share any shingle
at all. No all-pairs step anywhere; cost is linear in corpus shingles ×
(benchmark shingle hit-rate).

Reference parity: no analog in the reference (its pipeline stops at
extract/dedup); beyond-reference LLM-pipeline operator per SURVEY §6.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from mysql_to_s3_spark.operators.dedup import SHINGLE_K, shingles

log = logging.getLogger(__name__)

# default for contamination_pairs(broadcast_max_shingles=...). Bench
# sides at or under this many exploded shingles broadcast (the fast
# path — eval suites are MBs); above it the join degrades to a plain
# shuffle instead of OOMing every executor. 32M hashed shingles
# ≈ 256 MB of int64 keys — comfortably under a default 1 GiB executor
# broadcast budget even with row overhead; string shingles are larger
# per row, so the same count bound is the conservative one.
DEFAULT_BENCH_BROADCAST_CAP = 32_000_000


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    train_id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
    broadcast_max_shingles: int = DEFAULT_BENCH_BROADCAST_CAP,
    broadcast: bool | None = None,
) -> DataFrame:
    """(train_id, bench_id, overlap, overlap_frac) for every pair with
    round(overlap_frac, 6) >= threshold. ``overlap`` counts distinct
    shared k-shingles; ``overlap_frac`` normalizes by the BENCH doc's
    shingle count (containment, not Jaccard). Self-pairs (same id on
    both sides) are excluded so a corpus can be screened against a
    subset of itself.

    ``hashed=True`` is the scale switch: shingles become xxhash64 int64s
    before the explode/join, shrinking the corpus-side rows and the
    broadcast from k-byte strings to 8 bytes and making the join key
    comparison a long compare. A cross-doc hash collision can inflate an
    overlap count by ~1/|bench shingles|; at 64 bits that is ~1e-12 per
    screened pair — keep the exact string form only where results feed a
    value-equality parity check.

    ``broadcast_max_shingles`` guards the bench-side broadcast: a bench
    side larger than the cap falls back to a plain shuffle join (logged)
    instead of broadcasting past executor memory — the valve for callers
    screening corpus-vs-corpus through the ``hashed`` path. The size
    estimate is a one-pass CHARACTER-length sum over the bench text — a
    true upper bound on the exploded count, since ``shingles`` emits at
    most length(text) distinct character k-grams per doc — NOT a second
    run of the shingling; it is still one cheap Spark job at
    DataFrame-construction time. Callers composing lazy pipelines who
    already know the answer can skip that job entirely with
    ``broadcast=True`` (bench is a fixed-size eval suite) or
    ``broadcast=False`` (corpus-vs-corpus — never broadcast);
    ``broadcast=None`` (the default everywhere) keeps the guarded auto
    decision."""

    def _sh(col):
        s = shingles(col, k)
        return F.transform(s, lambda x: F.xxhash64(x)) if hashed else s

    tsh = train.select(
        F.col(train_id_col).alias("train_id"),
        F.explode(_sh(F.col(text_col))).alias("shingle"),
    )
    bsets = bench.select(
        F.col(bench_id_col).alias("bench_id"), _sh(F.col(text_col)).alias("s")
    )
    bsh = bsets.select("bench_id", F.size("s").alias("n_bench"), F.explode("s").alias("shingle"))
    if broadcast is None:
        # upper bound on the exploded shingle count WITHOUT shingling
        # twice: shingles() emits character k-grams, at most
        # length(text) distinct per doc (a word count would UNDERcount
        # by ~avg word length and defeat the OOM valve) — this scan is
        # plain length arithmetic over the bench text
        n_bench_shingles = bench.agg(
            F.coalesce(F.sum(F.length(F.col(text_col))), F.lit(0)).alias("n")
        ).first()["n"]
        broadcast = n_bench_shingles <= broadcast_max_shingles
        if not broadcast:
            log.warning(
                "decontamination bench side has ~%d shingles (> cap %d): "
                "falling back to a shuffle join instead of broadcasting",
                n_bench_shingles,
                broadcast_max_shingles,
            )
    if broadcast:
        bsh = F.broadcast(bsh)
    # shingle lists are array_distinct per doc, so count(*) per pair is
    # exactly the distinct shared-shingle count — no count_distinct Expand
    pairs = (
        tsh.join(bsh, "shingle")
        .filter(F.col("train_id") != F.col("bench_id"))
        .groupBy("train_id", "bench_id", "n_bench")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    frac = F.round(F.col("overlap").cast("double") / F.col("n_bench"), 6)
    return (
        pairs.withColumn("overlap_frac", frac)
        .filter(F.col("overlap_frac") >= F.lit(float(threshold)))
        .select("train_id", "bench_id", F.col("overlap").cast("long").alias("overlap"), "overlap_frac")
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.5,
    k: int = SHINGLE_K,
    train_id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
    broadcast_max_shingles: int = DEFAULT_BENCH_BROADCAST_CAP,
    broadcast: bool | None = None,
) -> DataFrame:
    """Drop every contaminated doc from ``train`` — one left-anti join
    against the (small) contaminated-id set."""
    hits = contamination_pairs(
        train, bench, threshold, k, train_id_col, bench_id_col, text_col,
        hashed, broadcast_max_shingles, broadcast,
    ).select(F.col("train_id").alias(train_id_col)).distinct()
    return train.join(hits, train_id_col, "left_anti")
