"""DSIR-style data selection — importance weighting over hashed n-gram
features (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023) as Spark-first operators:

  hashed_ngram_counts  fit one hashed-feature bag model (unigrams +
                       bigrams -> md5 bucket in [0, n_buckets)) over a
                       corpus: ONE word-count-shaped shuffle, output is
                       n_buckets rows no matter the corpus size.
  dsir_logratio        per-doc importance weight: the summed
                       log-likelihood ratio of the doc's feature stream
                       under a TARGET model vs a SOURCE model (both
                       add-alpha over the fixed bucket domain). Docs
                       resembling the target score high.
  dsir_scorer          the same weight as a per-row column expression,
                       for streaming frames.
  dsir_topk            deterministic Gumbel top-k selection over the
                       weights — the paper's resampling step with
                       hash-derived (content-stable, engine-portable)
                       Gumbel noise instead of an RNG.

Scale design (100 TB):

- The fit is bucket-hashed BEFORE aggregation, so each model is at most
  ``n_buckets`` rows (default 4096) — always broadcastable; feature
  cardinality (unbounded web n-grams) never reaches a shuffle key.
- ``dsir_logratio`` explodes the feature stream and broadcast-joins
  BOTH models, then one hash re-agg per doc: one shuffle over the
  n-gram stream, all JVM/codegen; smoothing totals ride broadcast
  single-row frames (lazy plan, no job at build).
- ``dsir_scorer`` collects the two bucket tables (at most n_buckets
  rows each — bounded by construction) into numpy arrays and scores
  inside a zero-shuffle Arrow ``pandas_udf``: per-doc hashing + a
  vectorized gather, no explode, no shuffle. The dense
  per-batch math is numpy per the dense-kernel discipline (SCALE.md
  "Quantizer scoring").
- ``dsir_topk`` compiles to TakeOrderedAndProject (no global sort) —
  right for eval-suite-sized k. For corpus-sized selections, filter on
  a weight threshold instead (a plain pushed-down predicate).

Everything is engine-portable (md5-prefix bucket arithmetic + log2),
so the weight sits under the driver's DuckDB value-hash gate as the
``dsir`` leg of ``text_quality``.

Reference parity: no analog (beyond-reference pipeline operator,
SURVEY §6).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from mysql_to_s3_spark.operators.text import TOKEN_RE, tokens

DSIR_BUCKETS_DEFAULT = 4096


class DsirError(ValueError):
    pass


def _doc_features(text: Column) -> Column:
    """Unigram + bigram feature stream of the lowercased token list
    (bigrams joined with one space). Order irrelevant — the weight is a
    sum — but kept stream-like so counts are occurrence counts."""
    t = tokens(F.lower(text))
    n = F.size(t)
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bi)


def _feature_bucket(col: Column, n_buckets: int) -> Column:
    """First 8 hex chars of md5(feature) as a uint32, mod n_buckets —
    bit-identical in DuckDB (('0x' || substr(md5(f),1,8))::BIGINT % m)."""
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
    return h % F.lit(int(n_buckets))


def hashed_ngram_counts(
    docs: DataFrame,
    n_buckets: int = DSIR_BUCKETS_DEFAULT,
    text_col: str = "text",
) -> DataFrame:
    """(bucket, n) occurrence counts of the hashed feature stream — the
    DSIR model fit. One shuffle; at most ``n_buckets`` output rows."""
    if n_buckets < 2:
        raise DsirError(f"n_buckets must be >= 2, got {n_buckets}")
    return (
        docs.select(F.explode(_doc_features(F.col(text_col))).alias("__f__"))
        .select(_feature_bucket(F.col("__f__"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _log_term(n: Column, total: Column, alpha: float, m: int) -> Column:
    return F.log2((n + F.lit(alpha)) / (total + F.lit(alpha * m)))


def dsir_logratio(
    docs: DataFrame,
    target_counts: DataFrame,
    source_counts: DataFrame,
    *,
    n_buckets: int = DSIR_BUCKETS_DEFAULT,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, dsir_logratio): per-doc summed log2 likelihood ratio of the
    hashed feature stream under target vs source add-alpha models:

        w(doc) = sum_f [ log2 p_t(b(f)) - log2 p_s(b(f)) ]
        p(b)   = (n_b + alpha) / (T + alpha * n_buckets)

    Docs with no tokens carry NO output row (no features — the weight
    is undefined); consumers left-join and decide. ``target_counts``/
    ``source_counts`` are ``hashed_ngram_counts`` outputs fit with the
    SAME n_buckets."""
    # empty counts frame: sum(n) is NULL — coalesce to 0 so the add-alpha
    # formula stays defined (uniform model), matching dsir_logratio_sql
    t_stats = target_counts.agg(
        F.coalesce(F.sum("n").cast("double"), F.lit(0.0)).alias("__tt__")
    )
    s_stats = source_counts.agg(
        F.coalesce(F.sum("n").cast("double"), F.lit(0.0)).alias("__ts__")
    )
    feats = docs.select(
        F.col(id_col), F.explode(_doc_features(F.col(text_col))).alias("__f__")
    ).select(F.col(id_col), _feature_bucket(F.col("__f__"), n_buckets).alias("bucket"))
    joined = (
        feats.join(
            F.broadcast(target_counts.withColumnRenamed("n", "__nt__")),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(source_counts.withColumnRenamed("n", "__ns__")),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_stats))
        .crossJoin(F.broadcast(s_stats))
    )
    term = _log_term(
        F.coalesce(F.col("__nt__"), F.lit(0)).cast("double"),
        F.col("__tt__"), alpha, n_buckets,
    ) - _log_term(
        F.coalesce(F.col("__ns__"), F.lit(0)).cast("double"),
        F.col("__ts__"), alpha, n_buckets,
    )
    return joined.groupBy(id_col).agg(F.sum(term).alias("dsir_logratio"))


def dsir_scorer(
    target_counts,
    source_counts,
    *,
    n_buckets: int = DSIR_BUCKETS_DEFAULT,
    alpha: float = 1.0,
):
    """``Column -> Column`` DSIR weight scorer (a broadcast-array Arrow
    ``pandas_udf``): both bucket tables — ``hashed_ngram_counts``
    DataFrames or plain ``[(bucket, n), ...]`` lists — collapse to numpy
    log-prob arrays riding the UDF closure (bounded by ``n_buckets``,
    never the corpus), so scoring is per-row, stateless, zero-shuffle,
    and STREAMING-SAFE — the ``unigram_scorer`` shape. DataFrame inputs
    collect at build time (<= n_buckets rows by construction); docs with
    no tokens score null."""
    import numpy as np

    # the UDF's string type hints ("pd.Series", via the module-wide
    # `from __future__ import annotations`) resolve against this
    # function's globals at decoration time — same pattern as lm.py
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if alpha <= 0:
        raise DsirError("alpha must be positive (it is the smoothing floor)")

    def _model(counts) -> "np.ndarray":
        arr = np.zeros(n_buckets, dtype=np.float64)
        rows = counts.collect() if isinstance(counts, DataFrame) else counts
        for r in rows:
            # Row carries names (asDict); plain (bucket, n) tuples/lists —
            # the documented list form — index positionally (a tuple HAS
            # __getitem__, so a string-key probe would raise on them)
            b, n = (r["bucket"], r["n"]) if hasattr(r, "asDict") else (r[0], r[1])
            arr[int(b)] = float(n)
        total = arr.sum()
        return np.log2((arr + alpha) / (total + alpha * n_buckets))

    ratio = _model(target_counts) - _model(source_counts)

    import hashlib
    import re as _re

    tok = _re.compile(TOKEN_RE, _re.ASCII)

    def _score_one(text) -> float | None:
        if text is None:
            return None
        ts = tok.findall(text.lower())
        if not ts:
            return None
        feats = ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        idx = np.fromiter(
            (
                int(hashlib.md5(f.encode("utf-8")).hexdigest()[:8], 16) % n_buckets
                for f in feats
            ),
            dtype=np.int64,
            count=len(feats),
        )
        return float(ratio[idx].sum())

    @pandas_udf("double")
    def _score(texts: pd.Series) -> pd.Series:
        return texts.map(_score_one)

    return _score


def dsir_topk(
    weighted: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    weight_col: str = "dsir_logratio",
    temperature: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """The paper's Gumbel-top-k resample, determinized: k rows with the
    largest ``w/temperature + Gumbel(hash(id|salt))``, where the Gumbel
    draw is -ln(-ln(u)) over the content-stable uniform
    u = (md5-bucket(id|salt) + 0.5) / 1e6 — reproducible across runs,
    partitionings, and engines; different salts give independent
    resamples. temperature -> 0 approaches plain top-k by weight;
    higher temperatures approach uniform sampling. Compiles to
    TakeOrderedAndProject (no global sort); null weights never win
    (sort key null -> excluded)."""
    from mysql_to_s3_spark.operators.sampling import SPLIT_BUCKETS, hash_bucket

    if k < 1:
        raise DsirError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise DsirError(f"temperature must be > 0, got {temperature}")
    u = (
        hash_bucket(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)))
        + F.lit(0.5)
    ) / F.lit(float(SPLIT_BUCKETS))
    gumbel = -F.log(-F.log(u))
    key = F.col(weight_col) / F.lit(float(temperature)) + gumbel
    return (
        weighted.withColumn("__gk__", key)
        .filter(F.col("__gk__").isNotNull())
        .orderBy(F.col("__gk__").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("__gk__")
    )


def dsir_logratio_sql(
    table: str = "documents",
    target_where: str = "lang = 'en'",
    *,
    n_buckets: int = DSIR_BUCKETS_DEFAULT,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL reproducing ``dsir_logratio`` with target
    = rows of ``table`` matching ``target_where`` and source = all rows
    — the oracle for the driver's ``dsir`` leg. Output: (id,
    dsir_logratio), weights unrounded (round at the consumer)."""
    m = int(n_buckets)
    a = float(alpha)
    return f"""
      WITH tl AS (
        SELECT {id_col},
               regexp_extract_all(lower({text_col}), '{TOKEN_RE}') AS t
        FROM {table}),
      feats AS (
        SELECT {id_col}, unnest(list_concat(
          t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
        )) AS f
        FROM tl),
      fb AS (
        SELECT {id_col},
               ('0x' || substr(md5(f), 1, 8))::BIGINT % {m} AS bucket
        FROM feats),
      tgt AS (
        SELECT bucket, count(*)::DOUBLE AS n
        FROM fb JOIN {table} USING ({id_col})
        WHERE {target_where} GROUP BY bucket),
      src AS (SELECT bucket, count(*)::DOUBLE AS n FROM fb GROUP BY bucket),
      stt AS (SELECT coalesce(sum(n), 0)::DOUBLE AS tot FROM tgt),
      sts AS (SELECT coalesce(sum(n), 0)::DOUBLE AS tot FROM src)
      SELECT fb.{id_col},
             sum(log2((coalesce(tgt.n, 0) + {a}) / (stt.tot + {a} * {m}))
                 - log2((coalesce(src.n, 0) + {a}) / (sts.tot + {a} * {m})))
               AS dsir_logratio
      FROM fb
      LEFT JOIN tgt USING (bucket)
      LEFT JOIN src USING (bucket)
      CROSS JOIN stt CROSS JOIN sts
      GROUP BY fb.{id_col}"""
