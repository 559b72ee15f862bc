"""DSIR importance weighting (operators/dsir.py) — pure-Python replica
of the hashed-ngram log-likelihood-ratio weight, join-path vs Arrow
scorer agreement, Gumbel top-k determinism/temperature/salt semantics, fit
bounds, and guard errors."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.dsir import (
    DsirError,
    dsir_logratio,
    dsir_scorer,
    dsir_topk,
    hashed_ngram_counts,
)
from mysql_to_s3_spark.operators.text import TOKEN_RE

M = 64  # small bucket count so collisions actually occur in the test


def _feats(text: str) -> list[str]:
    ts = re.compile(TOKEN_RE, re.ASCII).findall(text.lower())
    return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]


def _bucket(f: str) -> int:
    return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % M


def _replica_weights(rows, target_ids, alpha=1.0):
    """Independent pure-Python implementation of fit + score."""
    tgt: dict[int, int] = {}
    src: dict[int, int] = {}
    for i, text in rows:
        for f in _feats(text or ""):
            b = _bucket(f)
            src[b] = src.get(b, 0) + 1
            if i in target_ids:
                tgt[b] = tgt.get(b, 0) + 1
    tt, ts = sum(tgt.values()), sum(src.values())

    def lp(n, tot):
        return math.log2((n + alpha) / (tot + alpha * M))

    out = {}
    for i, text in rows:
        fs = _feats(text or "")
        if not fs:
            continue
        out[i] = sum(
            lp(tgt.get(_bucket(f), 0), tt) - lp(src.get(_bucket(f), 0), ts)
            for f in fs
        )
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox"),
        (3, "der schnelle braune fuchs springt"),
        (4, "el zorro marron rapido salta"),
        (5, "dog dog dog quick quick"),
        (6, ""),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
        "lang", F.when(F.col("doc_id") <= 2, "en").otherwise("xx")
    )
    return rows, df


def test_logratio_matches_pure_python_replica(spark, corpus):
    rows, df = corpus
    tgt = hashed_ngram_counts(df.filter(F.col("lang") == "en"), n_buckets=M)
    src = hashed_ngram_counts(df, n_buckets=M)
    got = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(df, tgt, src, n_buckets=M).collect()
        if r["dsir_logratio"] is not None
    }
    want = _replica_weights(rows, {1, 2})
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k
    # target-resembling docs outscore the foreign-language docs
    assert min(got[1], got[2]) > max(got[3], got[4])


def test_arrow_mode_agrees_with_join(spark, corpus):
    """dsir_scorer (the Arrow per-row form) gives every doc with tokens
    the dsir_logratio weight, and null where dsir_logratio has no row."""
    rows, df = corpus
    tgt = hashed_ngram_counts(df.filter(F.col("lang") == "en"), n_buckets=M)
    src = hashed_ngram_counts(df, n_buckets=M)
    j = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(df, tgt, src, n_buckets=M).collect()
    }
    score = dsir_scorer(tgt, src, n_buckets=M)
    a = {
        r["doc_id"]: r["w"]
        for r in df.select("doc_id", score(F.col("text")).alias("w")).collect()
    }
    assert {k for k, v in a.items() if v is not None} == set(j) == {1, 2, 3, 4, 5}
    for k, v in j.items():
        assert a[k] == pytest.approx(v, abs=1e-6)


def test_arrow_plan_has_no_exchange(spark, corpus):
    _, df = corpus
    tgt = hashed_ngram_counts(df.filter(F.col("lang") == "en"), n_buckets=M)
    src = hashed_ngram_counts(df, n_buckets=M)
    score = dsir_scorer(tgt, src, n_buckets=M)
    scored = df.select("doc_id", score(F.col("text")).alias("dsir_logratio"))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_fit_is_bounded_by_n_buckets(spark, corpus):
    _, df = corpus
    cnt = hashed_ngram_counts(df, n_buckets=8)
    rows = cnt.collect()
    assert 0 < len(rows) <= 8
    assert all(0 <= r["bucket"] < 8 for r in rows)
    # occurrence counts: total == number of features in the corpus
    n_feats = sum(
        len(_feats(t or "")) for _, t in df.select("doc_id", "text").collect()
    )
    assert sum(r["n"] for r in rows) == n_feats


def test_topk_semantics(spark, corpus):
    rows, df = corpus
    tgt = hashed_ngram_counts(df.filter(F.col("lang") == "en"), n_buckets=M)
    src = hashed_ngram_counts(df, n_buckets=M)
    w = dsir_logratio(df, tgt, src, n_buckets=M)

    # deterministic: identical selection on a re-run
    first = sorted(r["doc_id"] for r in dsir_topk(w, 3).collect())
    again = sorted(r["doc_id"] for r in dsir_topk(w, 3).collect())
    assert first == again

    # near-zero temperature approaches plain top-k by weight
    by_weight = sorted(
        (r["doc_id"] for r in w.collect() if r["dsir_logratio"] is not None),
        key=lambda i: -{
            r["doc_id"]: r["dsir_logratio"] for r in w.collect()
        }[i],
    )[:2]
    cold = sorted(r["doc_id"] for r in dsir_topk(w, 2, temperature=1e-6).collect())
    assert cold == sorted(by_weight)

    # k >= population returns every weighted row, nulls excluded
    all_rows = dsir_topk(w, 100).collect()
    assert sorted(r["doc_id"] for r in all_rows) == [1, 2, 3, 4, 5]

    # a different salt may reorder the resample but never resurrects nulls
    other = dsir_topk(w, 3, salt="other", temperature=5.0).collect()
    assert len(other) == 3
    assert all(r["dsir_logratio"] is not None for r in other)


def test_guards(spark, corpus):
    _, df = corpus
    cnt = hashed_ngram_counts(df, n_buckets=M)
    with pytest.raises(DsirError, match="n_buckets"):
        hashed_ngram_counts(df, n_buckets=1)
    w = dsir_logratio(df, cnt, cnt, n_buckets=M)
    with pytest.raises(DsirError, match="k"):
        dsir_topk(w, 0)
    with pytest.raises(DsirError, match="temperature"):
        dsir_topk(w, 1, temperature=0.0)


def test_empty_counts_frame_matches_sql_oracle_semantics(spark, corpus):
    """r9 (ADVICE): an EMPTY counts frame must yield the uniform
    add-alpha model (totals coalesce to 0), not NULL weights — the SQL
    oracle (dsir_logratio_sql) coalesces its totals, and dsir_logratio
    must agree. With target == source == empty, every ratio term is 0."""
    rows, df = corpus
    empty = hashed_ngram_counts(
        df.filter(F.lit(False)), n_buckets=M
    )
    got = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(df, empty, empty, n_buckets=M).collect()
    }
    # docs with tokens score a DEFINED 0.0 (uniform vs uniform)
    assert set(got) == {1, 2, 3, 4, 5}
    for v in got.values():
        assert v == pytest.approx(0.0, abs=1e-12)
    # and empty target vs real source stays defined (negative weights:
    # everything is rarer under the uniform target than the fit source)
    src = hashed_ngram_counts(df, n_buckets=M)
    got2 = dsir_logratio(df, empty, src, n_buckets=M).collect()
    assert all(r["dsir_logratio"] is not None for r in got2)


def test_dsir_scorer_accepts_tuple_models(spark):
    """r9: the documented '(bucket, n) lists' model form — plain tuples
    (the shape a caller gets from `[(r.bucket, r.n) for r in ...]`) must
    score identically to DataFrame models. Regression: tuples have
    __getitem__, so the Row-vs-list probe must key on asDict, not on
    indexability (string-indexing a tuple raises TypeError)."""
    from mysql_to_s3_spark.operators.dsir import dsir_scorer

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta"), (3, "gamma alpha")],
        "doc_id bigint, text string",
    )
    tgt = hashed_ngram_counts(docs.filter(F.col("doc_id") == 1), n_buckets=M)
    src = hashed_ngram_counts(docs, n_buckets=M)
    tgt_rows = [(r.bucket, r.n) for r in tgt.collect()]
    src_rows = [(r.bucket, r.n) for r in src.collect()]
    s_frame = dsir_scorer(tgt, src, n_buckets=M)
    s_tuple = dsir_scorer(tgt_rows, src_rows, n_buckets=M)
    a = {r.doc_id: r.w for r in docs.select("doc_id", s_frame(F.col("text")).alias("w")).collect()}
    b = {r.doc_id: r.w for r in docs.select("doc_id", s_tuple(F.col("text")).alias("w")).collect()}
    assert a == b and len(a) == 3


def test_dsir_topk_compiles_to_take_ordered(spark):
    """r9 plan guard for the docstring claim: the Gumbel top-k selection
    is TakeOrderedAndProject (partial per-partition top-k, no global
    Sort node) — the property that keeps dsir_topk corpus-scale."""
    docs = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "doc_id bigint, w double"
    )
    plan = (
        dsir_topk(docs, 5, weight_col="w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan
