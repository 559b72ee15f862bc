"""Unigram-LM perplexity scoring (operators/lm.py) — hand-computed
model values, unigram_logprob vs unigram_scorer agreement, OOV floor,
vocab cap."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.lm import (
    LmError,
    unigram_counts,
    unigram_logprob,
    unigram_scorer,
)


def _scored(docs, counts=None):
    """{doc_id: score} from unigram_scorer — the per-row Arrow form."""
    sc = unigram_scorer(unigram_counts(docs) if counts is None else counts)
    return {r.doc_id: r.s for r in docs.select("doc_id", sc(F.col("text")).alias("s")).collect()}


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, "a a b"), (2, "c!"), (3, ""), (4, None)],
        "doc_id: long, text: string",
    )


def test_hand_computed_model(spark, tiny):
    # tokens (lowered): doc1 [a,a,b], doc2 [c,!]; counts a:2 b:1 c:1 !:1
    # T=5, V=4, alpha=1 -> denom = 5 + 1*(4+1) = 10
    lp = {"a": math.log2(3 / 10), "b": math.log2(2 / 10),
          "c": math.log2(2 / 10), "!": math.log2(2 / 10)}
    want = {
        1: (2 * lp["a"] + lp["b"]) / 3,
        2: (lp["c"] + lp["!"]) / 2,
        3: None,
        4: None,
    }
    joined = {r.doc_id: r.lm_logprob for r in unigram_logprob(tiny).collect()}
    for form, got in (("logprob", joined), ("scorer", _scored(tiny))):
        assert set(got) == set(want)
        for k, v in want.items():
            if v is None:
                assert got[k] is None, (form, k)
            else:
                assert got[k] == pytest.approx(v, abs=1e-12), (form, k)


def test_modes_agree_on_corpus(spark, sf_dir):
    """unigram_scorer and unigram_logprob score the same model."""
    from mysql_to_s3_spark.sources.registry import load_table

    docs = (load_table(spark, sf_dir, "documents")
            .orderBy("doc_id").limit(300).select("doc_id", "text").cache())
    j = {r.doc_id: r.lm_logprob for r in unigram_logprob(docs).collect()}
    a = _scored(docs)
    assert set(j) == set(a) and j
    for k in j:
        if j[k] is None:
            assert a[k] is None
        else:
            assert a[k] == pytest.approx(j[k], rel=1e-9), k


def test_oov_floor_and_cross_corpus(spark):
    ref = spark.createDataFrame([(1, "a a a b")], "doc_id: long, text: string")
    cnt = unigram_counts(ref)  # a:3 b:1 -> T=4 V=2 denom = 4 + 3 = 7
    target = spark.createDataFrame([(9, "z z")], "doc_id: long, text: string")
    floor = math.log2(1 / 7)
    got = unigram_logprob(target, cnt).collect()[0].lm_logprob
    assert got == pytest.approx(floor, abs=1e-12)
    assert _scored(target, cnt)[9] == pytest.approx(floor, abs=1e-12)


def test_vocab_cap_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "x x y y z w")], "doc_id: long, text: string"
    )
    top = unigram_counts(docs, vocab_size=3).collect()
    # counts: x:2 y:2 z:1 w:1 -> cap=3 keeps x,y then 'w' beats 'z' on
    # the token-asc tiebreak
    assert {(r.token, r.n) for r in top} == {("x", 2), ("y", 2), ("w", 1)}


def test_bad_args(spark, tiny):
    with pytest.raises(LmError):
        unigram_counts(tiny, vocab_size=0)
    with pytest.raises(LmError):
        unigram_logprob(tiny, alpha=0.0)
    with pytest.raises(LmError):
        unigram_scorer([("a", 1)], alpha=0.0, spark=spark)


# ---------------------------------------------------------------- bigram


def test_bigram_hand_computed(spark):
    # doc: "a b a b" -> pairs (<s>,a) (a,b) (b,a) (a,b)
    # bi: (<s>,a):1 (a,b):2 (b,a):1 ; V = |{a,b}| = 2
    # C(<s>)=1 C(a)=2 C(b)=1 ; denom(ctx) = C + 1*(2+1) = C+3
    from mysql_to_s3_spark.operators.lm import bigram_logprob

    docs = spark.createDataFrame([(1, "a b a b")], "doc_id: long, text: string")
    want = (
        math.log2(2 / 4)        # <s> a
        + math.log2(3 / 5)      # a b
        + math.log2(2 / 4)      # b a
        + math.log2(3 / 5)      # a b
    ) / 4
    got = bigram_logprob(docs).collect()[0].lm2_logprob
    assert got == pytest.approx(want, abs=1e-12)


def test_bigram_unseen_pair_and_context(spark):
    from mysql_to_s3_spark.operators.lm import bigram_counts, bigram_logprob

    ref = spark.createDataFrame([(1, "a b")], "doc_id: long, text: string")
    bi = bigram_counts(ref)  # (<s>,a):1 (a,b):1 ; V=2 ; C(<s>)=1 C(a)=1
    # target "a a": pair (<s>,a) seen -> log2(2/4); pair (a,a) unseen in
    # seen context a -> log2(1/4)
    t1 = spark.createDataFrame([(9, "a a")], "doc_id: long, text: string")
    # target "z z": (<s>,z) unseen pair in seen ctx <s> -> log2(1/4);
    # (z,z) wholly unseen ctx -> log2(1/(V+1)) = log2(1/3)
    t2 = spark.createDataFrame([(8, "z z")], "doc_id: long, text: string")
    w1 = (math.log2(2 / 4) + math.log2(1 / 4)) / 2
    w2 = (math.log2(1 / 4) + math.log2(1 / 3)) / 2
    g1 = bigram_logprob(t1, bi).collect()[0].lm2_logprob
    g2 = bigram_logprob(t2, bi).collect()[0].lm2_logprob
    assert g1 == pytest.approx(w1, abs=1e-12)
    assert g2 == pytest.approx(w2, abs=1e-12)


def test_bigram_matches_duckdb_oracle(spark, sf_dir):
    """Self-fit bigram scores on the real corpus vs a DuckDB replica of
    the same model (pair construction via BOS-prepended list zip)."""
    import duckdb

    from mysql_to_s3_spark.operators.lm import bigram_logprob
    from mysql_to_s3_spark.sources.registry import load_table

    docs = (load_table(spark, sf_dir, "documents")
            .orderBy("doc_id").limit(200).select("doc_id", "text").cache())
    got = {
        r.doc_id: r.lm2_logprob
        for r in bigram_logprob(docs).collect()
    }
    con = duckdb.connect()
    con.register("docs_arrow", docs.toPandas())
    sql = r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\w+|[^\w\s]') AS t
      FROM docs_arrow),
    pairs AS (
      SELECT doc_id, list_prepend('<s>', t)[i] AS prev, t[i] AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
    bi AS (SELECT prev, w, count(*) AS n FROM pairs GROUP BY prev, w),
    ctx AS (SELECT prev, sum(n) AS cn FROM bi GROUP BY prev),
    st AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM bi),
    sc AS (SELECT p.doc_id,
                  avg(log2((coalesce(b.n, 0) + 1.0) / (c.cn + 1.0 * (st.v + 1)))) AS lp
           FROM pairs p
           LEFT JOIN bi b ON p.prev = b.prev AND p.w = b.w
           JOIN ctx c ON p.prev = c.prev
           CROSS JOIN st
           GROUP BY p.doc_id)
    SELECT d.doc_id, sc.lp FROM toks d LEFT JOIN sc USING (doc_id)"""
    want = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert set(got) == set(want)
    for k in got:
        if want[k] is None:
            assert got[k] is None, k
        else:
            assert got[k] == pytest.approx(want[k], rel=1e-9), k


def test_lm_join_mode_plan_is_broadcast(spark, sf_dir):
    """The scoring plan must broadcast the model frames —
    the token stream itself must never shuffle for the joins (only the
    per-doc re-agg exchanges)."""
    import re as _re

    from mysql_to_s3_spark.operators.lm import bigram_logprob
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for frame in (unigram_logprob(docs), bigram_logprob(docs)):
        plan = frame._sc._jvm.PythonSQLUtils.explainString(
            frame._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_arrow_collect_valve_unigram(spark, tiny, monkeypatch):
    """unigram_scorer's model collect is capped: an oversized self-fit
    model RAISES (the 'bound it first' contract is enforced, not
    trusted); a vocab_size-capped model under the cap still builds;
    unigram_logprob never collects and is unaffected by the cap."""
    from mysql_to_s3_spark.operators import lm

    monkeypatch.setattr(lm, "LM_COLLECT_CAP", 2)
    # tiny's vocabulary is 4 tokens (a b c !) > cap 2
    with pytest.raises(LmError, match="exceeds 2 rows"):
        unigram_scorer(unigram_counts(tiny))
    got = _scored(tiny, unigram_counts(tiny, vocab_size=2))
    assert set(got) == {1, 2, 3, 4}
    # the join path builds lazily against the same oversized model
    unigram_logprob(tiny)
    # the plain-list path is the caller's own materialization — no valve
    sc = unigram_scorer([("a", 2), ("b", 1), ("c", 1), ("!", 1)], spark=spark)
    assert sc is not None


def test_perplexity_buckets_semantics(spark):
    """r8: CCNet head/middle/tail — highest logprob (lowest perplexity)
    lands in head, terciles split a 6-doc corpus 2/2/2, null scores
    bucket to null, and the approx mode agrees on a well-separated
    corpus; guard errors on malformed labels/fractions."""
    from mysql_to_s3_spark.operators.lm import perplexity_buckets

    scores = spark.createDataFrame(
        [(1, -1.0), (2, -2.0), (3, -3.0), (4, -4.0), (5, -5.0), (6, -6.0),
         (7, None)],
        "doc_id bigint, lm_logprob double",
    )
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores).collect()
    }
    assert got[7] is None
    assert got[1] == got[2] == "head"      # least perplexed third
    assert got[3] == got[4] == "middle"
    assert got[5] == got[6] == "tail"

    ga = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores, approx=True).collect()
    }
    assert ga == got  # well-separated values: the sketch agrees exactly

    with pytest.raises(LmError, match="labels"):
        perplexity_buckets(scores, labels=("a", "b"))
    with pytest.raises(LmError, match="fractions"):
        perplexity_buckets(scores, fractions=(0.9, 0.1), labels=("a", "b", "c"))


def test_perplexity_buckets_bracketed_equals_exact(spark, sf_dir):
    """bracketed=True boundaries are bit-equal to the exact mode's, so
    every doc lands in the same bucket; approx+bracketed refuses."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.lm import LmError, perplexity_buckets, unigram_logprob
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob(docs, id_col="doc_id", text_col="text")
    exact = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores).select("doc_id", "ppl_bucket").collect()
    }
    brk = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores, bracketed=True)
        .select("doc_id", "ppl_bucket")
        .collect()
    }
    assert brk == exact and len(exact) > 0
    with _pytest.raises(LmError, match="mutually exclusive"):
        perplexity_buckets(scores, approx=True, bracketed=True)


def test_perplexity_buckets_bracketed_all_null_scores(spark):
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.lm import perplexity_buckets

    scores = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, lm_logprob double"
    )
    got = perplexity_buckets(scores, bracketed=True).select("doc_id", "ppl_bucket").collect()
    assert all(r["ppl_bucket"] is None for r in got)


def test_perplexity_buckets_per_group_matches_per_language_runs(spark, sf_dir):
    """by=['lang'] boundaries equal running the global form on each
    language separately (CCNet's per-language terciles), null-key and
    all-null-score groups bucket to null, and approx+by composes."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.lm import perplexity_buckets, unigram_logprob
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_logprob(docs, id_col="doc_id", text_col="text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(scores, by=["lang"])
        .select("doc_id", "ppl_bucket")
        .collect()
    }
    want = {}
    for lang in [r["lang"] for r in scores.select("lang").distinct().collect()]:
        sub = scores.filter(F.col("lang").eqNullSafe(F.lit(lang)))
        want.update(
            {
                r["doc_id"]: r["ppl_bucket"]
                for r in perplexity_buckets(sub).select("doc_id", "ppl_bucket").collect()
            }
        )
    assert got == want and len(got) > 0

    # null-key group gets its own boundaries; all-null-score group -> null
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("x", 3.0), (None, 5.0), (None, 7.0), (None, 9.0),
         ("z", None)],
        "lang string, lm_logprob double",
    )
    out = {(r["lang"], r["lm_logprob"]): r["ppl_bucket"]
           for r in perplexity_buckets(df, by=["lang"]).collect()}
    assert out[("x", 1.0)] == "tail" and out[("x", 3.0)] == "head"
    assert out[(None, 5.0)] == "tail" and out[(None, 9.0)] == "head"
    assert out[("z", None)] is None

    import pytest as _pytest

    from mysql_to_s3_spark.operators.lm import LmError

    with _pytest.raises(LmError, match="corpus-global"):
        perplexity_buckets(df, by=["lang"], bracketed=True)
