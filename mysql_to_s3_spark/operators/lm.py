"""Corpus-fit n-gram language-model scoring — the CCNet-style
perplexity filter (Wenzek et al., "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", LREC 2020) as a Spark-first
operator pair: fit token statistics over a (reference) corpus, then
score every document's mean per-token log-probability. Low-probability
docs (high perplexity) are boilerplate/gibberish candidates; the score
column slots into the same quality-gate position `quality_score` uses.

Production CCNet uses a pretrained 5-gram KenLM; this module fits its
model FROM a corpus so the whole path is self-contained and exactly
reproducible by the DuckDB oracle (the driver's `text_quality` row
carries the score as a hard-verified leg). The Spark-side plumbing —
fit shuffle, broadcast scoring, Arrow batch shape — is identical for a
pretrained model: load its table into `counts` (or its python dict into
the broadcast) and skip the fit.

Scale design (100 TB):

- ``unigram_counts`` (the fit) is ONE shuffle over the token stream
  with map-side partial aggregation — the same cost profile as a word
  count. ``vocab_size`` caps the model deterministically (count desc,
  token asc) so the scoring side stays memory-bounded no matter the
  corpus; out-of-vocabulary tokens get the add-alpha floor.
- ``unigram_logprob`` / ``bigram_logprob`` explode tokens and
  BROADCAST-join the model, then one hash re-agg per doc: one shuffle
  over the token stream, all JVM/codegen. The smoothing denominator
  rides a broadcast single-row stats frame (crossJoin) so building the
  plan triggers NO job — the module stays lazy end to end.
- ``unigram_scorer`` is the zero-shuffle per-row form: the counts
  collapse to one broadcast dict (bounded by ``vocab_size``) and
  scoring is an Arrow ``pandas_udf`` over the text column — per-token
  lookups never touch a shuffle, and the plain column expression gates
  a streaming frame too. It collects the counts (one job) at
  plan-build, behind the ``LM_COLLECT_CAP`` valve.

Both forms compute the identical add-alpha model: with V = vocab rows
and T = total token occurrences in ``counts``,

    logp(w) = log2((n_w + alpha) / (T + alpha * (V + 1)))   in-vocab
    logp(w) = log2(alpha / (T + alpha * (V + 1)))           OOV

and a doc's score is the MEAN logp over its tokens (null for docs with
no tokens — callers decide whether token-free docs pass a gate).
Tokenization is the module-wide ``TOKEN_RE`` applied to lowercased
text; the scorer pins ``re.ASCII`` so Python's ``\\w`` agrees with
the JVM's and RE2's ASCII word classes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from mysql_to_s3_spark.operators.text import TOKEN_RE, tokens


class LmError(ValueError):
    pass


# Driver-OOM valve for the Arrow scorer: the broadcast-dict path COLLECTS
# the model at plan-build, and an unbounded self-fit on a web-scale
# corpus is an unbounded driver transfer. Same shape as decontam.py's
# broadcast cap — measure cheaply, refuse above a fixed cap instead of
# trusting a docstring.
LM_COLLECT_CAP = 2_000_000


def _doc_tokens(text: Column) -> Column:
    return tokens(F.lower(text))


def unigram_counts(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int | None = None,
) -> DataFrame:
    """(token, n) occurrence counts over the corpus — the LM fit.

    ``vocab_size`` keeps the top-V tokens with a DETERMINISTIC tiebreak
    (count desc, token asc): at web scale the full vocabulary is
    unbounded (typos, ids, numbers) while the top-V carries virtually
    all probability mass; capped rows are later scored through the
    OOV floor, never silently dropped."""
    cnt = (
        docs.select(F.explode(_doc_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if vocab_size is not None:
        if vocab_size <= 0:
            raise LmError("vocab_size must be positive")
        # single-task global rank is fine: the FIT output is already the
        # aggregated vocabulary (|V| rows, not the token stream) and the
        # cap exists precisely to keep that small
        w = F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("token").asc()))
        cnt = cnt.withColumn("__r__", w).filter(F.col("__r__") <= vocab_size).drop("__r__")
    return cnt


def unigram_logprob(
    docs: DataFrame,
    counts: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    out_col: str = "lm_logprob",
) -> DataFrame:
    """(id_col, out_col): mean per-token log2-probability per document
    under the add-alpha unigram model in ``counts`` (default: fit on
    ``docs`` itself — the self-scoring configuration the driver row
    verifies). Token-free docs score null.

    Exact JVM path (explode -> broadcast join -> per-doc agg), fully
    lazy; ``unigram_scorer`` is the same model as a per-row column."""
    if alpha <= 0:
        raise LmError("alpha must be positive (it is the OOV probability floor)")
    if counts is None:
        counts = unigram_counts(docs, text_col)
    stats = counts.agg(
        F.sum("n").cast("double").alias("__tot__"),
        F.count(F.lit(1)).cast("double").alias("__v__"),
    )
    toks = docs.select(
        F.col(id_col), F.explode(_doc_tokens(F.col(text_col))).alias("token")
    )
    denom = F.col("__tot__") + F.lit(alpha) * (F.col("__v__") + 1)
    scored = (
        toks.join(F.broadcast(counts), "token", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.avg(
                F.log2((F.coalesce(F.col("n"), F.lit(0)) + F.lit(alpha)) / denom)
            ).alias(out_col)
        )
    )
    return docs.select(id_col).join(scored, id_col, "left")


def perplexity_buckets(
    scores: DataFrame,
    *,
    score_col: str = "lm_logprob",
    out_col: str = "ppl_bucket",
    fractions: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
    round_to: int | None = 6,
    approx: bool = False,
    bracketed: bool = False,
    by: list[str] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): bucket
    documents by corpus-relative perplexity terciles. Scores are mean
    log-probs, so HIGHER score = LOWER perplexity = ``head`` (the
    cleanest third); label order follows ascending score. Null scores
    (token-free docs) bucket to null.

    ``by`` computes boundaries PER GROUP — CCNet's actual form is
    per-LANGUAGE terciles (each language's perplexity scale is its
    own; a corpus-global cut would bucket whole languages into one
    band). The boundary frame becomes one row per group,
    broadcast-joined on the keys; rows whose group has no non-null
    score (or a null key with no boundary row) bucket to null.
    ``bracketed`` currently requires the global form (``by=None``) —
    use ``quantiles.exact_percentile_grouped`` per fraction for exact
    per-group boundaries at scale.

    Boundaries are the exact interpolated percentiles of
    ``round(score, round_to)`` — rounding FIRST makes the assignment
    engine-portable (two engines interpolating the same rounded
    multiset produce bit-identical boundaries, so no doc can straddle
    a boundary differently; the driver's ``ppl_bucket`` leg sits under
    the value-hash gate on exactly this contract). ``round_to=None``
    buckets on raw scores.

    Scale: the DEFAULT exact percentile holds the score multiset in one
    aggregation buffer — fine at eval scale, wrong at 100 TB. Two scale
    modes exist: ``approx=True`` switches to ``percentile_approx``
    (bounded-memory sketch, approximate boundaries, stays lazy), and
    ``bracketed=True`` keeps EXACT boundaries at bounded memory via
    ``operators.quantiles.exact_percentiles`` (bit-equal to the exact
    mode; measured 38x faster than the buffer-everything exact at 20M
    rows) — at the cost of EAGERNESS: three boundary jobs run at call
    time instead of folding into the output plan. The bucket assignment
    itself is one broadcast of the tiny boundary frame (or literals in
    bracketed mode) — no shuffle on the corpus either way."""
    if approx and bracketed:
        raise LmError("approx and bracketed are mutually exclusive boundary modes")
    if bracketed and by:
        raise LmError(
            "bracketed boundaries are corpus-global (by=None); for exact "
            "per-group boundaries at scale run "
            "quantiles.exact_percentile_grouped once per fraction"
        )
    if len(labels) != len(fractions) + 1:
        raise LmError(
            f"need len(labels) == len(fractions) + 1, got {len(labels)} "
            f"labels for {len(fractions)} boundaries"
        )
    if list(fractions) != sorted(fractions) or not all(0 < f < 1 for f in fractions):
        raise LmError(f"fractions must be ascending in (0, 1), got {fractions}")
    s = (
        F.round(F.col(score_col), round_to)
        if round_to is not None
        else F.col(score_col)
    )
    if bracketed:
        from mysql_to_s3_spark.operators.quantiles import exact_percentiles

        bvals = exact_percentiles(
            scores.filter(F.col(score_col).isNotNull()).select(s.alias("__s__")),
            "__s__",
            list(fractions),
        )
        bnd = scores.sparkSession.createDataFrame(
            # all-null input -> None boundaries; the assignment's final
            # null-score guard produces null buckets, matching exact mode
            [([None if b is None else float(b) for b in bvals],)],
            "__b__ array<double>",
        )
    else:
        fr = F.array(*[F.lit(float(f)) for f in fractions])
        agg = (
            F.percentile_approx(s, fr, 10_000) if approx else F.percentile(s, fr)
        )
        nn = scores.filter(F.col(score_col).isNotNull())
        bnd = (
            nn.groupBy(*by).agg(agg.alias("__b__"))
            if by
            else nn.agg(agg.alias("__b__"))
        )
    if by:
        # per-group boundaries: one row per group, broadcast on the
        # keys (null-key groups match via the null-safe condition, the
        # groupBy above gave them their own boundary row)
        cond = None
        l, r = scores.alias("__sc__"), F.broadcast(bnd.alias("__bd__"))
        for k in by:
            e = F.col(f"__sc__.{k}").eqNullSafe(F.col(f"__bd__.{k}"))
            cond = e if cond is None else (cond & e)
        out = l.join(r, cond, "left")
        for k in by:
            out = out.drop(F.col(f"__bd__.{k}"))
    else:
        out = scores.crossJoin(F.broadcast(bnd))
    expr = F.lit(labels[-1])
    for i in reversed(range(len(fractions))):
        expr = F.when(s <= F.col("__b__")[i], F.lit(labels[i])).otherwise(expr)
    expr = F.when(
        F.col(score_col).isNull() | F.col("__b__").isNull(),
        F.lit(None).cast("string"),
    ).otherwise(expr)
    return out.withColumn(out_col, expr).drop("__b__")


def unigram_scorer(counts, *, alpha: float = 1.0, spark=None):
    """Materialize the add-alpha unigram model once and return a
    ``Column -> Column`` scorer (a broadcast-dict Arrow ``pandas_udf``).
    Because the result is a plain per-row column expression, it gates a
    STREAMING frame too (`prepare_corpus_stream`'s lm stage) — scoring
    commutes with micro-batching and needs no join or state.

    ``counts``: a (token, n) DataFrame (collected here — one job) or a
    plain list of (token, n) tuples (e.g. a pretrained model shipped
    with the job config — no job at all)."""
    import math
    import re

    # module-level pandas import would make every lm import pay the
    # pandas startup; the UDF type-hint resolution instead needs pd
    # visible in the function's globals at decoration time
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if alpha <= 0:
        raise LmError("alpha must be positive (it is the OOV probability floor)")
    if isinstance(counts, DataFrame):
        spark = spark or counts.sparkSession
        # the valve: fetch at most cap+1 rows (ONE job — LIMIT
        # short-circuits, and the driver transfer is bounded by the cap
        # even when the model is huge)
        rows = [(r.token, r.n) for r in counts.limit(LM_COLLECT_CAP + 1).collect()]
        if len(rows) > LM_COLLECT_CAP:
            raise LmError(
                f"unigram model exceeds {LM_COLLECT_CAP} rows; collecting it risks a "
                "driver OOM — cap it with unigram_counts(vocab_size=...) or score "
                "with unigram_logprob (never collects)"
            )
    else:
        rows = [(t, int(n)) for t, n in counts]
        if spark is None:
            raise LmError("pass spark= when counts is a plain list")
    total = float(sum(n for _, n in rows))
    v = float(len(rows))
    denom = total + alpha * (v + 1)
    lut = {t: math.log2((n + alpha) / denom) for t, n in rows}
    oov = math.log2(alpha / denom)
    bc = spark.sparkContext.broadcast((lut, oov))
    # re.ASCII: Python's unicode \w would tokenize non-ASCII text
    # differently from the JVM/RE2 ASCII word class unigram_logprob
    # and the DuckDB oracle use
    tok_re = re.compile(TOKEN_RE, re.ASCII)

    @pandas_udf("double")
    def _score(s: pd.Series) -> pd.Series:
        lut_, oov_ = bc.value

        def one(txt):
            if txt is None:
                return None
            tl = tok_re.findall(txt.lower())
            if not tl:
                return None
            return float(sum(lut_.get(t, oov_) for t in tl) / len(tl))

        return s.map(one)

    return _score


# ---------------------------------------------------------------- bigram

BOS = "<s>"  # sentence-start context for each doc's first token


def _doc_pairs(text: Column) -> Column:
    """array<struct{prev, token}> of consecutive-token pairs, the first
    token conditioned on BOS — built entirely in the array domain (zip
    of the BOS-prepended list against the list), so pair construction
    never needs a per-doc window/lag shuffle."""
    t = _doc_tokens(text)
    prevs = F.slice(F.concat(F.array(F.lit(BOS)), t), 1, F.size(t))
    return F.arrays_zip(prevs.alias("prev"), t.alias("token"))


def bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(prev, token, n) consecutive-pair counts over the corpus — the
    bigram fit. One shuffle over the token stream (same cost shape as
    the unigram fit, wider key). BOS rows carry each doc's first token."""
    return (
        docs.select(F.explode(_doc_pairs(F.col(text_col))).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.token").alias("token"))
        .groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bigram_logprob(
    docs: DataFrame,
    bi: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    out_col: str = "lm2_logprob",
) -> DataFrame:
    """(id_col, out_col): mean per-token CONDITIONAL log2-probability
    under the add-alpha bigram model in ``bi`` (default: self-fit).
    With C(prev) = total pairs seen in context prev and V = distinct
    target tokens in ``bi``,

        logp(w | prev) = log2((n(prev,w) + alpha) / (C(prev) + alpha * (V + 1)))

    an unseen pair in a seen context gets the alpha floor over that
    context's denominator; a wholly unseen context degenerates to
    log2(1 / (V + 1)). Token-free docs score null. A doc's first token
    is conditioned on the per-doc ``BOS`` context.

    Lazy JVM path — explode pairs, join the pair counts and
    broadcast-join the per-context totals, one per-doc re-agg shuffle.
    The context-total and vocab frames are vocabulary-bounded and
    safely broadcast-hinted; the PAIR table is not (it grows toward V²
    with the corpus), so it carries no broadcast hint — AQE broadcasts
    it at runtime while it is small and degrades to a shuffle join at
    web scale instead of an OOM, the same valve shape as
    ``decontam.contamination_pairs``."""
    if alpha <= 0:
        raise LmError("alpha must be positive (it is the unseen-pair floor)")
    if bi is None:
        bi = bigram_counts(docs, text_col)
    ctx = bi.groupBy("prev").agg(F.sum("n").alias("__cn__"))
    stats = bi.agg(F.count_distinct("token").cast("double").alias("__v__"))
    pairs = docs.select(
        F.col(id_col), F.explode(_doc_pairs(F.col(text_col))).alias("p")
    ).select(
        F.col(id_col),
        F.col("p.prev").alias("prev"),
        F.col("p.token").alias("token"),
    )
    denom = (
        F.coalesce(F.col("__cn__"), F.lit(0)).cast("double")
        + F.lit(alpha) * (F.col("__v__") + 1)
    )
    scored = (
        pairs.join(bi, ["prev", "token"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.avg(
                F.log2((F.coalesce(F.col("n"), F.lit(0)) + F.lit(alpha)) / denom)
            ).alias(out_col)
        )
    )
    return docs.select(id_col).join(scored, id_col, "left")
