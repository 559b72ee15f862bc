"""End-to-end training-corpus preparation: one config-driven composition
of the LLM-pipeline operators.

The reference is config-driven end to end (`/root/reference/mysql_to_s3/
extract.py:40` builds the whole extract from one settings object); this
module gives the beyond-reference corpus operators (SURVEY §2 item 8)
the same shape — a user declares WHAT the corpus should satisfy and the
engine composes the verified operators into one lazy DataFrame plan:

    (URL dedup ->) (line-boilerplate strip ->) quality gate ->
    language gate -> (repetition gates ->) (Gopher shape gates incl.
    compression-ratio band ->) (classifier gate ->)
    (LM perplexity gate ->) (DSIR importance gate ->) exact dedup ->
    near-dup cluster removal -> persisted-index screen (incremental
    ingest) -> (duplicated-span gate ->) (SemDeDup semantic dedup ->)
    mixture weighting (stratified downsample) -> benchmark
    decontamination -> PII redaction -> deterministic split ->
    (chunk ->) token-budget packed shard write

Stage-order rationale (each choice is load-bearing at 100 TB):

- cheap per-row gates (quality, language) run FIRST — they are
  shuffle-free Column algebra pushed against the scan, so every later
  shuffle (dedup, decontam) sees only surviving rows. The one
  exception: ``strip_boilerplate`` (CCNet line dedup) rewrites text
  BEFORE the gates when enabled, because the published order removes
  nav-bar/footer lines before any quality or LM signal is computed —
  a doc that is 80% cookie banner should be judged on its 20%;
- the duplicated-span gate (Lee et al. exact-substring signal) runs
  after doc-level dedup so a doc is not penalized for spans shared
  only with its own already-removed duplicates;
- SemDeDup semantic dedup (embedding-space paraphrase removal) runs
  after every text-space dedup — its within-cluster pairwise work
  scales with survivors, and rates/decontam downstream then see one
  copy per MEANING, not per string;
- dedup runs on the ORIGINAL text, before redaction: redaction can
  collapse two genuinely different docs into one string (same template,
  different emails), which would over-delete; near-dup clustering keeps
  exactly one doc per connected component (pairs alone under-delete);
- decontamination runs after dedup (fewer docs to shingle) and the
  bench side is broadcast — a fixed-size eval suite, never the corpus;
- redaction runs LAST among content transforms so every earlier
  fingerprint/shingle reflects what was actually ingested;
- the split label is a pure function of the doc id (`hash_split`), so
  it commutes with every stage and is assigned at the end for free.

Laziness contract: ``prepare_corpus`` builds ONE unexecuted plan, with
two spelled-out exceptions that DO run jobs at plan-build time:
``near_dup`` clustering (the pointer-jumping convergence loop is
driver-side iteration — one job per round — because an
until-convergence algorithm cannot be expressed as a single Catalyst
plan), the decontamination broadcast-size probe when
``decontam_broadcast=None`` (one cheap length-sum — the price of
keeping the OOM valve armed by default), and the SemDeDup KMeans fit
when ``semantic_threshold`` is set without caller-supplied
``semantic_centroids`` (pass pre-fit centroids to stay lazy). Every
other stage is pure plan construction. The optional ``funnel`` diagnostic is the only
thing that runs per-stage actions — one count-job per stage, each
re-deriving its prefix from the source, so cache the source (or the
heaviest boundary) before calling it on anything expensive.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from mysql_to_s3_spark.operators.components import dedup_by_components
from mysql_to_s3_spark.operators.decontam import decontaminate
from mysql_to_s3_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mysql_to_s3_spark.operators.sampling import hash_split, stratified_hash_sample
from mysql_to_s3_spark.operators.text import redact_pii


class PipelineError(ValueError):
    pass


NEAR_DUP_PAIRS = {
    "minhash": minhash_lsh_pairs,
    "ngram": ngram_jaccard_pairs,
}


@dataclass(frozen=True)
class CorpusConfig:
    """Declarative corpus contract. ``None`` disables a stage."""

    id_col: str = "doc_id"
    text_col: str = "text"
    min_quality: float | None = None
    languages: tuple[str, ...] | None = None
    # Gopher-style repetition gates (Rae et al. 2021 table A1, via
    # operators/text.repetition_stats): drop docs whose duplicated-word
    # fraction or top-bigram share exceeds these. Pure per-row Column
    # algebra — shuffle-free, streaming-safe; runs with the other cheap
    # heuristic gates. None disables each rule.
    max_dup_word_frac: float | None = None
    max_top_bigram_frac: float | None = None
    # the COMPLETE Gopher table-A1 repetition rule set (operators/
    # text.gopher_repetition): signal name -> max allowed value, e.g.
    # {"dup_line_frac": 0.30, "dup_5gram_char_frac": 0.15}. Pass
    # text.GOPHER_REPETITION_THRESHOLDS (the published values) to apply
    # the full set. Same per-row shuffle-free sorted-fold shape as the
    # other heuristic gates — streaming-safe; unknown signal names
    # raise PipelineError at plan-build time.
    gopher_repetition_max: Mapping[str, float] | None = None
    # the remaining Gopher table-A1 shape rules (operators/
    # text.gopher_stats): symbol-per-word ratio, bullet-started and
    # ellipsis-ended line fractions, alphabetic-word fraction. Same
    # per-row shuffle-free shape; None disables each rule. (Published
    # thresholds: 0.1 / 0.9 / 0.3 / 0.8.)
    max_symbol_word_ratio: float | None = None
    max_bullet_line_frac: float | None = None
    max_ellipsis_line_frac: float | None = None
    min_alpha_word_frac: float | None = None
    # C4 rule family (Raffel et al. 2020 §2.2, operators/text.c4_*):
    # c4_line_clean rewrites every doc keeping only lines that end in
    # terminal punctuation, carry >= 3 words, and don't contain the
    # word 'javascript' (the published line-level clean; runs with the
    # early rewrite stages, BEFORE the quality gates so scores see the
    # cleaned text). The doc-level rules gate AFTER the clean:
    # c4_min_sentences (C4 used 5), c4_block_braces ('{' = code page),
    # c4_block_lorem ('lorem ipsum'). All per-row Column algebra —
    # shuffle-free, streaming-safe, identical in both pipeline forms.
    c4_line_clean: bool = False
    c4_min_sentences: int | None = None
    c4_block_braces: bool = False
    c4_block_lorem: bool = False
    # zlib compression-ratio band (operators/text.compression_ratio,
    # the Dolma-style signal): below min = repetitive boilerplate,
    # above max = random noise. Arrow pandas_udf per row —
    # streaming-safe; None disables each bound.
    min_compression_ratio: float | None = None
    max_compression_ratio: float | None = None
    # CCNet-style perplexity gate: drop docs whose mean per-token unigram
    # log2-prob falls below this (operators/lm.py). The model comes from
    # prepare_corpus's `lm_counts` (batch: a lazy (token, n) frame;
    # self-fit on the gated corpus when omitted) or prepare_corpus_stream's
    # `lm_rows` (a pretrained model is REQUIRED there — a stream cannot
    # self-fit). Token-free docs fail the gate (null score).
    min_lm_logprob: float | None = None
    # CCNet's head/middle/tail selection (Wenzek et al. §4.3): keep docs
    # whose corpus-relative perplexity TERCILE is in this set (e.g.
    # ('head', 'middle') — the published "drop the most-perplexed third"
    # recipe). Complements min_lm_logprob (an absolute cut): terciles
    # adapt to the corpus. Uses the same LM model source (lm_counts or
    # self-fit). Batch-only: the boundaries are corpus-global quantiles
    # no bounded stream state can hold — prepare_corpus_stream rejects it
    # (gate streams with the absolute min_lm_logprob instead).
    lm_keep_buckets: tuple[str, ...] | None = None
    # How the tercile boundaries are computed: True (default) uses the
    # percentile_approx sketch — bounded memory at any corpus size, the
    # only mode that holds at the framework's design scale; False keeps
    # the exact interpolated percentile (bit-reproducible across
    # engines, but it holds the full score multiset in ONE aggregation
    # buffer — eval-scale only; the driver's oracle leg calls the
    # operator directly with exact, so the hard gate keeps exactness).
    lm_bucket_approx: bool = True
    # Compute the tercile boundaries PER GROUP instead of corpus-global
    # — CCNet's actual form is per-LANGUAGE buckets (each language has
    # its own perplexity scale; a global cut would bucket whole
    # languages into one band). Names columns of the input frame (e.g.
    # ("lang",)); None keeps the global form.
    lm_bucket_by: tuple[str, ...] | None = None
    # CCNet/RefinedWeb line-level boilerplate removal: rewrite every doc
    # with lines shared by more than ``boilerplate_max_docs`` docs removed.
    # Runs FIRST when enabled (the published order: line dedup precedes
    # scoring so nav bars / footers never pollute quality or LM signals) —
    # the one deliberate exception to the cheap-gates-first layout, and
    # priced accordingly (two extra exchanges on md5 line keys).
    strip_boilerplate: bool = False
    boilerplate_max_docs: int = 1
    # URL-level dedup (the RefinedWeb/CCNet first pass): when set, keep
    # the min-id doc per CANONICAL url (operators/text.canonical_url —
    # fragment/tracking-param/default-port/www/trailing-slash rules)
    # BEFORE any content stage — re-crawls of one address never reach
    # the text gates. Streaming analog: first-arrival-per-canonical-url
    # within the watermark horizon (dropDuplicatesWithinWatermark).
    url_col: str | None = None
    # RefinedWeb-style URL blocklist (operators/text.url_blocked):
    # lowercased registrable domains; a doc is dropped when its url's
    # host OR ANY PARENT DOMAIN matches (blocking "example.com" blocks
    # every subdomain). Runs FIRST — before even url_dedup, so blocked
    # addresses never pay the dedup shuffle. Requires url_col. This
    # literal tuple is for config-sized lists (an in-row array overlap,
    # per-row and streaming-safe); screen a multi-million-host list
    # with operators/dedup.url_blocklist_screen before the pipeline.
    url_blocklist: tuple[str, ...] | None = None
    # word-blocklist gate (operators/text.blockword_frac): drop docs
    # whose fraction of word occurrences in `block_words` exceeds
    # `max_blockword_frac` (default 0.0 = any hit drops). Runs with the
    # other cheap per-row gates; streaming-safe.
    block_words: tuple[str, ...] | None = None
    max_blockword_frac: float = 0.0
    exact: bool = True
    near_dup: str | None = None  # None | "minhash" | "ngram" | "simhash"
    near_threshold: float = 0.9
    # Lee et al. 2022 exact-substring signal: drop docs whose fraction of
    # k-token windows duplicated across >= span_min_docs surviving docs
    # exceeds this cap. Runs AFTER doc-level dedup so a doc is never
    # penalized for overlap with an already-removed duplicate.
    max_dup_span_frac: float | None = None
    span_k: int = 5
    span_min_docs: int = 2
    # the REWRITE companion of max_dup_span_frac (Lee et al. tool
    # behavior): strip every non-keeper occurrence of a cross-doc
    # duplicated span in place (one canonical copy survives corpus-wide)
    # instead of / in addition to gating whole docs. Runs after the
    # doc-level dedups and the span GATE (strip what survives). Batch
    # only — needs corpus-global span frequencies.
    strip_dup_spans: bool = False
    max_hamming: int = 3  # simhash only
    # SemDeDup semantic dedup (operators/similarity.semantic_dedup) over
    # an embedding column RIDING the docs frame: within each embedding
    # cluster, drop the more-centroid-similar member of every cosine
    # >= semantic_threshold pair. Complements the text-space near_dup
    # stage (paraphrases dedup here, not there); runs after the
    # text-space dedups. Centroids come from prepare_corpus's
    # ``semantic_centroids`` (fit in batch with similarity.ivf_fit);
    # when omitted, the fit runs at plan-BUILD time — a spelled-out
    # laziness exception, same contract as the decontam probe.
    semantic_threshold: float | None = None
    embedding_col: str = "embedding"
    semantic_cells: int = 64
    semantic_max_cell: int = 200_000
    index_path: str | None = None  # screen against a persisted dedup index
    # also run the EXACT half of incremental screening against that
    # index first (dedup_index.exact_screen_against_index): drop docs
    # whose normalized-text fingerprint was already ingested, using the
    # bloom sidecar to route the anti-join when one exists (sound for
    # exact fps only — the near-dup screen below is never bloom-gated).
    index_exact: bool = False
    mixture_rates: Mapping[str, float] | None = None  # stratum -> keep rate
    strata_col: str = "lang"
    mixture_default_rate: float = 0.0
    decontam_threshold: float | None = None  # needs a bench frame
    # None (default): decontaminate() runs its guarded size estimate —
    # one cheap length-sum job at plan-build time, the only exception to
    # the module's no-stage-triggers-a-job laziness contract, kept
    # because the executor-OOM valve must stay armed BY DEFAULT. True:
    # skip the probe and broadcast (caller asserts the bench is a
    # fixed-size eval suite). False: never broadcast (corpus-vs-corpus).
    decontam_broadcast: bool | None = None
    # shingle width for the decontamination screen — ONE value consumed
    # by BOTH pipeline forms. Before r9 the batch path used the
    # operator default (char-5) while the streaming path used
    # stream_decontaminate's own default (char-13), so the same config
    # decontaminated DIFFERENT doc sets batch-vs-stream (caught by the
    # sf1 0-divergence drain, tools/bench_stream_pipeline.py: 119
    # near-copy docs dropped only by batch). 5 keeps the batch
    # behavior the pipeline_prepare oracle binds; published decontam
    # recipes usually want longer n-grams — set 13+ deliberately.
    decontam_k: int = 5
    redact: bool = False
    splits: Mapping[str, float] | None = None
    split_col: str = "split"
    # model-based classifier gate (operators/classifier.py — the
    # fastText-shaped learned filter): keep docs whose predicted label
    # is in classifier_accept with probability >= classifier_min_score.
    # The fitted TextClassifier arrives as prepare_corpus's
    # ``classifier`` argument (models are not config literals, same
    # contract as lm_counts / semantic_centroids). Scoring is a
    # row-wise JVM transform — shuffle-free, streaming-safe.
    classifier_accept: tuple[str, ...] | None = None
    classifier_min_score: float = 0.0
    # 'label': keep docs whose PREDICTED label is in classifier_accept
    # with probability >= classifier_min_score (argmax idiom).
    # 'probability': classifier_accept must name exactly ONE label; keep
    # docs with P(that label) >= classifier_min_score even when another
    # label wins the argmax — the GPT-3 quality-classifier idiom
    # (filter on P(looks-like-reference-corpus) at a chosen threshold).
    classifier_mode: str = "label"
    # DSIR data selection (operators/dsir.py, Xie et al. 2023): keep docs
    # whose hashed-ngram importance weight (summed target-vs-source
    # log-likelihood ratio) is >= this. The TARGET model arrives as
    # prepare_corpus's ``dsir_target_counts`` / prepare_corpus_stream's
    # ``dsir_target_counts``+``dsir_source_counts`` (hashed_ngram_counts
    # frames or (bucket, n) lists — models are not config literals, the
    # lm_counts contract); batch self-fits the SOURCE model on the gated
    # corpus when dsir_source_counts is omitted, a stream cannot.
    dsir_min_logratio: float | None = None
    dsir_buckets: int = 4096


@dataclass
class PreparedCorpus:
    """Result of ``prepare_corpus``: the final lazy frame plus each
    stage boundary (for the funnel diagnostic and for callers that want
    an intermediate — e.g. the deduped-but-unredacted corpus)."""

    docs: DataFrame
    stages: list[tuple[str, DataFrame]] = field(default_factory=list)
    id_col: str = "doc_id"

    def funnel(self) -> dict[str, int]:
        """Row count at every stage boundary — a diagnostic that runs
        one count-job per stage (cache the source before calling this
        on anything expensive)."""
        return {name: df.count() for name, df in self.stages}

    def audit(self, id_col: str | None = None) -> DataFrame:
        """(id_col, dropped_at) for every input doc that did NOT survive
        — the doc-level "why was this dropped" companion to ``funnel``:
        each row names the first stage whose output no longer contains
        the doc. Survivors are absent. Lazy; one anti-join per stage
        boundary (stages that drop nothing contribute empty legs), so
        cache the source before collecting this on a large corpus."""
        id_col = id_col if id_col is not None else self.id_col
        out: DataFrame | None = None
        for (_, prev_df), (name, df) in zip(self.stages, self.stages[1:]):
            dropped = (
                prev_df.select(id_col)
                .join(df.select(id_col), id_col, "left_anti")
                .withColumn("dropped_at", F.lit(name))
            )
            out = dropped if out is None else out.unionByName(dropped)
        if out is None:
            # pass-through config: nothing was dropped — empty frame,
            # same schema, so generic tooling needs no special case
            src = self.stages[0][1]
            return (
                src.select(id_col)
                .withColumn("dropped_at", F.lit(""))
                .limit(0)
            )
        return out

    def leakage(
        self,
        threshold: float = 0.8,
        split_col: str = "split",
        text_col: str = "text",
    ) -> DataFrame:
        """Post-split train/test LEAKAGE audit over the FINAL corpus:
        near-duplicate pairs (>= ``threshold`` Jaccard) that straddle
        split labels (``split_leakage``). Empty == clean. A run with
        ``near_dup`` configured at least this tight is clean BY
        CONSTRUCTION (one doc per cluster survives before the split is
        assigned); a non-empty result means dedup was off, thresholded
        looser than this audit, or the split was applied elsewhere.
        Lazy — the banded MinHash-LSH pair scan runs when collected,
        never all-pairs. Requires ``cfg.splits`` to have been set."""
        if split_col not in self.docs.columns:
            raise PipelineError(
                f"no {split_col!r} column on the prepared corpus — "
                "configure cfg.splits before auditing leakage"
            )
        return split_leakage(
            self.docs,
            split_col=split_col,
            id_col=self.id_col,
            text_col=text_col,
            threshold=threshold,
        )


def _near_dup_pairs(df: DataFrame, cfg: CorpusConfig) -> DataFrame:
    if cfg.near_dup == "simhash":
        pairs = simhash_pairs(
            df, max_hamming=cfg.max_hamming, id_col=cfg.id_col, text_col=cfg.text_col
        )
    elif cfg.near_dup in NEAR_DUP_PAIRS:
        pairs = NEAR_DUP_PAIRS[cfg.near_dup](
            df, threshold=cfg.near_threshold, id_col=cfg.id_col, text_col=cfg.text_col
        )
    else:
        raise PipelineError(
            f"unknown near_dup strategy {cfg.near_dup!r}; "
            f"expected one of {sorted(NEAR_DUP_PAIRS) + ['simhash']}"
        )
    return pairs.select("a", "b")


def _bind_tmp(out: DataFrame, name: str, col: Column) -> DataFrame:
    """Bind a gate-internal temp column, refusing to shadow a real one:
    ``withColumn`` silently REPLACES an existing column, so a corpus
    that legitimately carries a column with a gate temp name would be
    overwritten and then dropped from the gate's output. Raising names
    the collision instead (r10 advice)."""
    if name in out.columns:
        raise PipelineError(
            f"corpus already carries a column named {name!r}, which a "
            "pipeline gate binds as an internal temp column; rename it "
            "upstream of prepare_corpus"
        )
    return out.withColumn(name, col)


def _apply_repetition_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream Gopher repetition gate — per-row Column
    algebra (zero shuffles, streaming-safe). The bigram AND word arrays
    are materialized as columns first: repetition_stats' documented plan
    trap (an inline bigram expression re-derives the array per outer
    HOF element — O(len^3)), and the unbound word array re-runs the
    word regex per referencing signal (r10 plan count: 20x on the
    text_stats row before binding)."""
    from mysql_to_s3_spark.operators.text import (
        gopher_repetition,
        repetition_stats,
        word_bigrams,
        words,
    )

    txt = F.col(cfg.text_col)
    # word array first, bigrams FROM it: word_bigrams' lambda reads the
    # array twice per element, so an unbound form re-runs the word
    # regex O(len) times per row (r10 advice)
    tmp = _bind_tmp(out, "__ws__", words(txt))
    tmp = _bind_tmp(tmp, "__bg__", word_bigrams(txt, ws=F.col("__ws__")))
    stats = repetition_stats(txt, bg=F.col("__bg__"), ws=F.col("__ws__"))
    cond = F.lit(True)
    if cfg.max_dup_word_frac is not None:
        cond = cond & (
            stats["dup_word_frac"] <= F.lit(float(cfg.max_dup_word_frac))
        )
    if cfg.max_top_bigram_frac is not None:
        cond = cond & (
            stats["top_bigram_frac"] <= F.lit(float(cfg.max_top_bigram_frac))
        )
    dropped = ["__bg__", "__ws__"]
    if cfg.gopher_repetition_max:
        rep = gopher_repetition(txt, ws=F.col("__ws__"))
        unknown = sorted(set(cfg.gopher_repetition_max) - set(rep))
        if unknown:
            raise PipelineError(
                f"unknown gopher_repetition_max signal(s) {unknown}; "
                f"known: {sorted(rep)}"
            )
        for name, limit in sorted(cfg.gopher_repetition_max.items()):
            cond = cond & (rep[name] <= F.lit(float(limit)))
    return tmp.filter(cond).drop(*dropped)


def _apply_url_blocklist(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream URL-blocklist stage — one in-row suffix-chain
    overlap against the literal host list (per-row, streaming-safe).
    Docs without a host are kept ("address unknown" != "blocked")."""
    from mysql_to_s3_spark.operators.text import url_blocked

    if cfg.url_col is None:
        raise PipelineError("url_blocklist requires url_col to be set")
    return out.filter(~url_blocked(F.col(cfg.url_col), tuple(cfg.url_blocklist)))


def _apply_blockword_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream word-blocklist gate — per-row fold,
    shuffle-free, streaming-safe. Null text scores 0.0 (kept): the
    other heuristic gates map null text to passing 0 ratios, and this
    gate should not drop a row on a different rule's behalf."""
    from mysql_to_s3_spark.operators.text import blockword_frac, words

    # bind the word array once (the occurrence fold references it 3x,
    # and each unbound reference re-runs the word regex per row)
    tmp = _bind_tmp(out, "__bws__", words(F.col(cfg.text_col)))
    bf = F.coalesce(
        blockword_frac(
            F.col(cfg.text_col), tuple(cfg.block_words), ws=F.col("__bws__")
        ),
        F.lit(0.0),
    )
    return tmp.filter(bf <= F.lit(float(cfg.max_blockword_frac))).drop("__bws__")


def _apply_quality_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream quality-score gate — per-row, shuffle-free,
    streaming-safe. Binds the word array once (the score's length/
    stopword terms reference it ~5x; unbound references re-run the
    word regex per row)."""
    from mysql_to_s3_spark.operators.text import quality_score, words

    txt = F.col(cfg.text_col)
    tmp = _bind_tmp(out, "__qws__", words(txt))
    return tmp.filter(
        quality_score(txt, ws=F.col("__qws__")) >= F.lit(float(cfg.min_quality))
    ).drop("__qws__")


def _apply_language_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream language-ID gate — per-row, shuffle-free,
    streaming-safe. Binds the distinct-lowercased word array once: the
    argmax when-chain references the per-language scores ~13x, and each
    unbound reference re-derives the regex + distinct per row."""
    from mysql_to_s3_spark.operators.text import language_id, words

    txt = F.col(cfg.text_col)
    tmp = _bind_tmp(
        out, "__dws__", F.array_distinct(F.transform(words(txt), F.lower))
    )
    return tmp.filter(
        language_id(txt, dws=F.col("__dws__")).isin(*cfg.languages)
    ).drop("__dws__")


def _c4_gate_on(cfg: CorpusConfig) -> bool:
    return (
        cfg.c4_min_sentences is not None
        or cfg.c4_block_braces
        or cfg.c4_block_lorem
    )


def _apply_c4_clean(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """C4 line-level clean: rewrite the text column in place. Null text
    stays null (nothing to clean — downstream gates already treat null
    as missing)."""
    from mysql_to_s3_spark.operators.text import c4_line_clean

    txt = F.col(cfg.text_col)
    return out.withColumn(
        cfg.text_col, F.when(txt.isNotNull(), c4_line_clean(txt))
    )


def _apply_c4_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream C4 doc-level gate (sentence floor, brace and
    lorem-ipsum blocks) — per-row Column algebra, zero shuffles,
    streaming-safe. Null text passes the block rules (contains -> null
    -> coalesced to keep: a different rule's job) but FAILS a sentence
    floor (no sentences to count — same stance as the LM gate's null
    score)."""
    from mysql_to_s3_spark.operators.text import c4_stats

    s = c4_stats(F.col(cfg.text_col))
    cond = F.lit(True)
    if cfg.c4_min_sentences is not None:
        cond = cond & (
            F.coalesce(s["c4_sentences"], F.lit(0))
            >= F.lit(int(cfg.c4_min_sentences))
        )
    if cfg.c4_block_braces:
        cond = cond & ~F.coalesce(s["c4_has_brace"], F.lit(False))
    if cfg.c4_block_lorem:
        cond = cond & ~F.coalesce(s["c4_has_lorem"], F.lit(False))
    return out.filter(cond)


def _gopher_gate_on(cfg: CorpusConfig) -> bool:
    return any(
        v is not None
        for v in (
            cfg.max_symbol_word_ratio,
            cfg.max_bullet_line_frac,
            cfg.max_ellipsis_line_frac,
            cfg.min_alpha_word_frac,
            cfg.min_compression_ratio,
            cfg.max_compression_ratio,
        )
    )


def _apply_gopher_gate(out: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Shared batch/stream Gopher shape gate (symbol/bullet/ellipsis/
    alpha rules) — per-row Column algebra, zero shuffles,
    streaming-safe. The word/line arrays are bound once per row (the
    rules reference them several times each, and unbound references
    re-run the regex/split per row)."""
    from mysql_to_s3_spark.operators.text import gopher_stats, words

    txt = F.col(cfg.text_col)
    out = _bind_tmp(out, "__gws__", words(txt))
    out = _bind_tmp(out, "__gln__", F.split(txt, "\n"))
    g = gopher_stats(txt, ws=F.col("__gws__"), lines=F.col("__gln__"))
    cond = F.lit(True)
    if cfg.max_symbol_word_ratio is not None:
        cond = cond & (g["symbol_word_ratio"] <= F.lit(float(cfg.max_symbol_word_ratio)))
    if cfg.max_bullet_line_frac is not None:
        cond = cond & (g["bullet_line_frac"] <= F.lit(float(cfg.max_bullet_line_frac)))
    if cfg.max_ellipsis_line_frac is not None:
        cond = cond & (g["ellipsis_line_frac"] <= F.lit(float(cfg.max_ellipsis_line_frac)))
    if cfg.min_alpha_word_frac is not None:
        cond = cond & (g["alpha_word_frac"] >= F.lit(float(cfg.min_alpha_word_frac)))
    if cfg.min_compression_ratio is not None or cfg.max_compression_ratio is not None:
        from mysql_to_s3_spark.operators.text import compression_ratio

        # null text -> ratio 0.0 (NOT null): the other shape rules in
        # this gate map null text to 0.0 ratios, and a null here would
        # null the whole conjunction and silently drop the row on a
        # DIFFERENT rule's behalf
        cr = F.coalesce(compression_ratio(F.col(cfg.text_col)), F.lit(0.0))
        if cfg.min_compression_ratio is not None:
            cond = cond & (cr >= F.lit(float(cfg.min_compression_ratio)))
        if cfg.max_compression_ratio is not None:
            cond = cond & (cr <= F.lit(float(cfg.max_compression_ratio)))
    return out.filter(cond).drop("__gws__", "__gln__")


def _apply_classifier_gate(out: DataFrame, cfg: CorpusConfig, classifier) -> DataFrame:
    """Shared batch/stream classifier stage — both modes are row-wise
    JVM transforms (zero shuffles, streaming-safe)."""
    from mysql_to_s3_spark.operators.classifier import (
        classifier_gate,
        label_probability,
    )

    if cfg.classifier_mode == "label":
        return classifier_gate(
            out,
            classifier,
            accept=tuple(cfg.classifier_accept),
            min_score=cfg.classifier_min_score,
            text_col=cfg.text_col,
        )
    if cfg.classifier_mode == "probability":
        if len(cfg.classifier_accept) != 1:
            raise PipelineError(
                "classifier_mode='probability' gates on ONE label's "
                f"probability; classifier_accept has {len(cfg.classifier_accept)}"
            )
        if "__cls_p__" in out.columns:
            raise PipelineError(
                "column __cls_p__ collides with the probability gate's "
                "internal score column; rename it before this stage"
            )
        scored = label_probability(
            out,
            classifier,
            cfg.classifier_accept[0],
            text_col=cfg.text_col,
            out_col="__cls_p__",
        )
        return scored.filter(
            F.col("__cls_p__") >= F.lit(float(cfg.classifier_min_score))
        ).drop("__cls_p__")
    raise PipelineError(
        f"classifier_mode must be 'label' or 'probability', got {cfg.classifier_mode!r}"
    )


def prepare_corpus(
    docs: DataFrame,
    cfg: CorpusConfig = CorpusConfig(),
    bench: DataFrame | None = None,
    lm_counts: DataFrame | None = None,
    semantic_centroids: list[list[float]] | None = None,
    classifier=None,
    dsir_target_counts: DataFrame | None = None,
    dsir_source_counts: DataFrame | None = None,
) -> PreparedCorpus:
    """Compose the configured stages into one lazy plan over ``docs``.

    ``bench`` is the held-out evaluation suite for decontamination —
    required iff ``cfg.decontam_threshold`` is set.
    ``semantic_centroids`` (pre-fit cluster centers, see
    ``similarity.ivf_fit``) feeds the SemDeDup stage when
    ``cfg.semantic_threshold`` is set; omitted, the fit runs at
    plan-build time. The returned frame
    keeps the input schema (plus ``cfg.split_col`` when splits are
    configured, with the text column redacted in place when
    ``cfg.redact``)."""
    txt = F.col(cfg.text_col)
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    out = docs

    if cfg.url_blocklist is not None:
        out = _apply_url_blocklist(out, cfg)
        stages.append(("url_blocklist", out))

    if cfg.url_col is not None:
        # identity dedup first: one short-string shuffle drops re-crawls
        # before ANY per-row content work is paid for them. Docs WITHOUT
        # a usable url — null, blank ('' is the common SQL convention
        # for "missing"), or one whose CANONICAL form is blank
        # ('#frag', '/') — are all kept: a missing canonical is
        # "address unknown", not "the same address". The predicate is
        # the SHARED text.usable_url, the same one url_dedup groups by,
        # so every with_url doc is guaranteed a keeper group (a raw-url
        # predicate here once dropped blank-canonical docs entirely:
        # they entered with_url but never appeared in keepers).
        from mysql_to_s3_spark.operators.dedup import url_dedup
        from mysql_to_s3_spark.operators.text import usable_url

        has_url = usable_url(F.col(cfg.url_col))
        with_url = out.filter(has_url)
        keepers = url_dedup(with_url, cfg.url_col, cfg.id_col).select(
            F.col("keeper").alias(cfg.id_col)
        )
        out = out.filter(~has_url).unionByName(
            with_url.join(keepers, cfg.id_col, "left_semi")
        )
        stages.append(("url_dedup", out))

    if cfg.strip_boilerplate:
        from mysql_to_s3_spark.operators.dedup import strip_boilerplate_lines

        cleaned = strip_boilerplate_lines(
            out,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            max_docs=cfg.boilerplate_max_docs,
        )
        out = out.drop(cfg.text_col).join(
            cleaned.select(cfg.id_col, F.col("clean_text").alias(cfg.text_col)),
            cfg.id_col,
        )
        stages.append(("boilerplate", out))

    if cfg.c4_line_clean:
        # rewrite BEFORE the scoring gates, so quality/LM/dedup all see
        # the cleaned text (the published C4 order)
        out = _apply_c4_clean(out, cfg)
        stages.append(("c4_clean", out))
    if _c4_gate_on(cfg):
        out = _apply_c4_gate(out, cfg)
        stages.append(("c4_shape", out))

    if cfg.min_quality is not None:
        out = _apply_quality_gate(out, cfg)
        stages.append(("quality", out))
    if cfg.languages is not None:
        out = _apply_language_gate(out, cfg)
        stages.append(("language", out))

    if cfg.block_words is not None:
        out = _apply_blockword_gate(out, cfg)
        stages.append(("blockwords", out))

    if (cfg.max_dup_word_frac is not None or cfg.max_top_bigram_frac is not None
            or cfg.gopher_repetition_max):
        out = _apply_repetition_gate(out, cfg)
        stages.append(("repetition", out))

    if _gopher_gate_on(cfg):
        out = _apply_gopher_gate(out, cfg)
        stages.append(("gopher_shape", out))

    if cfg.classifier_accept is not None:
        # after the heuristic gates (cheapest first), before the LM gate
        # and every shuffle — same per-row cost shape, higher fidelity
        if classifier is None:
            raise PipelineError(
                "classifier_accept set but no classifier given: fit one "
                "with operators.classifier.train_text_classifier (or "
                "TextClassifier.load a persisted one)"
            )
        out = _apply_classifier_gate(out, cfg, classifier)
        stages.append(("classifier", out))

    if cfg.min_lm_logprob is not None or cfg.lm_keep_buckets is not None:
        # after the language gate (CCNet fits per language), before the
        # dedup shuffles; the join path keeps the no-job laziness contract
        # whether the model is self-fit or supplied
        from mysql_to_s3_spark.operators.lm import (
            perplexity_buckets,
            unigram_logprob,
        )

        score = unigram_logprob(
            out, lm_counts, id_col=cfg.id_col, text_col=cfg.text_col
        )
        keep = score
        if cfg.min_lm_logprob is not None:
            keep = keep.filter(
                F.col("lm_logprob") >= F.lit(float(cfg.min_lm_logprob))
            )
        if cfg.lm_keep_buckets is not None:
            # corpus-relative tercile gate (CCNet head/middle/tail);
            # boundaries come from the score distribution AFTER the
            # absolute cut above — gate composition reads left to right.
            # approx (default) = percentile_approx sketch, the
            # bounded-memory mode the 100 TB path requires.
            # lm_bucket_by = per-group boundaries (CCNet's per-language
            # form) — the score frame carries only (id, score), so the
            # grouping columns ride in from the corpus frame first
            if cfg.lm_bucket_by:
                keep = keep.join(
                    out.select(cfg.id_col, *cfg.lm_bucket_by), cfg.id_col
                )
            keep = perplexity_buckets(
                keep,
                approx=bool(cfg.lm_bucket_approx),
                by=list(cfg.lm_bucket_by) if cfg.lm_bucket_by else None,
            ).filter(F.col("ppl_bucket").isin(*cfg.lm_keep_buckets))
        out = out.join(keep.select(cfg.id_col), cfg.id_col, "left_semi")
        stages.append(("lm", out))

    if cfg.dsir_min_logratio is not None:
        # after the cheap gates and the LM gate, before every dedup
        # shuffle — the weight itself costs one shuffle over the n-gram
        # stream, so everything downstream sees fewer rows.
        # Self-fitting the source model is a LAZY frame (no job at
        # build); the target model must be supplied.
        from mysql_to_s3_spark.operators.dsir import (
            dsir_logratio,
            hashed_ngram_counts,
        )

        if dsir_target_counts is None:
            raise PipelineError(
                "dsir_min_logratio set but no dsir_target_counts given: fit "
                "one with operators.dsir.hashed_ngram_counts over the "
                "target (bench-like) corpus"
            )
        src_counts = dsir_source_counts
        if src_counts is None:
            src_counts = hashed_ngram_counts(
                out, n_buckets=cfg.dsir_buckets, text_col=cfg.text_col
            )
        w = dsir_logratio(
            out,
            dsir_target_counts,
            src_counts,
            n_buckets=cfg.dsir_buckets,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
        )
        keep = w.filter(
            F.col("dsir_logratio") >= F.lit(float(cfg.dsir_min_logratio))
        ).select(cfg.id_col)
        out = out.join(keep, cfg.id_col, "left_semi")
        stages.append(("dsir", out))

    if cfg.exact:
        keepers = exact_dedup(out, cfg.id_col, cfg.text_col).select(
            F.col("keeper").alias(cfg.id_col)
        )
        out = out.join(keepers, cfg.id_col, "left_semi")
        stages.append(("exact_dedup", out))

    if cfg.near_dup is not None:
        # r10 optimization (guide §5): the survivors frame at this
        # boundary is consumed at least three times — both sides of the
        # near-dup pair self-join, the keeper anti-join, and every
        # downstream stage — and the pair join's consumer
        # (connected_components) runs eager driver-side jobs, so each
        # re-read would re-run the whole gate chain above. Checkpoint it
        # once; Spark frees the checkpoint with the frame, so nothing
        # outlives the caller's action.
        out = out.localCheckpoint(eager=False)
        pairs = _near_dup_pairs(out, cfg)
        out = dedup_by_components(out, pairs, id_col=cfg.id_col)
        stages.append(("near_dedup", out))

    if cfg.index_exact and cfg.index_path is None:
        raise PipelineError("index_exact requires index_path to be set")
    if cfg.index_path is not None:
        # incremental ingest: after IN-batch dedup, drop everything the
        # persisted corpus index already holds (exact or near) — the old
        # corpus is touched only through its index
        from mysql_to_s3_spark.operators.dedup_index import dedup_against_index

        if cfg.index_exact:
            from mysql_to_s3_spark.operators.dedup_index import (
                exact_screen_against_index,
            )

            out = exact_screen_against_index(
                out, cfg.index_path, text_col=cfg.text_col
            )
            stages.append(("index_exact", out))
        out = dedup_against_index(
            out,
            cfg.index_path,
            threshold=cfg.near_threshold,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
        )
        stages.append(("index_dedup", out))

    if cfg.max_dup_span_frac is not None:
        from mysql_to_s3_spark.operators.dedup import duplicated_span_fraction

        spanf = duplicated_span_fraction(
            out,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            k=cfg.span_k,
            min_docs=cfg.span_min_docs,
        )
        keep = spanf.filter(
            F.col("dup_frac").isNull()
            | (F.col("dup_frac") <= F.lit(float(cfg.max_dup_span_frac)))
        ).select(cfg.id_col)
        out = out.join(keep, cfg.id_col, "left_semi")
        stages.append(("span_dedup", out))

    if cfg.strip_dup_spans:
        from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

        cleaned = strip_duplicated_spans(
            out,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            k=cfg.span_k,
            min_docs=cfg.span_min_docs,
        )
        out = out.drop(cfg.text_col).join(
            cleaned.select(cfg.id_col, F.col("clean_text").alias(cfg.text_col)),
            cfg.id_col,
        )
        stages.append(("span_strip", out))

    if cfg.semantic_threshold is not None:
        from mysql_to_s3_spark.operators.similarity import ivf_fit, semantic_dedup

        if cfg.embedding_col not in out.columns:
            raise PipelineError(
                f"semantic_threshold set but docs has no {cfg.embedding_col!r} "
                "column; join your embeddings onto the corpus first (or set "
                "cfg.embedding_col)"
            )
        cents = semantic_centroids
        if cents is None:
            # plan-build-time fit (distributed KMeans) — documented
            # laziness exception; pass semantic_centroids to avoid it
            cents = ivf_fit(out, n_cells=cfg.semantic_cells, vec_col=cfg.embedding_col)
        sem_drops = semantic_dedup(
            out,
            threshold=cfg.semantic_threshold,
            centroids=[list(c) for c in cents],
            vec_col=cfg.embedding_col,
            id_col=cfg.id_col,
            max_cell_size=cfg.semantic_max_cell,
        )
        out = out.join(
            sem_drops.select(F.col("id").alias(cfg.id_col)), cfg.id_col, "left_anti"
        )
        stages.append(("semantic_dedup", out))

    if cfg.mixture_rates is not None:
        # after dedup (rates are per UNIQUE doc, the published convention)
        # and before decontam (shingling cost scales with what survives)
        out = stratified_hash_sample(
            out,
            dict(cfg.mixture_rates),
            cfg.strata_col,
            id_col=cfg.id_col,
            default_rate=cfg.mixture_default_rate,
        )
        stages.append(("mixture", out))

    if cfg.decontam_threshold is not None:
        if bench is None:
            raise PipelineError("decontam_threshold set but no bench frame given")
        out = decontaminate(
            out,
            bench,
            threshold=cfg.decontam_threshold,
            k=cfg.decontam_k,
            train_id_col=cfg.id_col,
            text_col=cfg.text_col,
            hashed=True,  # scale default; parity tests pass hashed=False directly
            broadcast=cfg.decontam_broadcast,
        )
        stages.append(("decontam", out))

    if cfg.redact:
        out = out.withColumn(cfg.text_col, redact_pii(txt))
        stages.append(("redact", out))

    if cfg.splits is not None:
        out = out.withColumn(cfg.split_col, hash_split(F.col(cfg.id_col), dict(cfg.splits)))
        stages.append(("split", out))

    return PreparedCorpus(docs=out, stages=stages, id_col=cfg.id_col)


def prepare_corpus_stream(
    sdf: DataFrame,
    cfg: CorpusConfig = CorpusConfig(),
    ts_col: str = "ts",
    bench_rows: list[tuple] | None = None,
    lateness: str = "1 hour",
    lm_rows: list[tuple] | None = None,
    classifier=None,
    dsir_target_counts=None,
    dsir_source_counts=None,
) -> DataFrame:
    """Streaming analog of ``prepare_corpus`` over a readStream frame.

    Stage mapping (same CorpusConfig, same order, same semantics where a
    bounded-state streaming form exists):

    - quality / language gates, the classifier gate (a pretrained
      TextClassifier — row-wise JVM transform), mixture sampling,
      redaction, split: pure per-row operators — commute with
      micro-batching, applied UNCHANGED;
    - exact dedup -> ``stream_exact_dedup`` (dropDuplicatesWithinWatermark
      on the fingerprint: first arrival wins, state bounded by the
      watermark horizon) — note the batch keeper is min-id, the stream
      keeper is first-arrival; identical iff ids are arrival-ordered;
    - decontamination -> ``stream_decontaminate`` (stateless closure over
      the fixed eval suite; requires the collected ``bench_rows``);
    - near-dup is REJECTED here by design: bounded state cannot hold the
      shingle sets exact verification needs, so the streaming form
      (``streaming.stream_extract.stream_near_dedup``) only FLAGS
      candidates. Run ``stream_near_dedup_reconciled`` side-by-side —
      it confirms each micro-batch of flags with the batch-exact
      Jaccard via ``foreachBatch`` and appends only confirmed pairs —
      rather than silently dropping on an estimate;
    - ``strip_boilerplate`` / ``max_dup_span_frac`` are REJECTED: both
      need corpus-global line/span document frequencies no bounded
      stream state can hold exactly — run them in batch over the
      landed corpus.
    """
    from mysql_to_s3_spark.streaming.stream_extract import (
        stream_decontaminate,
        stream_exact_dedup,
    )

    if cfg.near_dup is not None:
        raise PipelineError(
            "near_dup has no exact streaming form (signature state cannot "
            "verify Jaccard); run streaming.stream_extract."
            "stream_near_dedup_reconciled side-by-side — it flags in-stream "
            "and confirms each flag with the batch-exact adjudicator"
        )
    if (
        cfg.strip_boilerplate
        or cfg.max_dup_span_frac is not None
        or cfg.strip_dup_spans
    ):
        raise PipelineError(
            "strip_boilerplate / max_dup_span_frac / strip_dup_spans need "
            "CORPUS-GLOBAL line/span document frequencies — a stream sees "
            "neither past nor future docs, so any bounded-state form would "
            "silently under-count. Run them in batch (prepare_corpus) over "
            "the landed corpus, or periodically refresh a frequency table "
            "and gate with it explicitly"
        )
    if cfg.semantic_threshold is not None:
        raise PipelineError(
            "semantic_threshold (SemDeDup) needs within-CLUSTER pairwise "
            "cosine over the whole corpus — cluster membership is global "
            "state a stream cannot hold exactly. Run it in batch "
            "(prepare_corpus) over the landed corpus"
        )
    if cfg.lm_keep_buckets is not None:
        raise PipelineError(
            "lm_keep_buckets (CCNet tercile selection) needs corpus-global "
            "quantile boundaries a stream cannot hold — gate the stream "
            "with the absolute min_lm_logprob cut instead, or bucket in "
            "batch over the landed corpus"
        )
    if cfg.index_path is not None:
        # refuse rather than silently skip (r8: this used to fall through
        # unapplied): the screen caches the batch's shingle sets and runs
        # a distinct — not expressible on an unbounded frame. The correct
        # streaming form is per micro-batch in the sink.
        raise PipelineError(
            "index_path (the persisted-index screen) has no single-plan "
            "streaming form — run dedup_against_index per micro-batch "
            "inside a foreachBatch sink (the index is static, so each "
            "batch screens exactly like the batch operator), then append "
            "survivors to the index there"
        )
    txt = F.col(cfg.text_col)
    out = sdf
    if cfg.url_blocklist is not None:
        # per-row suffix overlap, stateless — identical to the batch
        # stage and ordered the same: before the url-dedup state
        out = _apply_url_blocklist(out, cfg)
    if cfg.url_col is not None:
        # identity dedup first (matching the batch stage order):
        # first-arrival-per-canonical-url, state bounded by the horizon
        from mysql_to_s3_spark.streaming.stream_extract import stream_url_dedup

        out = stream_url_dedup(out, ts_col, cfg.url_col, lateness)
    if cfg.c4_line_clean:
        # per-row rewrite, stateless — same stage order as batch
        out = _apply_c4_clean(out, cfg)
    if _c4_gate_on(cfg):
        out = _apply_c4_gate(out, cfg)
    if cfg.min_quality is not None:
        out = _apply_quality_gate(out, cfg)
    if cfg.languages is not None:
        out = _apply_language_gate(out, cfg)
    if cfg.block_words is not None:
        out = _apply_blockword_gate(out, cfg)
    if (cfg.max_dup_word_frac is not None or cfg.max_top_bigram_frac is not None
            or cfg.gopher_repetition_max):
        out = _apply_repetition_gate(out, cfg)
    if _gopher_gate_on(cfg):
        out = _apply_gopher_gate(out, cfg)
    if cfg.classifier_accept is not None:
        # row-wise JVM transform: stateless, commutes with micro-batching;
        # the model must be pretrained — a stream cannot self-fit
        if classifier is None:
            raise PipelineError(
                "classifier_accept set but no classifier given: a streaming "
                "gate needs a pretrained TextClassifier — fit one in batch "
                "with operators.classifier.train_text_classifier"
            )
        out = _apply_classifier_gate(out, cfg, classifier)
    if cfg.min_lm_logprob is not None:
        # the scorer is a broadcast-dict Column expression: per-row,
        # stateless, commutes with micro-batching — but the model must
        # be PRETRAINED (lm_rows): a stream cannot self-fit its corpus
        from mysql_to_s3_spark.operators.lm import unigram_scorer

        if lm_rows is None:
            raise PipelineError(
                "min_lm_logprob set but no lm_rows given: a streaming gate "
                "needs a pretrained (token, n) model — fit one in batch "
                "with operators.lm.unigram_counts"
            )
        score = unigram_scorer(lm_rows, spark=sdf.sparkSession)
        out = out.filter(score(txt) >= F.lit(float(cfg.min_lm_logprob)))
    if cfg.dsir_min_logratio is not None:
        # the scorer is a broadcast-array Arrow expression: per-row,
        # stateless, commutes with micro-batching — but BOTH models must
        # be pretrained ((bucket, n) lists or batch frames): a stream
        # cannot self-fit its own source distribution
        from mysql_to_s3_spark.operators.dsir import dsir_scorer

        if dsir_target_counts is None or dsir_source_counts is None:
            raise PipelineError(
                "dsir_min_logratio set but dsir_target_counts/"
                "dsir_source_counts missing: a streaming gate needs both "
                "models pretrained — fit them in batch with "
                "operators.dsir.hashed_ngram_counts"
            )
        dscore = dsir_scorer(
            dsir_target_counts, dsir_source_counts, n_buckets=cfg.dsir_buckets
        )
        out = out.filter(dscore(txt) >= F.lit(float(cfg.dsir_min_logratio)))
    if cfg.exact:
        out = stream_exact_dedup(out, ts_col, cfg.text_col, lateness)
    if cfg.mixture_rates is not None:
        out = stratified_hash_sample(
            out,
            dict(cfg.mixture_rates),
            cfg.strata_col,
            id_col=cfg.id_col,
            default_rate=cfg.mixture_default_rate,
        )
    if cfg.decontam_threshold is not None:
        if bench_rows is None:
            raise PipelineError("decontam_threshold set but no bench_rows given")
        out = stream_decontaminate(
            out,
            bench_rows,
            threshold=cfg.decontam_threshold,
            k=cfg.decontam_k,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
        )
    if cfg.redact:
        out = out.withColumn(cfg.text_col, redact_pii(txt))
    if cfg.splits is not None:
        out = out.withColumn(cfg.split_col, hash_split(F.col(cfg.id_col), dict(cfg.splits)))
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    budget: int = 2048,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
    extra_cols: tuple[str, ...] = (),
    manifest: bool = False,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Pack the corpus into token-budget sequences and write one JSON
    line per document, sharded so each output partition holds complete
    sequences: (bucket, seq_no, start_off, n_tokens, doc) ordered by
    offset within the sequence.

    ``n_tokens_col`` passes a precomputed length column to the packer
    (e.g. ``bpe_token_count`` output for model-true budgets); lengths
    default to the regex token count of ``text_col``.

    Returns the PACK-STAGE DROP AUDIT: a lazy ``(id_col, dropped_at =
    'pack_empty')`` frame of the docs the packer's zero-token filter
    removed (pack_assignments drops them — no training signal, and they
    would alias onto whatever sequence the offset cursor is at). This is
    the same shape as ``PreparedCorpus.audit()``, so the shard write's
    only silent truncation point composes into the per-doc drop story::

        prep = prepare_corpus(docs, cfg, bench=bench)
        pack_dropped = write_training_shards(prep.docs, path)
        full_audit = prep.audit().unionByName(pack_dropped)

    and every input doc is then accounted for exactly once across
    {survivors in the shards} + {full_audit}. Nothing else in this
    writer drops rows. The frame is lazy — collecting it re-tokenizes
    only the dropped docs' texts (a count-style scan), no job runs if
    the caller ignores it.

    Partitioned by the pack bucket — the same uniform hash slots the
    offset packer uses — so a training reader streams one file per
    bucket and reconstructs sequences by (seq_no, start_off) order
    without a global sort. One shuffle total: the payload columns ride
    the packer's window exchange (``keep_cols``), so there is no
    join-back on the id and no extra repartition; the per-task sort
    below already leads with the partition column, which satisfies the
    dynamic-partition writer's required ordering — no second sort is
    inserted (plan-asserted in tests/test_pipeline.py).

    To shard sliding-window CHUNKS instead of whole documents, chunk
    first and give each chunk a stable id::

        chunks = chunk_documents(docs, max_tokens=512, overlap=64)
        chunks = chunks.withColumn(
            "chunk_id", F.concat_ws("#", "doc_id", "chunk_idx"))
        write_training_shards(chunks, path, id_col="chunk_id",
                              text_col="chunk_text")
    """
    from mysql_to_s3_spark.operators.packing import pack_assignments

    keep = [text_col, *extra_cols]
    packed = pack_assignments(
        df,
        id_col=id_col,
        text_col=text_col,
        n_tokens_col=n_tokens_col,
        budget=budget,
        n_buckets=n_buckets,
        keep_cols=tuple(keep),
    )
    (
        packed.select(
            "bucket",
            "seq_no",
            "start_off",
            "n_tokens",
            F.to_json(F.struct(id_col, *keep)).alias("doc"),
        )
        .sortWithinPartitions("bucket", "seq_no", "start_off")
        .write.mode(mode)
        .partitionBy("bucket")
        .json(path)
    )
    if manifest:
        # a receipt for the committed files (underscore-named, so Spark's
        # file index skips it on read) — verify_shards() diffs against it
        write_shard_manifest(df.sparkSession, path)
    # the mirror of pack_assignments' `n_tokens > 0` keep-filter: docs
    # with zero (or null) token count are the writer's one drop point —
    # measured on the SAME length source the packer used
    from mysql_to_s3_spark.operators.packing import token_count

    n = F.col(n_tokens_col) if n_tokens_col else token_count(F.col(text_col))
    return (
        # null-safe negation: a null text/count tokenizes to null, which
        # the packer's `> 0` filter also drops — it must land in the audit
        df.filter(~F.coalesce(n > 0, F.lit(False)))
        .select(F.col(id_col), F.lit("pack_empty").alias("dropped_at"))
    )


def stream_write_training_shards(
    sdf: DataFrame,
    path: str,
    *,
    budget: int = 2048,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
    manifest: bool = False,
    n_tokens_col: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """Streaming form of ``write_training_shards`` — the last
    prepare-pipeline stage gets a stream analog (gates, dedup, decontam
    and split already have one in ``prepare_corpus_stream``): a
    ``foreachBatch`` sink that packs EACH MICRO-BATCH independently
    into ``<path>/batch=<epoch_id>/bucket=*/``.

    Sequences are micro-batch-local BY DESIGN: offset packing needs a
    total per-bucket order, which exists inside one batch but not
    across an unbounded stream — this is the honest streaming form, not
    an approximation of the batch one. Consequences, spelled out:

    - a small trigger yields under-filled sequences (fill_frac drops
      with batch size); size triggers in documents, or land the raw
      stream and re-pack in batch when fill matters most;
    - replays are idempotent: ``foreachBatch`` may re-run an epoch on
      failure, and ``mode='overwrite'`` into the epoch-keyed directory
      makes the second write byte-equivalent, so the receipt story
      survives at-least-once delivery;
    - with ``manifest=True`` every batch directory carries its own
      receipt — ``verify_shards`` gates each batch group independently,
      which is exactly the unit a downstream trainer consumes as it
      tails the stream;
    - read back with ``read_training_sequences`` pointed at the STREAM
      ROOT ``path`` (not a ``batch=*`` glob — the glob consumes the
      batch directory level): partition discovery surfaces ``batch`` and
      the reader folds it into the grouping key, so sequence keys are
      (batch, bucket, seq_no) and micro-batches never merge.

    ``available_now=True`` drains everything already in the source and
    terminates (``awaitTermination`` returns) — the batch-drain idiom;
    the default runs continuously until ``stop()``.

    Returns the started ``StreamingQuery``."""

    def _write(df: DataFrame, epoch_id: int) -> None:
        write_training_shards(
            df,
            f"{path.rstrip('/')}/batch={epoch_id}",
            budget=budget,
            n_buckets=n_buckets,
            id_col=id_col,
            text_col=text_col,
            mode="overwrite",
            extra_cols=extra_cols,
            manifest=manifest,
            n_tokens_col=n_tokens_col,
        )

    w = sdf.writeStream.foreachBatch(_write)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------------
# shard manifest + integrity verification

_SHARD_SCHEMA = (
    "seq_no bigint, start_off bigint, n_tokens bigint, doc string"
)
MANIFEST_NAME = "_manifest.json"
# bump when the sig recipe changes; verify_shards refuses cross-format
# compares (format 1 = bit_xor(xxhash64), format 2 = md5-prefix sums)
MANIFEST_FORMAT = 2


def _shard_stats_frame(spark, path: str) -> DataFrame:
    """Per-bucket stats of the training shards ON DISK as a lazy frame:
    (bucket, n_docs, n_seqs, tokens_total, sig). ``sig`` is
    's1:s2' where s1/s2 are SUMs of two 28-bit prefixes of
    md5(seq_no # start_off # n_tokens # doc) per row — it covers both
    the packing metadata and the payload line, so a flipped byte, a
    truncated file, or a re-pack all change it. Sum is chosen over the
    former bit_xor(xxhash64(...)) deliberately:

    - order-independent AND partial-aggregable (map-side combine — one
      agg pass at any scale, same as xor);
    - duplication-sensitive: a row appearing twice ADDS twice (xor of
      an identical pair cancels to the pre-duplication value);
    - ORACLE-PORTABLE: md5 + hex-prefix arithmetic is bit-identical in
      DuckDB (`shard_receipt_sql` replicates it exactly), while
      xxhash64 seeds differ across engines — the receipt itself can
      sit under a value-hash compare (the driver's `shard` leg does).

    28-bit prefixes keep each sum ~2^28 per row: bigint overflows only
    past ~3.4e10 rows per bucket — raise n_buckets long before that
    (the packer guidance already scales bucket count with corpus size).

    Reading with an explicit schema (never inference) keeps this a
    single pass over the files; bucket comes back from the partition
    directories.

    Why not rely on filesystem checksums: Hadoop's LocalFileSystem keeps
    .crc sidecars, but object stores (where 100 TB of shards actually
    live) do not, and a re-upload/partial-sync replaces files with new,
    internally-consistent bytes no transport checksum flags. The
    manifest is a CONTENT receipt, independent of the storage layer."""
    df = spark.read.schema(_SHARD_SCHEMA).json(path)
    h = F.md5(F.concat_ws("#", "seq_no", "start_off", "n_tokens", "doc"))
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("seq_no").alias("n_seqs"),
        F.sum("n_tokens").alias("tokens_total"),
        F.concat_ws(
            ":",
            F.sum(F.conv(F.substring(h, 1, 7), 16, 10).cast("long")).cast("string"),
            F.sum(F.conv(F.substring(h, 8, 7), 16, 10).cast("long")).cast("string"),
        ).alias("sig"),
    )


def _shard_stats(spark, path: str) -> list[dict]:
    """Collected form of ``_shard_stats_frame`` (n_buckets rows,
    bucket-ordered) — what the manifest stores and verify diffs."""
    rows = _shard_stats_frame(spark, path).orderBy("bucket").collect()
    return [
        {
            "bucket": int(r["bucket"]),
            "n_docs": int(r["n_docs"]),
            "n_seqs": int(r["n_seqs"]),
            "tokens_total": int(r["tokens_total"]),
            "sig": str(r["sig"]),
        }
        for r in rows
    ]


def shard_receipt_sql(
    table: str = "documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_buckets: int = 32,
) -> str:
    """DuckDB SQL reproducing ``_shard_stats`` for shards written by
    ``write_training_shards(df, path, budget=, n_buckets=)`` over a
    (id, text) frame — the oracle for the whole write -> read-back ->
    receipt path: the per-doc pack replica (same portable md5 bucket
    and offset window as ``pack_stats_sql``) feeds the same row string
    ``seq_no#start_off#n_tokens#doc`` (doc = the exact JSON line the
    writer emits; assumes JSON-clean text, true of the test corpus)
    through the same md5-prefix sums. Output: (bucket, n_docs, n_seqs,
    tokens_total, sig)."""
    from mysql_to_s3_spark.operators.sampling import SPLIT_BUCKETS
    from mysql_to_s3_spark.operators.text import TOKEN_RE

    bucket = (
        f"((('0x' || substr(md5({id_col}::VARCHAR), 1, 8))::BIGINT"
        f" % {SPLIT_BUCKETS}) % {n_buckets})"
    )
    return f"""
      WITH lens AS (
        SELECT {id_col}, {text_col},
               CAST(len(regexp_extract_all({text_col}, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
               {bucket} AS bucket
        FROM {table}
        WHERE len(regexp_extract_all({text_col}, '{TOKEN_RE}')) > 0),
      offs AS (
        SELECT bucket, {id_col}, {text_col}, n_tokens,
               CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS start_off,
               CAST(floor((SUM(n_tokens) OVER w - n_tokens) / {budget}) AS BIGINT) AS seq_no
        FROM lens
        WINDOW w AS (PARTITION BY bucket ORDER BY n_tokens DESC, {id_col} ASC)),
      hashed AS (
        SELECT bucket, seq_no, n_tokens,
               md5(seq_no || '#' || start_off || '#' || n_tokens || '#' ||
                   '{{"{id_col}":' || {id_col} || ',"{text_col}":"' || {text_col} || '"}}') AS h
        FROM offs)
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT seq_no) AS BIGINT) AS n_seqs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
             CAST(sum(('0x' || substr(h, 1, 7))::BIGINT) AS VARCHAR) || ':' ||
               CAST(sum(('0x' || substr(h, 8, 7))::BIGINT) AS VARCHAR) AS sig
      FROM hashed GROUP BY bucket"""


def write_shard_manifest(spark, path: str) -> list[dict]:
    """Compute shard stats from the files just written and store them as
    ``<path>/_manifest.json`` (driver-side: the manifest is n_buckets
    rows — 32 by default — regardless of corpus size). Returns the
    stats. Reading back what hit the DISK (not the pre-write frame)
    makes the manifest a receipt for the committed files themselves.
    Written through the Hadoop FileSystem API, so the receipt lands next
    to the shards on s3a://... and hdfs://... paths too.

    The manifest carries ``format: MANIFEST_FORMAT`` so that a sig-recipe
    change (format 2 moved from bit_xor(xxhash64) to the md5-prefix-sum
    string) is detected by ``verify_shards`` as a VERSION error instead of
    masquerading as per-bucket corruption of every receipt."""
    import json as _json

    from mysql_to_s3_spark.functions.fsio import write_text

    stats = _shard_stats(spark, path)
    write_text(
        spark, path.rstrip("/") + "/" + MANIFEST_NAME,
        _json.dumps({"format": MANIFEST_FORMAT, "buckets": stats}, sort_keys=True),
    )
    return stats


def verify_shards(spark, path: str) -> list[dict]:
    """Re-read the shards and diff against the stored manifest. Returns
    a list of mismatch records (empty == intact): one per bucket whose
    stats changed, vanished, or appeared, with both sides attached —
    the post-transfer / pre-training integrity gate.

    A manifest written under a different sig recipe (missing or wrong
    ``format`` key) raises ``PipelineError`` — a stale-format receipt must
    read as "re-run write_shard_manifest", never as data corruption."""
    import json as _json

    from mysql_to_s3_spark.functions.fsio import exists, read_text

    mpath = path.rstrip("/") + "/" + MANIFEST_NAME
    if not exists(spark, mpath):
        raise PipelineError(f"no {MANIFEST_NAME} under {path}; write one first")
    manifest = _json.loads(read_text(spark, mpath))
    fmt = manifest.get("format")
    if fmt != MANIFEST_FORMAT:
        raise PipelineError(
            f"manifest format {fmt!r} at {mpath} does not match this build's "
            f"format {MANIFEST_FORMAT} (the sig recipe changed); re-run "
            "write_shard_manifest over intact shards instead of comparing "
            "receipts computed under different recipes"
        )
    want = {b["bucket"]: b for b in manifest["buckets"]}
    got = {b["bucket"]: b for b in _shard_stats(spark, path)}
    out = []
    for bucket in sorted(set(want) | set(got)):
        if want.get(bucket) != got.get(bucket):
            out.append(
                {"bucket": bucket, "expected": want.get(bucket), "found": got.get(bucket)}
            )
    return out


def read_training_sequences(spark, path: str) -> DataFrame:
    """Consumer side of ``write_training_shards``: reconstruct packed
    sequences from the shard files as (bucket, seq_no, docs, n_docs,
    tokens_total), with ``docs`` the array of doc JSON strings in
    start_off order — what a training loader concatenates (with its EOS
    policy) into one sample.

    One shuffle (groupBy the sequence key) regardless of how Spark
    splits the files; correctness never depends on file-to-partition
    alignment. A loader that streams files directly can skip even that:
    each bucket file is already (seq_no, start_off)-sorted — this
    reader is the DISTRIBUTED consumer (re-tokenization jobs, sequence
    audits, export to another format).

    Over a ``stream_write_training_shards`` output, point this at the
    STREAM ROOT (the directory holding ``batch=*``), NOT at a
    ``<path>/batch=*`` glob: partition discovery then surfaces ``batch``
    as a column and it joins the grouping key, keeping sequences
    micro-batch-local. A glob consumes the batch directory level, which
    would merge same-(bucket, seq_no) sequences from different
    micro-batches into one bogus sequence."""
    df = spark.read.schema(_SHARD_SCHEMA).json(path)
    seq_key = (["batch"] if "batch" in df.columns else []) + ["bucket", "seq_no"]
    return (
        df.groupBy(*seq_key)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("start_off", "doc"))
                ),
                lambda s: s["doc"],
            ).alias("docs"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        )
    )


def split_leakage(
    df: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs that STRADDLE
    splits — documents the eval split shares (above ``threshold``
    Jaccard) with training data. A clean prepare_corpus run should
    return an empty frame (near-dup removal keeps one doc per cluster
    BEFORE the split, so no cluster can span splits); a non-empty
    result means dedup was skipped, thresholded looser than this
    audit, or the split was applied to un-deduped data.

    Output: (a, b, split_a, split_b, jaccard), a < b, split_a !=
    split_b. Cost shape: the banded MinHash-LSH pair scan (never
    all-pairs) + two joins to attach labels. Callers that already hold
    a near-dup pair frame — (a, b, jaccard), any generator — pass it
    via ``pairs`` and pay only the label joins (inside one plan Spark
    then reuses the pair scan's exchanges across consumers). Supplied
    frames must carry (a, b, jaccard) — jaccard both rides the output
    and enforces the audit threshold here, so an audit at 0.8 over a
    0.5-threshold pair frame never reports sub-threshold pairs as
    leakage (generated below the audit threshold the filter cannot
    RECOVER pairs — recall is the generator's)."""
    from mysql_to_s3_spark.operators.dedup import minhash_lsh_pairs

    if split_col not in df.columns:
        raise PipelineError(f"split column {split_col!r} not in {df.columns}")
    if pairs is None:
        pairs = minhash_lsh_pairs(
            df, threshold=threshold, id_col=id_col, text_col=text_col
        )
    else:
        missing = {"a", "b", "jaccard"} - set(pairs.columns)
        if missing:
            raise PipelineError(
                "split_leakage pairs frame must carry (a, b, jaccard); "
                f"missing {sorted(missing)} in {pairs.columns} — jaccard "
                "rides the output and enforces the audit threshold"
            )
        pairs = pairs.filter(F.col("jaccard") >= F.lit(float(threshold)))
    labels = df.select(F.col(id_col), F.col(split_col))
    return (
        pairs.join(
            labels.select(F.col(id_col).alias("a"), F.col(split_col).alias("split_a")),
            "a",
        )
        .join(
            labels.select(F.col(id_col).alias("b"), F.col(split_col).alias("split_b")),
            "b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "split_a", "split_b", "jaccard")
    )
