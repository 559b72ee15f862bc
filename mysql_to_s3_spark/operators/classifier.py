"""Model-based document classification gates — the trained-classifier
stage of modern corpus pipelines (CCNet's fastText language filter,
the GPT-3 / Llama "looks like the reference corpus" quality
classifiers). The reference engine has no analog (`/root/reference`
stops at heuristic filters); a 100 TB training-data engine needs the
learned gate as a first-class stage next to the heuristic ones
(text.quality_score, lm.unigram_logprob).

Spark-first by construction:

- **Features and scoring are JVM transformers** (pyspark.ml
  RegexTokenizer -> HashingTF unigrams [+ NGram -> HashingTF bigrams
  -> VectorAssembler] -> LogisticRegression). Scoring a corpus is one
  narrow per-row transform — no shuffle, no Python boundary, the
  coefficient vector broadcast by MLlib. That is the same cost shape
  as fastText's linear model, which this deliberately mirrors
  (hashed bag-of-ngrams + linear softmax, Joulin et al. 2016,
  arXiv:1607.01759).
- **Training is MLlib's distributed LBFGS**: executors compute
  gradient sums over their partitions; only the (n_features x
  n_classes) dense coefficients live on the driver. Feature hashing
  caps that at ``n_features`` regardless of corpus vocabulary.
- **Streaming-safe scoring**: every inference transformer is
  row-wise, so ``classify``/``classifier_gate`` apply unchanged to a
  readStream frame (training, like every fit, is batch-only).

Determinism contract (tests/test_classifier.py): refitting the same
frame with the same params is BIT-IDENTICAL (LBFGS from a fixed zero
init over a fixed partitioning); refitting under a different
partitioning perturbs coefficients at float-summation order (last-ulp
drift — gradient sums reduce in partition order). Reproducible corpus
builds across cluster layouts therefore fit ONCE and ``save``/``load``
the model everywhere, rather than refitting per environment.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

TOKEN_PATTERN = r"\w+|[^\w\s]"  # mirrors operators/text.TOKEN_RE


class ClassifierError(ValueError):
    pass


_TMP = ("__cls_tokens__", "__cls_tf1__", "__cls_ng__", "__cls_tf2__",
        "__cls_features__", "__cls_raw__", "__cls_prob__", "__cls_pred__")


@dataclass
class TextClassifier:
    """A fitted document classifier: the MLlib PipelineModel plus the
    original label strings in prediction-index order."""

    model: "pyspark.ml.PipelineModel"  # noqa: F821
    labels: tuple[str, ...]
    text_col: str

    def save(self, path: str) -> None:
        """Persist: MLlib-native model dir + a labels sidecar. Both go
        through the Hadoop FileSystem API, so s3a://... works."""
        import json

        from pyspark.sql import SparkSession

        from mysql_to_s3_spark.functions.fsio import write_text

        self.model.write().overwrite().save(path.rstrip("/") + "/model")
        write_text(
            SparkSession.active(),
            path.rstrip("/") + "/labels.json",
            json.dumps({"labels": list(self.labels), "text_col": self.text_col}),
        )

    @staticmethod
    def load(path: str) -> "TextClassifier":
        import json

        from pyspark.ml import PipelineModel
        from pyspark.sql import SparkSession

        from mysql_to_s3_spark.functions.fsio import read_text

        meta = json.loads(
            read_text(SparkSession.active(), path.rstrip("/") + "/labels.json")
        )
        return TextClassifier(
            model=PipelineModel.load(path.rstrip("/") + "/model"),
            labels=tuple(meta["labels"]),
            text_col=meta["text_col"],
        )


def _feature_stages(text_col: str, n_features: int, bigrams: bool):
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, VectorAssembler

    tok = RegexTokenizer(
        inputCol=text_col, outputCol=_TMP[0], pattern=TOKEN_PATTERN, gaps=False,
        toLowercase=True,
    )
    tf1 = HashingTF(inputCol=_TMP[0], outputCol=_TMP[1], numFeatures=n_features)
    if not bigrams:
        return [tok, tf1], _TMP[1]
    ng = NGram(n=2, inputCol=_TMP[0], outputCol=_TMP[2])
    tf2 = HashingTF(inputCol=_TMP[2], outputCol=_TMP[3], numFeatures=n_features)
    asm = VectorAssembler(inputCols=[_TMP[1], _TMP[3]], outputCol=_TMP[4])
    return [tok, tf1, ng, tf2, asm], _TMP[4]


def fit_partitions(
    df: DataFrame,
    floor: int = 4,
    bytes_per_partition: int = 128 << 20,
) -> int:
    """Partition count for an LBFGS training frame. Every one of the
    fit's ``max_iter`` iterations pays one gradient job over the frame,
    so dozens of near-empty partitions are pure scheduler overhead
    (r10: 50 iterations x 32 micro-partitions measured 29.8 s vs 13.5 s
    after narrowing). The count is derived from the optimizer's size
    estimate of the (label, text) projection — one partition per
    ``bytes_per_partition``, floored at ``floor`` and capped at
    ``defaultParallelism`` (gradient jobs cannot use more slots than
    the cluster has cores; beyond that every extra partition is pure
    per-iteration overhead) — so a corpus-scale fit keeps cluster-wide
    parallelism while a local fit is not scheduler-bound. The cap also
    bounds plans whose size estimate is a placeholder (local
    relations): a too-large value merely makes the ``coalesce`` a
    no-op. Use with ``coalesce`` (only ever narrows)."""
    import math

    spark = df.sparkSession
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    derived = max(int(floor), math.ceil(size / bytes_per_partition))
    return min(derived, max(int(floor), spark.sparkContext.defaultParallelism))


def train_text_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_features: int = 1 << 18,
    bigrams: bool = True,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> TextClassifier:
    """Fit a fastText-shaped linear classifier on (text, label) rows.

    ``n_features`` bounds driver/broadcast memory (hashed features;
    2^18 doubles x n_classes coefficients). Labels may be any strings;
    rows with a null label or null text are dropped from the fit (they
    carry no signal and MLlib would error)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StringIndexer

    if label_col not in df.columns:
        raise ClassifierError(f"label column {label_col!r} not in {df.columns}")
    if text_col not in df.columns:
        raise ClassifierError(f"text column {text_col!r} not in {df.columns}")
    clean = df.filter(F.col(label_col).isNotNull() & F.col(text_col).isNotNull())
    stages, feat_col = _feature_stages(text_col, int(n_features), bigrams)
    idx = StringIndexer(
        inputCol=label_col, outputCol="__cls_label__", stringOrderType="alphabetAsc"
    )
    lr = LogisticRegression(
        featuresCol=feat_col,
        labelCol="__cls_label__",
        predictionCol=_TMP[7],
        probabilityCol=_TMP[6],
        rawPredictionCol=_TMP[5],
        regParam=float(reg_param),
        maxIter=int(max_iter),
        family="multinomial",
    )
    fitted = Pipeline(stages=[idx, *stages, lr]).fit(clean)
    labels = tuple(fitted.stages[0].labelsArray[0])
    return TextClassifier(model=fitted, labels=labels, text_col=text_col)


def _transform(df: DataFrame, clf: TextClassifier, text_col: str | None):
    """Run the model null-safely: the JVM tokenizer NPEs on null text,
    so the model sees a ''-coalesced copy while the caller's column is
    restored verbatim afterwards (callers null the OUTPUTS via
    ``__cls_orig__``)."""
    clash = set(df.columns) & ({*_TMP, "__cls_label__", "__cls_orig__"})
    if clash:
        raise ClassifierError(
            f"columns {sorted(clash)} collide with classifier internals; "
            "rename them before scoring"
        )
    tc = text_col or clf.text_col
    if tc != clf.text_col:
        if clf.text_col in df.columns:
            raise ClassifierError(
                f"cannot score {tc!r}: the frame already has the model's "
                f"text column {clf.text_col!r}"
            )
        df = df.withColumnRenamed(tc, clf.text_col)
    df = df.withColumn("__cls_orig__", F.col(clf.text_col)).withColumn(
        clf.text_col, F.coalesce(F.col(clf.text_col), F.lit(""))
    )
    scored = clf.model.transform(df)

    def restore(out: DataFrame) -> DataFrame:
        out = out.withColumn(clf.text_col, F.col("__cls_orig__")).drop("__cls_orig__")
        if tc != clf.text_col:
            out = out.withColumnRenamed(clf.text_col, tc)
        return out

    return scored, tc, restore


def classify(
    df: DataFrame,
    clf: TextClassifier,
    text_col: str | None = None,
    label_out: str = "cls_label",
    score_out: str = "cls_score",
) -> DataFrame:
    """Add the predicted label string and its probability. Row-wise
    JVM transform — applies identically to batch and streaming frames.
    ``text_col`` defaults to the column the model was trained on; pass
    another name to score a different column (same tokenization)."""
    from pyspark.ml.functions import vector_to_array

    scored, tc, restore = _transform(df, clf, text_col)
    probs = vector_to_array(F.col(_TMP[6]))
    label_arr = F.array(*[F.lit(x) for x in clf.labels])
    isnull = F.col("__cls_orig__").isNull()
    out = scored.withColumn(
        label_out, F.when(isnull, F.lit(None)).otherwise(label_arr[F.col(_TMP[7]).cast("int")])
    ).withColumn(
        score_out,
        F.when(isnull, F.lit(None)).otherwise(probs[F.col(_TMP[7]).cast("int")]),
    )
    return restore(out.drop(*_TMP, "__cls_label__"))


def label_probability(
    df: DataFrame,
    clf: TextClassifier,
    label: str,
    text_col: str | None = None,
    out_col: str = "cls_prob",
) -> DataFrame:
    """Add P(label) for ONE class — the quality-classifier idiom
    ('probability this doc looks like the reference corpus'), used
    with a caller-chosen threshold (GPT-3 filtered on a Pareto-sampled
    threshold over exactly this value)."""
    from pyspark.ml.functions import vector_to_array

    if label not in clf.labels:
        raise ClassifierError(f"label {label!r} not in model labels {clf.labels}")
    i = clf.labels.index(label)
    scored, _, restore = _transform(df, clf, text_col)
    out = scored.withColumn(
        out_col,
        F.when(F.col("__cls_orig__").isNull(), F.lit(None)).otherwise(
            vector_to_array(F.col(_TMP[6]))[i]
        ),
    ).drop(*_TMP, "__cls_label__")
    return restore(out)


def classifier_gate(
    df: DataFrame,
    clf: TextClassifier,
    accept: tuple[str, ...],
    min_score: float = 0.0,
    text_col: str | None = None,
) -> DataFrame:
    """Keep rows whose predicted label is in ``accept`` with probability
    >= ``min_score``. Null text never passes (no signal). The gate is a
    filter over a row-wise transform: zero shuffles, streaming-safe."""
    unknown = set(accept) - set(clf.labels)
    if unknown:
        raise ClassifierError(f"accept labels {sorted(unknown)} not in model {clf.labels}")
    scored = classify(df, clf, text_col=text_col)
    keep = F.col("cls_label").isin(*accept) & (F.col("cls_score") >= F.lit(float(min_score)))
    return scored.filter(keep).drop("cls_label", "cls_score")
