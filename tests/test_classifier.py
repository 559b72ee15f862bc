"""Model-based classifier gate: fastText-shaped MLlib pipeline
(operators/classifier.py). Deterministic separable corpora, the real
documents table, save/load, and gate/probability semantics."""

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.classifier import (
    ClassifierError,
    TextClassifier,
    classifier_gate,
    classify,
    label_probability,
    train_text_classifier,
)

GOOD = [
    "the committee published a thorough report on regional water quality",
    "researchers measured the effect of irrigation on crop yield over time",
    "the library catalog lists every volume acquired since the founding",
    "engineers documented the bridge inspection with detailed drawings",
    "the orchestra rehearsed the full program before the winter concert",
    "students presented their analysis of the census data to the council",
]
SPAM = [
    "click here buy now cheap pills best price click click buy buy",
    "winner winner free prize claim now click here free free prize",
    "cheap deals buy now limited offer click buy cheap cheap deals",
    "free money claim prize now now now click here winner prize",
    "best price buy cheap pills offer offer click now buy pills",
    "prize winner free claim click buy now cheap offer free now",
]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(i, t, "good") for i, t in enumerate(GOOD)] + [
        (100 + i, t, "spam") for i, t in enumerate(SPAM)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, label string")


@pytest.fixture(scope="module")
def clf(labeled):
    return train_text_classifier(labeled, "label", n_features=1 << 12)


def test_labels_and_separable_fit(labeled, clf):
    assert clf.labels == ("good", "spam")  # alphabetAsc ordering
    scored = classify(labeled, clf)
    rows = scored.select("doc_id", "label", "cls_label", "cls_score").collect()
    assert rows
    for r in rows:
        assert r["cls_label"] == r["label"], r
        assert r["cls_score"] > 0.5


def test_classify_drops_internals(labeled, clf):
    out = classify(labeled, clf)
    assert set(out.columns) == {"doc_id", "text", "label", "cls_label", "cls_score"}


def test_gate_keeps_accepted_label_only(labeled, clf):
    kept = classifier_gate(labeled, clf, accept=("good",), min_score=0.6)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == set(range(len(GOOD)))
    assert set(kept.columns) == {"doc_id", "text", "label"}


def test_gate_min_score_one_drops_everything_uncertain(labeled, clf):
    # probability exactly 1.0 is unattainable for logistic outputs on
    # regularized weights; min_score=1.0 must therefore drop all rows
    assert classifier_gate(labeled, clf, accept=("good", "spam"), min_score=1.0).count() == 0


def test_gate_rejects_unknown_label(labeled, clf):
    with pytest.raises(ClassifierError):
        classifier_gate(labeled, clf, accept=("nope",))


def test_label_probability_column(labeled, clf):
    out = label_probability(labeled, clf, "spam", out_col="p_spam")
    rows = out.select("doc_id", "label", "p_spam").collect()
    for r in rows:
        assert 0.0 <= r["p_spam"] <= 1.0
        assert (r["p_spam"] > 0.5) == (r["label"] == "spam"), r
    with pytest.raises(ClassifierError):
        label_probability(labeled, clf, "absent")


def test_null_text_and_label_dropped_from_fit_and_gate(spark, clf):
    df = spark.createDataFrame(
        [(1, None, "good"), (2, "click buy cheap prize now", None)],
        "doc_id bigint, text string, label string",
    )
    # training on null-only rows raises inside MLlib if not filtered —
    # our filter keeps the fit legal even when some rows are null
    aug = df.union(
        spark.createDataFrame(
            [(3, GOOD[0], "good"), (4, SPAM[0], "spam")],
            "doc_id bigint, text string, label string",
        )
    )
    small = train_text_classifier(aug, "label", n_features=1 << 10, max_iter=10)
    assert set(small.labels) == {"good", "spam"}
    # null text never passes the gate
    kept = classifier_gate(df, clf, accept=("good", "spam"), min_score=0.0)
    assert 1 not in {r["doc_id"] for r in kept.collect()}


def test_alternate_text_col_scoring(labeled, clf):
    other = labeled.withColumnRenamed("text", "body")
    out = classify(other, clf, text_col="body")
    assert "body" in out.columns and "text" not in out.columns
    rows = out.collect()
    for r in rows:
        assert r["cls_label"] == r["label"]
    clash = other.withColumn("text", F.lit("x"))
    with pytest.raises(ClassifierError):
        classify(clash, clf, text_col="body")


def test_save_load_roundtrip(labeled, clf, tmp_path):
    path = str(tmp_path / "clf")
    clf.save(path)
    back = TextClassifier.load(path)
    assert back.labels == clf.labels
    a = {r["doc_id"]: r["cls_score"] for r in classify(labeled, clf).collect()}
    b = {r["doc_id"]: r["cls_score"] for r in classify(labeled, back).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_train_on_documents_lang_labels(spark, sf_dir):
    """Real-table sanity: fit lang labels on the documents corpus and
    check training-set accuracy clears a weak floor (synthetic text —
    the point is the distributed fit runs and predicts strings)."""
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    n_langs = docs.select("lang").distinct().count()
    model = train_text_classifier(docs, "lang", n_features=1 << 14, max_iter=20)
    assert len(model.labels) == n_langs
    scored = classify(docs, model)
    acc = scored.select(
        F.avg((F.col("cls_label") == F.col("lang")).cast("double")).alias("a")
    ).first()["a"]
    assert acc > 1.0 / n_langs + 0.05  # comfortably better than chance


def test_bad_columns_raise(labeled):
    with pytest.raises(ClassifierError):
        train_text_classifier(labeled, "missing_label")
    with pytest.raises(ClassifierError):
        train_text_classifier(labeled, "label", text_col="missing_text")


def test_internal_column_clash_raises(labeled, clf):
    bad = labeled.withColumn("__cls_orig__", F.lit("x"))
    with pytest.raises(ClassifierError, match="internals"):
        classify(bad, clf)


def test_fit_determinism_contract(spark, labeled):
    """Reproducible-corpus contract: two fits of the same frame with the
    same params produce a BIT-IDENTICAL model (same coefficients, same
    scores) — LBFGS from a fixed zero init over a fixed partitioning is
    deterministic. A REPARTITIONED fit perturbs coefficients at float-
    summation order (last-ulp drift), so predictions must still agree
    to 1e-9 — and cross-layout reproducibility therefore goes through
    save/load of ONE fitted model, not refitting per cluster."""
    import numpy as np

    probe = labeled.select("doc_id", "text")

    def coefs(clf):
        return np.asarray(clf.model.stages[-1].coefficientMatrix.toArray())

    def scores(clf):
        return [
            (r.doc_id, r.cls_label, r.cls_score)
            for r in classify(probe, clf).orderBy("doc_id").collect()
        ]

    kw = dict(n_features=1 << 12, max_iter=25)
    c1 = train_text_classifier(labeled, "label", **kw)
    c2 = train_text_classifier(labeled, "label", **kw)
    assert (coefs(c1) == coefs(c2)).all()  # bit-identical refit
    assert scores(c1) == scores(c2)  # exact float equality, no tolerance

    c3 = train_text_classifier(labeled.repartition(5), "label", **kw)
    s1, s3 = scores(c1), scores(c3)
    assert [(d, l) for d, l, _ in s1] == [(d, l) for d, l, _ in s3]
    for (_, _, a), (_, _, b) in zip(s1, s3):
        assert abs(a - b) <= 1e-9


def test_fit_partitions_floor_and_cap(spark):
    """r11: the training-frame narrowing is size-derived, not a
    local-scale literal: a small frame floors at 4 and the derivation
    scales with the size estimate, up to the core count."""
    from mysql_to_s3_spark.operators.classifier import fit_partitions

    df = spark.range(100).selectExpr(
        "cast(id as string) as text", "'a' as label"
    )
    # tiny frame: floors at 4 (the estimate is far below one
    # bytes_per_partition chunk)
    assert fit_partitions(df) == 4
    # derivation caps at defaultParallelism: even with a 1-byte chunk
    # size (so the raw derivation far exceeds the core count), LBFGS
    # never gets more partitions than the cluster has slots
    par = spark.sparkContext.defaultParallelism
    assert fit_partitions(df, floor=1, bytes_per_partition=1) <= par
