"""Cross-corpus decontamination (operators/decontam.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.decontam import contamination_pairs, decontaminate


def _frames(spark):
    bench_text = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [
            (1, f"intro text here. {bench_text}. and a long tail of unrelated prose"),
            (2, "completely different content with no overlap at all whatsoever"),
            (3, bench_text[: len(bench_text) // 2] + " then it diverges entirely xyz"),
            (10, bench_text),  # also in the bench set -> self-pair excluded
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame([(10, bench_text)], "doc_id: long, text: string")
    return train, bench


def test_verbatim_inclusion_scores_full_containment(spark):
    train, bench = _frames(spark)
    rows = {r.train_id: r for r in contamination_pairs(train, bench, threshold=0.9, k=8).collect()}
    assert list(rows) == [1]
    assert rows[1].bench_id == 10 and rows[1].overlap_frac == 1.0
    # overlap == the bench doc's full distinct 8-shingle count
    n_bench = bench.select(
        F.size(F.array_distinct(F.expr(
            "transform(sequence(1, greatest(length(text)-7, 1)), i -> substring(text, i, 8))"
        ))).alias("n")
    ).first()["n"]
    assert rows[1].overlap == n_bench


def test_partial_overlap_threshold(spark):
    train, bench = _frames(spark)
    # doc 3 contains ~half the bench text: in at tau=0.3, out at tau=0.9
    ids_loose = {r.train_id for r in contamination_pairs(train, bench, threshold=0.3, k=8).collect()}
    assert ids_loose == {1, 3}
    ids_tight = {r.train_id for r in contamination_pairs(train, bench, threshold=0.9, k=8).collect()}
    assert ids_tight == {1}


def test_self_pairs_excluded_and_decontaminate_applies(spark):
    train, bench = _frames(spark)
    pairs = contamination_pairs(train, bench, threshold=0.9, k=8)
    assert 10 not in {r.train_id for r in pairs.collect()}
    kept = sorted(r.doc_id for r in decontaminate(train, bench, threshold=0.9, k=8).collect())
    # doc 1 dropped (contaminated); doc 10 kept (self-pair is not contamination)
    assert kept == [2, 3, 10]


def test_asymmetry_containment_not_jaccard(spark):
    # a long train doc embedding a short bench doc: containment 1.0 even
    # though Jaccard is small — the decontam-specific semantics
    bench_text = "exact eval question text appears here verbatim"
    train = spark.createDataFrame(
        [(1, ("filler sentence %d. " * 30) % tuple(range(30)) + bench_text)],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame([(99, bench_text)], "doc_id: long, text: string")
    r = contamination_pairs(train, bench, threshold=0.99, k=8).collect()
    assert len(r) == 1 and r[0].overlap_frac == 1.0


def test_hashed_matches_exact_on_corpus(spark):
    # the int64-shingle scale path returns the identical pair set on the
    # sf0.001 corpus (hash collisions are ~1e-12 events, not present here)
    from mysql_to_s3_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 3500))
    exact = contamination_pairs(docs, bench, threshold=0.5, k=13).collect()
    hashed = contamination_pairs(docs, bench, threshold=0.5, k=13, hashed=True).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, hashed))
    assert len(exact) > 0


def _py_contamination(docs, bench, threshold, k):
    """Pure-Python oracle mirroring contamination_pairs semantics."""
    out = set()
    sh = lambda t: {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
    for bid, btext in bench:
        bs = sh(btext)
        for tid, ttext in docs:
            if tid == bid:
                continue
            ov = len(sh(ttext) & bs)
            if round(ov / len(bs), 6) >= threshold:
                out.add((tid, bid, ov))
    return out


def test_property_random_corpora_match_python_oracle(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
    text = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @given(st.lists(text, min_size=1, max_size=10), st.sampled_from([0.3, 0.5, 0.9]))
    @settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    def check(texts, tau):
        docs = [(i, t) for i, t in enumerate(texts)]
        bench = docs[: max(len(docs) // 3, 1)]
        tdf = spark.createDataFrame(docs, "doc_id: long, text: string")
        bdf = spark.createDataFrame(bench, "doc_id: long, text: string")
        got = {
            (r.train_id, r.bench_id, r.overlap)
            for r in contamination_pairs(tdf, bdf, threshold=tau, k=4).collect()
        }
        assert got == _py_contamination(docs, bench, tau, 4)

    check()


def test_broadcast_guard_fallback_same_result(spark, caplog):
    """A bench side over the shingle cap degrades to a shuffle join
    (logged) with the identical pair set — the OOM valve for oversized
    benchmark sets / corpus-vs-corpus screening."""
    import logging

    train, bench = _frames(spark)
    want = sorted(
        map(tuple, contamination_pairs(train, bench, threshold=0.3, k=8).collect())
    )
    with caplog.at_level(logging.WARNING, logger="mysql_to_s3_spark.operators.decontam"):
        got = sorted(
            map(
                tuple,
                contamination_pairs(
                    train, bench, threshold=0.3, k=8, broadcast_max_shingles=1
                ).collect(),
            )
        )
    assert got == want and len(got) == 2
    assert any("falling back to a shuffle join" in r.message for r in caplog.records)
