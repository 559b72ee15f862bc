"""Bloom-filter screen (operators/bloom.py): portable position spec,
no-false-negatives guarantee, FP-rate sanity, unions, the dedup-index
sidecar round-trip, and the screen composition."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.bloom import (
    BloomError,
    _py_positions,
    bloom_build,
    bloom_might_contain,
    bloom_position_columns,
    bloom_union,
    read_bloom_sidecar,
    write_bloom_sidecar,
)


def _flags(df, path):
    """{doc_id: might-be-in-index} for ``df`` against the index's bloom
    sidecar, over the same normalized-text fingerprint the index stores."""
    from mysql_to_s3_spark.operators.text import fingerprint

    side = read_bloom_sidecar(path, df.sparkSession)
    flag = bloom_might_contain(fingerprint(F.col("text")), side["bitmap"], side["m_bits"], side["k"])
    return {r["doc_id"]: r["f"] for r in df.select("doc_id", flag.alias("f")).collect()}


def test_position_spec_column_matches_python(spark):
    vals = ["", "a", "doc-42", "Ünïcode ✓", "x" * 300]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    m, k = 4096, 5
    cols = bloom_position_columns(F.col("v"), m, k)
    rows = df.select("v", F.array(*cols).alias("p")).collect()
    for r in rows:
        assert list(r["p"]) == _py_positions(r["v"], m, k), r["v"]


def test_no_false_negatives_and_fp_rate(spark):
    n, m, k = 400, 8192, 4
    members = [f"member-{i}" for i in range(n)]
    others = [f"other-{i}" for i in range(2000)]
    bm = bloom_build(spark.createDataFrame([(v,) for v in members], "fp string"), "fp", m, k)
    df = spark.createDataFrame(
        [(v, True) for v in members] + [(v, False) for v in others], "fp string, ins boolean"
    )
    got = df.select("fp", "ins", bloom_might_contain(F.col("fp"), bm, m, k).alias("f")).collect()
    fp_hits = 0
    for r in got:
        if r["ins"]:
            assert r["f"], f"FALSE NEGATIVE on {r['fp']}"
        elif r["f"]:
            fp_hits += 1
    theory = (1.0 - math.exp(-k * n / m)) ** k
    assert fp_hits / 2000 < max(3 * theory, 0.01), (fp_hits, theory)
    assert fp_hits > 0  # at this load a few collisions are expected


def test_union_equals_combined_build_and_null_screens_false(spark):
    m, k = 1024, 3
    a = [f"a{i}" for i in range(50)]
    b = [f"b{i}" for i in range(50)]
    bm_a = bloom_build(spark.createDataFrame([(v,) for v in a], "fp string"), "fp", m, k)
    bm_b = bloom_build(spark.createDataFrame([(v,) for v in b], "fp string"), "fp", m, k)
    bm_ab = bloom_build(spark.createDataFrame([(v,) for v in a + b], "fp string"), "fp", m, k)
    assert bloom_union(bm_a, bm_b) == bm_ab
    df = spark.createDataFrame([(None,), ("a1",)], "fp string")
    got = {r["fp"]: r["f"] for r in df.select(
        "fp", bloom_might_contain(F.col("fp"), bm_ab, m, k).alias("f")).collect()}
    assert got[None] is False and got["a1"] is True


def test_shape_and_size_errors(spark):
    df = spark.createDataFrame([("x",)], "fp string")
    with pytest.raises(BloomError, match="multiple of 8"):
        bloom_build(df, "fp", m_bits=100, k=2)
    with pytest.raises(BloomError, match="k must be"):
        bloom_build(df, "fp", m_bits=1024, k=0)
    bm = bloom_build(df, "fp", m_bits=1024, k=2)
    with pytest.raises(BloomError, match="bitmap is"):
        bloom_might_contain(F.col("fp"), bm, m_bits=2048, k=2)
    with pytest.raises(BloomError, match="sizes differ"):
        bloom_union(bm, b"\x00" * 10)


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_index_sidecar_roundtrip_and_screen(spark, tmp_path):
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index

    path = str(tmp_path / "bloom_index")
    corpus = spark.createDataFrame(
        [(i, f"indexed document body number {i} with words") for i in range(40)],
        "doc_id long, text string",
    )
    write_dedup_index(corpus, path)
    bm = write_bloom_sidecar(path, spark, m_bits=4096, k=4)
    side = read_bloom_sidecar(path, spark)
    assert side["m_bits"] == 4096 and side["k"] == 4 and side["bitmap"] == bm

    new = spark.createDataFrame(
        # 0..9 are exact re-ingests (same text -> same fp); 100.. are new
        [(i, f"indexed document body number {i} with words") for i in range(10)]
        + [(100 + i, f"a genuinely new doc {i} body") for i in range(30)],
        "doc_id long, text string",
    )
    flags = _flags(new, path)
    for i in range(10):
        assert flags[i], "re-ingested doc must flag possibly-seen"
    # the no-false-negative direction: every False really is absent;
    # at this load most of the 30 new docs screen definitely-new
    assert sum(not flags[100 + i] for i in range(30)) >= 25

    # extend: after appending a batch, extend folds the new fps in
    batch = spark.createDataFrame(
        [(200, "appended batch doc body")], "doc_id long, text string"
    )
    write_dedup_index(batch, path, mode="append")
    bm2 = write_bloom_sidecar(path, spark, m_bits=4096, k=4, mode="extend")
    assert bloom_union(bm, bm2) == bm2  # monotone growth
    assert _flags(batch, path)[200] is True
    with pytest.raises(BloomError, match="extend requested"):
        write_bloom_sidecar(path, spark, m_bits=8192, k=4, mode="extend")


def test_extend_with_batch_bitmap_is_batch_linear(spark, tmp_path):
    """extend + batch_bitmap must fold the batch in WITHOUT re-reading
    the corpus, and equal the full rebuild bit-for-bit."""
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index
    from mysql_to_s3_spark.operators.text import fingerprint

    path = str(tmp_path / "bb_index")
    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} body") for i in range(30)], "doc_id long, text string"
    )
    write_dedup_index(corpus, path)
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)

    batch = spark.createDataFrame(
        [(100, "new batch doc body"), (101, "second new doc")],
        "doc_id long, text string",
    )
    batch_bm = bloom_build(
        batch.select(fingerprint(F.col("text")).alias("fp")), "fp", 2048, 3
    )
    write_dedup_index(batch, path, mode="append")
    got = write_bloom_sidecar(
        path, spark, m_bits=2048, k=3, mode="extend",
        batch_bitmap=batch_bm, batch_n_docs=2,
    )
    want = bloom_build(spark.read.parquet(path + "/docs"), "fp", 2048, 3)
    assert got == want
    assert read_bloom_sidecar(path, spark)["n_docs"] == 32
    with pytest.raises(BloomError, match="only composes"):
        write_bloom_sidecar(
            path, spark, m_bits=2048, k=3, batch_bitmap=batch_bm, batch_n_docs=2
        )
    with pytest.raises(BloomError, match="batch_bitmap is"):
        write_bloom_sidecar(
            path, spark, m_bits=4096, k=3, mode="extend",
            batch_bitmap=batch_bm, batch_n_docs=2,
        )
    with pytest.raises(BloomError, match="requires batch_n_docs"):
        write_bloom_sidecar(
            path, spark, m_bits=2048, k=3, mode="extend", batch_bitmap=batch_bm
        )


def test_extend_under_covering_batch_falls_back_to_rebuild(spark, tmp_path):
    """Two appends, ONE batch bitmap: stamping would legitimize an
    under-covering bloom — extend must rebuild corpus-linear instead,
    so the written sidecar still covers the first append's fps."""
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index
    from mysql_to_s3_spark.operators.text import fingerprint

    path = str(tmp_path / "uc_index")
    write_dedup_index(
        spark.createDataFrame([(i, f"base doc {i}") for i in range(10)],
                              "doc_id long, text string"),
        path,
    )
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)
    first = spark.createDataFrame([(100, "first appended doc")], "doc_id long, text string")
    second = spark.createDataFrame([(101, "second appended doc")], "doc_id long, text string")
    write_dedup_index(first, path, mode="append")
    write_dedup_index(second, path, mode="append")
    second_bm = bloom_build(
        second.select(fingerprint(F.col("text")).alias("fp")), "fp", 2048, 3
    )
    # batch covers only the SECOND append: 10 + 1 != 12 -> rebuild
    got = write_bloom_sidecar(
        path, spark, m_bits=2048, k=3, mode="extend",
        batch_bitmap=second_bm, batch_n_docs=1,
    )
    want = bloom_build(spark.read.parquet(path + "/docs"), "fp", 2048, 3)
    assert got == want  # covers BOTH appends, not just the passed batch
    assert read_bloom_sidecar(path, spark)["n_docs"] == 12
    flags = _flags(
        spark.createDataFrame(
            [(200, "first appended doc"), (201, "second appended doc")],
            "doc_id long, text string",
        ),
        path,
    )
    assert flags[200] is True and flags[201] is True


def test_stale_sidecar_stamp_and_refresh(spark, tmp_path):
    """A STALE sidecar (index appended, sidecar not updated) shows in its
    n_docs stamp, the exact screen stays correct on it, and a refresh
    folds the appended fingerprint in."""
    from mysql_to_s3_spark.operators.dedup_index import (
        exact_screen_against_index,
        write_dedup_index,
    )

    path = str(tmp_path / "bs_stale")
    write_dedup_index(
        spark.createDataFrame([(i, f"doc {i}") for i in range(10)],
                              "doc_id long, text string"),
        path,
    )
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)
    write_dedup_index(
        spark.createDataFrame([(100, "late appended doc")], "doc_id long, text string"),
        path,
        mode="append",
    )
    new = spark.createDataFrame(
        [(200, "late appended doc"), (201, "some brand new body")],
        "doc_id long, text string",
    )
    assert read_bloom_sidecar(path, spark)["n_docs"] == 10
    assert spark.read.parquet(path + "/docs").count() == 11
    kept = {r["doc_id"] for r in exact_screen_against_index(new, path).collect()}
    assert kept == {201}
    # refresh -> the stamp covers the index and the appended fp flags
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)
    assert read_bloom_sidecar(path, spark)["n_docs"] == 11
    assert _flags(new, path)[200] is True


def test_exact_screen_against_index_bloom_routed(spark, tmp_path):
    """The exact-vs-index screen drops re-ingested fps, keeps new docs,
    and gives the SAME answer with and without the bloom routing."""
    from mysql_to_s3_spark.operators.dedup_index import (
        exact_screen_against_index,
        write_dedup_index,
    )

    path = str(tmp_path / "es_index")
    corpus = spark.createDataFrame(
        [(i, f"indexed doc {i} body text") for i in range(40)],
        "doc_id long, text string",
    )
    write_dedup_index(corpus, path)

    new = spark.createDataFrame(
        [(1000 + i, f"indexed doc {i} body text") for i in range(6)]     # re-ingests
        + [(2000 + i, f"fresh doc {i} content") for i in range(10)],     # new
        "doc_id long, text string",
    )
    # no sidecar yet: use_bloom falls back to the plain anti-join
    plain = sorted(r["doc_id"] for r in exact_screen_against_index(new, path).collect())
    assert plain == [2000 + i for i in range(10)]

    write_bloom_sidecar(path, spark, m_bits=4096, k=4)
    routed = sorted(r["doc_id"] for r in exact_screen_against_index(new, path).collect())
    unrouted = sorted(
        r["doc_id"]
        for r in exact_screen_against_index(new, path, use_bloom=False).collect()
    )
    assert routed == unrouted == plain
    # helper columns never leak
    assert exact_screen_against_index(new, path).columns == new.columns


def test_pipeline_index_exact_stage(spark, tmp_path):
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index
    from mysql_to_s3_spark.pipeline import (
        CorpusConfig,
        PipelineError,
        prepare_corpus,
    )

    path = str(tmp_path / "pipe_index")
    corpus = spark.createDataFrame(
        [(i, f"already ingested doc {i} text") for i in range(20)],
        "doc_id long, text string",
    )
    write_dedup_index(corpus, path)
    write_bloom_sidecar(path, spark, m_bits=4096, k=4)

    new = spark.createDataFrame(
        [(500, "already ingested doc 3 text"), (501, "a brand new doc body here")],
        "doc_id long, text string",
    )
    cfg = CorpusConfig(exact=False, index_path=path, index_exact=True)
    prep = prepare_corpus(new, cfg)
    kept = sorted(r["doc_id"] for r in prep.docs.select("doc_id").collect())
    assert kept == [501]
    names = [n for n, _ in prep.stages]
    assert names.index("index_exact") < names.index("index_dedup")

    with pytest.raises(PipelineError, match="index_exact requires"):
        prepare_corpus(new, CorpusConfig(exact=False, index_exact=True))


def test_bloom_might_contain_streaming_safe(spark, tmp_path):
    """The screen is a stateless Arrow kernel — it must run unchanged
    inside a Structured Streaming micro-batch."""
    import os

    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    members = [f"m{i}" for i in range(20)]
    bm = bloom_build(
        spark.createDataFrame([(v,) for v in members], "fp string"), "fp", 1024, 3
    )
    src = str(tmp_path / "bloom_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "ts": pd.to_datetime(["2024-01-01"] * 6).astype("datetime64[us]"),
            "fp": ["m1", "m2", "nope-a", "m3", "nope-b", None],
        }
    ).to_parquet(src + "/a.parquet")
    sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
    out = sdf.withColumn("maybe", bloom_might_contain(F.col("fp"), bm, 1024, 3))
    q = (
        out.writeStream.format("memory").queryName("bloom_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = {r["doc_id"]: r["maybe"] for r in spark.sql("SELECT * FROM bloom_stream_t").collect()}
    assert got[0] and got[1] and got[3]          # members always flag
    assert got[5] is False                        # null fp -> definitely new
    # batch == stream decisions on the same rows
    batch = spark.read.parquet(src).withColumn(
        "maybe", bloom_might_contain(F.col("fp"), bm, 1024, 3)
    )
    bgot = {r["doc_id"]: r["maybe"] for r in batch.collect()}
    assert bgot == got


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_stale_sidecar_falls_back_to_plain_anti_join(spark, tmp_path):
    """An index append WITHOUT a sidecar update must not let exact
    re-ingests of the appended docs through the bloom fast path."""
    from mysql_to_s3_spark.operators.dedup_index import (
        exact_screen_against_index,
        write_dedup_index,
    )

    path = str(tmp_path / "stale_index")
    write_dedup_index(
        spark.createDataFrame([(i, f"doc {i}") for i in range(10)],
                              "doc_id long, text string"),
        path,
    )
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)
    write_dedup_index(
        spark.createDataFrame([(100, "late appended doc")], "doc_id long, text string"),
        path,
        mode="append",
    )  # sidecar is now STALE (n_docs stamp < docs count)
    new = spark.createDataFrame(
        [(200, "late appended doc"), (201, "truly new body")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_screen_against_index(new, path).collect())
    assert kept == [201]
    # refreshing the sidecar restores the bloom routing with the same answer
    write_bloom_sidecar(path, spark, m_bits=2048, k=3)
    kept2 = sorted(r["doc_id"] for r in exact_screen_against_index(new, path).collect())
    assert kept2 == [201]
