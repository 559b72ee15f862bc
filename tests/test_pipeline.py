"""End-to-end corpus-preparation pipeline (mysql_to_s3_spark/pipeline.py).

Verifies the COMPOSITION, not the operators (each stage has its own
oracle-checked tests): the final corpus satisfies every contract the
config declares, the SQL-expressible prefix (quality gate -> exact
dedup -> split) matches a DuckDB replica doc-for-doc, and the packed
shard writer round-trips with complete in-order sequences.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.decontam import contamination_pairs
from mysql_to_s3_spark.operators.dedup import minhash_lsh_pairs
from mysql_to_s3_spark.operators.text import quality_score
from mysql_to_s3_spark.pipeline import (
    CorpusConfig,
    PipelineError,
    prepare_corpus,
    write_training_shards,
)
from mysql_to_s3_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_full_pipeline_contracts(spark, sf_dir, docs):
    """Every configured contract holds on the final corpus."""
    bench = (
        docs.orderBy("doc_id").limit(5).select("doc_id", "text")
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)  # disjoint ids
    )
    cfg = CorpusConfig(
        min_quality=0.8,
        exact=True,
        near_dup="minhash",
        near_threshold=0.9,
        decontam_threshold=0.8,
        redact=True,
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    prep = prepare_corpus(docs, cfg, bench=bench)
    out = prep.docs.cache()

    # schema: input columns + split label
    assert set(out.columns) == set(docs.columns) | {"split"}

    # funnel counts only ever decrease (split/redact do not drop rows)
    funnel = prep.funnel()
    names = [n for n, _ in prep.stages]
    assert names == [
        "input", "quality", "exact_dedup", "near_dedup", "decontam", "redact", "split",
    ]
    counts = [funnel[n] for n in names]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0

    # quality gate: redaction can only change text AFTER the gate, so
    # re-check against the pre-redaction frame
    pre_redact = dict(prep.stages)["decontam"]
    assert pre_redact.filter(quality_score(F.col("text")) < 0.8).count() == 0

    # exact dedup: no fingerprint appears twice (redaction is injective
    # enough on this corpus for the check to transfer; use pre-redaction)
    from mysql_to_s3_spark.operators.text import fingerprint

    n_docs = pre_redact.count()
    n_fp = pre_redact.select(fingerprint(F.col("text")).alias("fp")).distinct().count()
    assert n_docs == n_fp

    # near-dedup: rerunning the pair generator on the RESULT finds nothing
    assert minhash_lsh_pairs(pre_redact, threshold=0.9).count() == 0

    # decontam: the five bench docs were lifted verbatim from the corpus,
    # so their surviving originals must be gone (containment = 1.0)
    assert (
        contamination_pairs(pre_redact, bench, threshold=0.8, hashed=True).count() == 0
    )

    # split labels are complete and non-degenerate
    labels = {r.split for r in out.select("split").distinct().collect()}
    assert labels <= {"train", "val", "test"}
    assert "train" in labels
    out.unpersist()


def test_sql_expressible_prefix_matches_duckdb(spark, sf_dir, docs, duck):
    """quality -> exact dedup -> split replicated in DuckDB: identical
    surviving (doc_id, split) sets."""
    from mysql_to_s3_spark.operators.sampling import hash_split_sql
    from mysql_to_s3_spark.queries import _SQL_FP, _text_quality_sql  # noqa: PLC2701

    cfg = CorpusConfig(min_quality=0.8, exact=True, splits={"train": 0.9, "val": 0.1})
    got = {
        (r.doc_id, r.split)
        for r in prepare_corpus(docs, cfg).docs.select("doc_id", "split").collect()
    }
    quality_sql = _text_quality_sql()
    want = set(
        duck.execute(
            f"""
            WITH q AS ({quality_sql}),
                 kept AS (SELECT d.doc_id, d.text FROM documents d
                          JOIN q ON q.doc_id = d.doc_id WHERE q.quality >= 0.8),
                 fp AS (SELECT doc_id, {_SQL_FP} AS f FROM kept),
                 keepers AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
            SELECT doc_id, {hash_split_sql('doc_id', {'train': 0.9, 'val': 0.1})} AS split
            FROM keepers
            """
        ).fetchall()
    )
    assert got == want


def test_disabled_stages_are_identity(spark, docs):
    cfg = CorpusConfig(exact=False)
    prep = prepare_corpus(docs, cfg)
    assert [n for n, _ in prep.stages] == ["input"]
    assert prep.docs is docs


def test_decontam_requires_bench(docs):
    with pytest.raises(PipelineError, match="bench"):
        prepare_corpus(docs, CorpusConfig(decontam_threshold=0.5))


def test_unknown_near_dup_strategy(docs):
    with pytest.raises(PipelineError, match="near_dup"):
        prepare_corpus(docs, CorpusConfig(near_dup="nosuch")).docs.count()


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    """Shards partition by pack bucket; within a file, rows arrive in
    (seq_no, start_off) order and every sequence is complete (token
    sums match the packer's assignment)."""
    from mysql_to_s3_spark.operators.packing import pack_assignments

    src = docs.limit(200).cache()
    out = str(tmp_path / "packed")
    write_training_shards(src, out, budget=256, n_buckets=4)

    files = sorted(glob.glob(os.path.join(out, "bucket=*", "part-*")))
    assert files, "no shard files written"
    buckets = {os.path.basename(os.path.dirname(f)) for f in files}
    assert all(b.startswith("bucket=") for b in buckets)

    # per-file ordering: the writer's sortWithinPartitions must survive
    rows_by_bucket: dict[int, list[dict]] = {}
    for f in files:
        b = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        with open(f) as fh:
            recs = [json.loads(line) for line in fh]
        order = [(r["seq_no"], r["start_off"]) for r in recs]
        assert order == sorted(order), f"rows out of order in {f}"
        rows_by_bucket.setdefault(b, []).extend(recs)

    # completeness: same (doc -> bucket, seq, off) assignment as the packer
    asg = {
        r.doc_id: (r.bucket, r.seq_no, r.start_off)
        for r in pack_assignments(src, budget=256, n_buckets=4).collect()
    }
    got = {
        json.loads(r["doc"])["doc_id"]: (b, r["seq_no"], r["start_off"])
        for b, recs in rows_by_bucket.items()
        for r in recs
    }
    assert got == asg

    # shuffle story: ONE hash exchange (the packer's window shuffle,
    # carrying the payload — no join-back, no repartition). Asserted on
    # the un-limited source; the limit(200) test frame above collapses
    # to a single partition, which would elide the window exchange.
    from mysql_to_s3_spark.operators.packing import pack_assignments as pa

    packed = (
        pa(docs, budget=256, n_buckets=4, keep_cols=("text",))
        .select("bucket", "seq_no", "start_off", "n_tokens",
                F.to_json(F.struct("doc_id", "text")).alias("doc"))
        .sortWithinPartitions("bucket", "seq_no", "start_off")
    )
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(bucket" in plan, plan
    src.unpersist()


def test_mixture_stage(spark, docs):
    """Stratified downsample drops the excluded stratum and keeps ~rate
    of the rest, between dedup and decontam in the stage order."""
    src = docs.withColumn(
        "domain", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("books")
    )
    cfg = CorpusConfig(
        exact=True,
        mixture_rates={"books": 1.0, "web": 0.4},
        strata_col="domain",
        splits={"train": 1.0},
    )
    prep = prepare_corpus(src, cfg)
    assert [n for n, _ in prep.stages] == ["input", "exact_dedup", "mixture", "split"]
    pre = dict(prep.stages)["exact_dedup"]
    n_books_pre = pre.filter(F.col("domain") == "books").count()
    counts = dict(prep.docs.groupBy("domain").count().collect())
    assert counts["books"] == n_books_pre  # rate 1.0 keeps everything
    n_web_pre = pre.filter(F.col("domain") == "web").count()
    assert 0 < counts["web"] < n_web_pre


def test_prepare_corpus_stream_matches_batch_semantics(spark, tmp_path):
    """The streaming pipeline applies the same gates/dedup/decontam/split
    over micro-batches: re-arrivals are dropped, contaminated docs are
    dropped, the split labels equal the batch hash_split."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    src = str(tmp_path / "stream_src")
    _os.makedirs(src, exist_ok=True)
    good = "the quick brown fox jumps over the lazy dog and then it rests for a while"
    bench_text = "held out evaluation document that must never leak into the corpus at all"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]
            ).astype("datetime64[us]"),
            "text": [good, "!!% ^&* ()!", bench_text],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "doc_id": [4, 5],
            "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:10:01"]).astype(
                "datetime64[us]"
            ),
            "text": [good, "some other perfectly fine document with many plain words in it here"],
        }
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    cfg = CorpusConfig(
        min_quality=0.5,
        exact=True,
        decontam_threshold=0.8,
        splits={"train": 0.5, "val": 0.5},
    )
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts", bench_rows=[(99, bench_text)])
    q = (
        out.writeStream.format("memory")
        .queryName("corpus_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["split"] for r in spark.sql("SELECT * FROM corpus_stream").collect()}
    # 2 fails quality, 3 is contaminated, 4 re-arrives doc 1's text
    assert set(rows) == {1, 5}
    from mysql_to_s3_spark.operators.sampling import hash_split

    want = {
        r.doc_id: r.s
        for r in spark.createDataFrame([(1,), (5,)], "doc_id long")
        .select("doc_id", hash_split(F.col("doc_id"), {"train": 0.5, "val": 0.5}).alias("s"))
        .collect()
    }
    assert rows == want


def test_prepare_corpus_stream_rejects_near_dup(spark):
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    with pytest.raises(PipelineError, match="near_dup"):
        prepare_corpus_stream(None, CorpusConfig(near_dup="minhash"))


def test_chunk_then_shard_composition(spark, docs, tmp_path):
    """chunk_documents -> write_training_shards: every chunk lands in a
    shard exactly once under its composite chunk id."""
    from mysql_to_s3_spark.operators.packing import chunk_documents

    src = docs.limit(50)
    chunks = chunk_documents(src, max_tokens=32, overlap=4).withColumn(
        "chunk_id", F.concat_ws("#", "doc_id", "chunk_idx")
    )
    out = str(tmp_path / "chunk_shards")
    write_training_shards(chunks, out, budget=128, n_buckets=2,
                          id_col="chunk_id", text_col="chunk_text")
    files = glob.glob(os.path.join(out, "bucket=*", "part-*"))
    got = [json.loads(line)["doc"] for f in files for line in open(f)]
    ids = [json.loads(d)["chunk_id"] for d in got]
    assert len(ids) == len(set(ids)) == chunks.count()


def test_index_dedup_stage(spark, docs, tmp_path):
    """With index_path set, the pipeline drops docs the persisted corpus
    index already holds (incremental ingest)."""
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "corpus_idx")
    write_dedup_index(old, path)

    cfg = CorpusConfig(exact=True, index_path=path, near_threshold=0.9)
    prep = prepare_corpus(new, cfg)
    assert [n for n, _ in prep.stages] == ["input", "exact_dedup", "index_dedup"]
    kept = {r.doc_id for r in prep.docs.select("doc_id").collect()}
    from mysql_to_s3_spark.operators.dedup_index import dedup_index_pairs

    hits = {r.new_id for r in dedup_index_pairs(new, path, threshold=0.9).collect()}
    assert kept == {r.doc_id for r in new.select("doc_id").collect()} - hits
    assert hits  # the corpus has cross-parity near-dups


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_audit_names_the_dropping_stage(spark, docs):
    """audit() partitions the dropped docs exactly: every input doc is
    either in the final corpus or audited with the stage that dropped
    it, and each audited doc really is absent from that stage on."""
    bench = (
        docs.orderBy("doc_id").limit(3).select("doc_id", "text")
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    cfg = CorpusConfig(
        min_quality=0.8, exact=True, near_dup="minhash",
        decontam_threshold=0.8, splits={"train": 1.0},
    )
    prep = prepare_corpus(docs, cfg, bench=bench)
    audit = {r.doc_id: r.dropped_at for r in prep.audit().collect()}
    final_ids = {r.doc_id for r in prep.docs.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    # partition: dropped ∪ survived == input, disjoint
    assert set(audit) | final_ids == all_ids
    assert not set(audit) & final_ids
    # stage attribution agrees with the per-stage frames
    stages = dict(prep.stages)
    for doc_id, stage in audit.items():
        ids_at_stage = {r.doc_id for r in stages[stage].select("doc_id").collect()}
        assert doc_id not in ids_at_stage
    # at least quality and one dedup stage actually dropped something
    assert {"quality", "near_dedup"} <= set(audit.values())
    # pass-through config: empty audit frame, not an error
    empty = prepare_corpus(docs, CorpusConfig(exact=False)).audit()
    assert empty.count() == 0 and set(empty.columns) == {"doc_id", "dropped_at"}


def test_pack_drop_audit_contract(spark, docs, tmp_path):
    """The shard writer's ONE silent truncation point — pack's
    zero-token drop — is returned as an audit frame composable with
    PreparedCorpus.audit(): every input doc is accounted for exactly
    once across {written to shards} + {pipeline audit} + {pack audit},
    including empty-text and null-text docs that survive the pipeline
    stages but carry no tokens."""
    src = (
        docs.limit(50)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(9_000_001, ""), (9_000_002, "   "), (9_000_003, None)],
                "doc_id: long, text: string",
            )
        )
    )
    # no quality gate: the token-less docs must REACH the pack stage
    prep = prepare_corpus(src, CorpusConfig(exact=True))
    out = str(tmp_path / "audited_pack")
    pack_dropped = write_training_shards(prep.docs, out, budget=256, n_buckets=4)

    written_ids = {
        json.loads(r["doc"])["doc_id"]
        for f in glob.glob(os.path.join(out, "bucket=*", "part-*"))
        for r in map(json.loads, open(f))
        for r in [r]
    }
    full_audit = prep.audit().unionByName(pack_dropped).collect()
    audit_ids = [r.doc_id for r in full_audit]
    assert len(audit_ids) == len(set(audit_ids)), "doc audited twice"
    all_ids = {r.doc_id for r in src.select("doc_id").collect()}
    assert written_ids | set(audit_ids) == all_ids
    assert written_ids & set(audit_ids) == set()
    by_reason = {r.doc_id: r.dropped_at for r in full_audit}
    assert by_reason[9_000_001] == "pack_empty"
    # the whitespace doc exact-dedups against the empty doc (fingerprints
    # normalize whitespace; min-id keeper) — visible at the EARLIER stage
    assert by_reason[9_000_002] == "exact_dedup"
    assert by_reason[9_000_003] == "pack_empty"


def test_lm_gate_batch_and_stream_agree(spark, tmp_path):
    """The perplexity gate drops the same docs in batch (lazy join mode,
    self-fit or supplied counts) and in streaming (pretrained broadcast
    scorer): a gibberish doc scores far below the corpus-typical docs
    under a model fit on typical text; the stream REQUIRES lm_rows."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.lm import unigram_counts, unigram_logprob
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    typical = [
        "the quick brown fox jumps over the lazy dog",
        "the lazy dog rests under the brown tree",
        "a quick fox and the brown dog play in the sun",
    ]
    weird = "zxqj vvkpw qqzzt xjvkq wwpqz"
    docs = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(typical)] + [(9, weird), (10, "")],
        "doc_id: long, text: string",
    )
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(typical)], "doc_id: long, text: string"
    )
    cnt = unigram_counts(ref)
    scores = {
        r.doc_id: r.lm_logprob
        for r in unigram_logprob(docs, cnt).collect()
    }
    # threshold between the typical docs' scores and the gibberish doc's
    cut = (max(scores[9], -1e9) + min(scores[i + 1] for i in range(3))) / 2
    cfg = CorpusConfig(min_lm_logprob=cut, exact=False)
    prep = prepare_corpus(docs, cfg, lm_counts=cnt)
    assert {r.doc_id for r in prep.docs.collect()} == {1, 2, 3}
    # the token-free doc fails the gate and is audited at the lm stage
    audit = {r.doc_id: r.dropped_at for r in prep.audit().collect()}
    assert audit == {9: "lm", 10: "lm"}

    src = str(tmp_path / "lm_stream")
    _os.makedirs(src, exist_ok=True)
    pdf = docs.toPandas()
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    pdf.to_parquet(src + "/a.parquet")
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema)
    lm_rows = [(r.token, r.n) for r in cnt.collect()]
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts", lm_rows=lm_rows)
    q = (
        out.writeStream.format("memory")
        .queryName("lm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM lm_stream").collect()}
    assert got == {1, 2, 3}

    with pytest.raises(PipelineError, match="lm_rows"):
        prepare_corpus_stream(sdf, cfg, ts_col="ts")


def test_boilerplate_stage_rewrites_before_gates(spark):
    """strip_boilerplate runs FIRST: the shared footer is removed before
    quality scoring, so a doc judged on its real content survives a gate
    its boilerplate-padded form would fail differently."""
    footer = "! ! ! ! ! ! ! ! ! !"  # pure punctuation: tanks quality
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today\n" + footer, "en"),
        (2, "a second real document with the usual words in it\n" + footer, "en"),
        (3, footer, "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    prepared = prepare_corpus(
        df,
        CorpusConfig(strip_boilerplate=True, min_quality=0.5, exact=False),
    )
    names = [n for n, _ in prepared.stages]
    assert names[:3] == ["input", "boilerplate", "quality"]
    out = {r["doc_id"]: r["text"] for r in prepared.docs.collect()}
    assert set(out) == {1, 2}
    assert footer not in out[1] and footer not in out[2]
    # doc 3 was nothing but boilerplate -> emptied -> failed quality;
    # the audit pins the drop on the quality stage, not the rewrite
    audit = {r["doc_id"]: r["dropped_at"] for r in prepared.audit().collect()}
    assert audit == {3: "quality"}


def test_span_gate_drops_heavy_overlap_after_dedup(spark):
    """max_dup_span_frac runs after exact dedup: a doc overlapping only
    its own exact duplicate is NOT penalized once the dup is gone."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    doc1 = base + " lambda mu nu xi omicron pi rho sigma"  # 16 tokens
    rows = [
        (1, doc1, "en"),
        (2, doc1, "en"),  # exact duplicate of 1 -> removed by exact dedup
        (3, "unrelated words entirely fresh content here now", "en"),
        (4, base + " iota kappa", "en"),  # mostly the shared run
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    prepared = prepare_corpus(
        df,
        CorpusConfig(exact=True, max_dup_span_frac=0.5, span_k=5),
    )
    kept = {r["doc_id"] for r in prepared.docs.select("doc_id").collect()}
    # doc 1 survives exact dedup (min id) and the gate: only the 4
    # base-run windows of its 12 are shared (0.333 <= 0.5). The gate is
    # SYMMETRIC — doc 4 is 4-of-6 shared (0.667 > 0.5) and is dropped
    # even though doc 1 keeps the run: this is a boilerplate-heaviness
    # filter, not a keep-one-per-cluster dedup (that is near_dup's job).
    assert kept == {1, 3}
    audit = {r["doc_id"]: r["dropped_at"] for r in prepared.audit().collect()}
    assert audit[2] == "exact_dedup" and audit[4] == "span_dedup"


def test_prepare_corpus_stream_rejects_corpus_global_stages(spark):
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    with pytest.raises(PipelineError, match="CORPUS-GLOBAL"):
        prepare_corpus_stream(None, CorpusConfig(strip_boilerplate=True))
    with pytest.raises(PipelineError, match="CORPUS-GLOBAL"):
        prepare_corpus_stream(None, CorpusConfig(max_dup_span_frac=0.2))


# -- SemDeDup stage ------------------------------------------------------


def _emb_docs(spark):
    # two semantically-identical docs (1, 2) with distinct text, one
    # distant doc (3); embeddings ride the corpus frame
    rows = [
        (1, "alpha beta gamma words", [1.0, 0.0, 0.0, 0.0]),
        (2, "totally different words", [0.999, 0.01, 0.0, 0.0]),
        (3, "third doc entirely", [0.0, 1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, embedding array<float>"
    )


def test_prepare_corpus_semantic_dedup_stage(spark):
    docs = _emb_docs(spark)
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    prep = prepare_corpus(
        docs,
        CorpusConfig(exact=False, semantic_threshold=0.99),
        semantic_centroids=cents,
    )
    kept = {r["doc_id"] for r in prep.docs.collect()}
    assert 3 in kept and len(kept & {1, 2}) == 1
    audit = {r["doc_id"]: r["dropped_at"] for r in prep.audit().collect()}
    (dropped,) = {1, 2} - kept
    assert audit == {dropped: "semantic_dedup"}


def test_prepare_corpus_semantic_requires_embedding_col(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    with pytest.raises(PipelineError, match="embedding"):
        prepare_corpus(docs, CorpusConfig(exact=False, semantic_threshold=0.9))


def test_prepare_corpus_stream_rejects_semantic(spark):
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    with pytest.raises(PipelineError, match="SemDeDup"):
        prepare_corpus_stream(None, CorpusConfig(semantic_threshold=0.9))


# ---------------------------------------------------------------------------
# shard manifest + integrity verification


def test_shard_manifest_roundtrip_and_tamper(spark, docs, tmp_path):
    """manifest=True writes a per-bucket receipt; verify_shards is empty
    on intact files and flags exactly the tampered bucket on a byte
    flip, an appended row, or a deleted shard file."""
    import glob as _glob
    import json as _json
    import os as _os

    from mysql_to_s3_spark.pipeline import (
        MANIFEST_NAME,
        verify_shards,
        write_training_shards,
    )

    out = str(tmp_path / "packed_m")
    write_training_shards(
        docs.limit(120), out, budget=256, n_buckets=4, manifest=True
    )
    mpath = _os.path.join(out, MANIFEST_NAME)
    assert _os.path.exists(mpath)
    stats = _json.load(open(mpath))["buckets"]
    assert {b["bucket"] for b in stats} <= {0, 1, 2, 3}
    assert sum(b["n_docs"] for b in stats) == 120
    assert all(b["tokens_total"] > 0 for b in stats)

    # intact -> no mismatches
    assert verify_shards(spark, out) == []

    files = sorted(_glob.glob(_os.path.join(out, "bucket=*", "part-*")))
    assert files
    victim = files[0]
    vbucket = int(_os.path.basename(_os.path.dirname(victim)).split("=")[1])

    # drop Hadoop's local-FS .crc sidecars: they exist only on local
    # disk (an object store has none) and would mask the tamper with a
    # ChecksumException before the manifest gate ever sees the data
    for crc in _glob.glob(_os.path.join(out, "bucket=*", ".*.crc")):
        _os.remove(crc)

    # 1) append a forged row -> n_docs and sig change for that bucket
    original = open(victim).read()
    forged = _json.loads(original.splitlines()[0])
    forged["start_off"] = forged["start_off"] + 10_000_000
    with open(victim, "a") as f:
        f.write(_json.dumps(forged) + "\n")
    bad = verify_shards(spark, out)
    assert [m["bucket"] for m in bad] == [vbucket]
    assert bad[0]["found"]["n_docs"] == bad[0]["expected"]["n_docs"] + 1

    # 2) restore, then flip payload bytes only (same row count) -> sig-only
    with open(victim, "w") as f:
        f.write(original)
    assert verify_shards(spark, out) == []
    rec = _json.loads(original.splitlines()[0])
    rec["doc"] = rec["doc"][:-1] + ("X" if not rec["doc"].endswith("X") else "Y")
    lines = original.splitlines()
    lines[0] = _json.dumps(rec)
    with open(victim, "w") as f:
        f.write("\n".join(lines) + "\n")
    bad = verify_shards(spark, out)
    assert [m["bucket"] for m in bad] == [vbucket]
    assert bad[0]["found"]["n_docs"] == bad[0]["expected"]["n_docs"]
    assert bad[0]["found"]["sig"] != bad[0]["expected"]["sig"]

    # 3) delete the file -> bucket shrinks or vanishes, still flagged
    _os.remove(victim)
    bad = verify_shards(spark, out)
    assert vbucket in {m["bucket"] for m in bad}


def test_verify_shards_requires_manifest(spark, docs, tmp_path):
    import pytest as _pytest

    from mysql_to_s3_spark.pipeline import PipelineError, verify_shards, write_training_shards

    out = str(tmp_path / "packed_nm")
    write_training_shards(docs.limit(30), out, budget=256, n_buckets=2)
    with _pytest.raises(PipelineError):
        verify_shards(spark, out)


# ---------------------------------------------------------------------------
# model-based classifier gate in the pipeline


def test_prepare_corpus_classifier_stage(spark):
    """classifier_accept gates through the fitted model; drops land in
    the audit under 'classifier'; missing model raises."""
    from mysql_to_s3_spark.operators.classifier import train_text_classifier
    from mysql_to_s3_spark.pipeline import PipelineError, prepare_corpus

    good = [
        "the committee published a thorough report on regional water quality",
        "researchers measured the effect of irrigation on crop yield over time",
        "the library catalog lists every volume acquired since the founding",
    ]
    spam = [
        "click here buy now cheap pills best price click click buy buy",
        "winner winner free prize claim now click here free free prize",
        "cheap deals buy now limited offer click buy cheap cheap deals",
    ]
    labeled = spark.createDataFrame(
        [(i, t, "good") for i, t in enumerate(good)]
        + [(100 + i, t, "spam") for i, t in enumerate(spam)],
        "doc_id bigint, text string, label string",
    )
    clf = train_text_classifier(labeled, "label", n_features=1 << 12)

    corpus = labeled.drop("label")
    cfg = CorpusConfig(classifier_accept=("good",), classifier_min_score=0.5, exact=False)
    prep = prepare_corpus(corpus, cfg, classifier=clf)
    assert {r["doc_id"] for r in prep.docs.collect()} == {0, 1, 2}
    audit = {r["doc_id"]: r["dropped_at"] for r in prep.audit().collect()}
    assert audit == {100: "classifier", 101: "classifier", 102: "classifier"}
    assert [n for n, _ in prep.stages] == ["input", "classifier"]

    with pytest.raises(PipelineError):
        prepare_corpus(corpus, cfg)  # no model supplied


def test_prepare_corpus_stream_classifier_gate(spark, tmp_path):
    """The same model gates a readStream frame (row-wise JVM transform
    commutes with micro-batching); missing model raises."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.classifier import train_text_classifier
    from mysql_to_s3_spark.pipeline import PipelineError, prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    good = "the committee published a thorough report on regional water quality"
    spam = "click here buy now cheap pills best price click click buy buy"
    labeled = spark.createDataFrame(
        [(1, good, "good"), (2, spam, "spam"),
         (3, "researchers measured the effect of irrigation on crops", "good"),
         (4, "winner winner free prize claim now click here free prize", "spam")],
        "doc_id bigint, text string, label string",
    )
    clf = train_text_classifier(labeled, "label", n_features=1 << 12)

    src = str(tmp_path / "cls_stream_src")
    _os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [10, 11],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02"]
            ).astype("datetime64[us]"),
            "text": [good, spam],
        }
    ).to_parquet(src + "/a.parquet")
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    cfg = CorpusConfig(classifier_accept=("good",), exact=False)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts", classifier=clf)
    q = (
        out.writeStream.format("memory")
        .queryName("cls_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM cls_stream").collect()}
    assert got == {10}

    with pytest.raises(PipelineError):
        prepare_corpus_stream(sdf, cfg, ts_col="ts")


def test_read_training_sequences_matches_pack_stats(spark, docs, tmp_path):
    """The reconstructed sequences agree with pack_stats exactly, and
    each sequence's docs come back in start_off order."""
    import json as _json

    from mysql_to_s3_spark.operators.packing import pack_assignments, pack_stats
    from mysql_to_s3_spark.pipeline import read_training_sequences

    src = docs.limit(150).cache()
    out = str(tmp_path / "packed_r")
    write_training_shards(src, out, budget=256, n_buckets=4)

    seqs = read_training_sequences(spark, out)
    got = {
        (r["bucket"], r["seq_no"]): (r["n_docs"], r["tokens_total"], r["docs"])
        for r in seqs.collect()
    }
    want = {
        (r["bucket"], r["seq_no"]): (r["n_docs"], r["tokens_total"])
        for r in pack_stats(src, budget=256, n_buckets=4).collect()
    }
    assert set(got) == set(want)
    for k, (n, tot) in want.items():
        gn, gtot, gdocs = got[k]
        assert (gn, gtot) == (n, tot)
        assert len(gdocs) == n

    # per-sequence doc order == start_off order from the packer
    asg = pack_assignments(src, budget=256, n_buckets=4).collect()
    order = {}
    for r in sorted(asg, key=lambda r: (r["bucket"], r["seq_no"], r["start_off"])):
        order.setdefault((r["bucket"], r["seq_no"]), []).append(r["doc_id"])
    for k, (_, _, gdocs) in got.items():
        ids = [_json.loads(d)["doc_id"] for d in gdocs]
        assert ids == order[k], k
    src.unpersist()


def test_classifier_probability_mode(spark):
    """GPT-3 idiom: gate on P(one label) >= t even when another label
    wins the argmax; exactly-one-accept enforced; bad mode rejected."""
    from mysql_to_s3_spark.operators.classifier import (
        label_probability,
        train_text_classifier,
    )
    from mysql_to_s3_spark.pipeline import PipelineError, prepare_corpus

    good = [
        "the committee published a thorough report on regional water quality",
        "researchers measured the effect of irrigation on crop yield over time",
    ]
    spam = [
        "click here buy now cheap pills best price click click buy buy",
        "winner winner free prize claim now click here free free prize",
    ]
    mixed = "the committee report click here buy now cheap offer on water quality"
    labeled = spark.createDataFrame(
        [(i, t, "good") for i, t in enumerate(good)]
        + [(100 + i, t, "spam") for i, t in enumerate(spam)],
        "doc_id bigint, text string, label string",
    )
    clf = train_text_classifier(labeled, "label", n_features=1 << 12)
    corpus = labeled.drop("label").union(
        spark.createDataFrame([(50, mixed)], "doc_id bigint, text string")
    )
    # pick a threshold below the mixed doc's P(good): probability mode
    # must keep it regardless of which label wins the argmax
    p_mixed = (
        label_probability(corpus, clf, "good", out_col="p")
        .filter(F.col("doc_id") == 50)
        .first()["p"]
    )
    t = max(0.0, p_mixed - 0.05)
    cfg = CorpusConfig(
        classifier_accept=("good",),
        classifier_min_score=t,
        classifier_mode="probability",
        exact=False,
    )
    kept = {
        r["doc_id"]
        for r in prepare_corpus(corpus, cfg, classifier=clf).docs.collect()
    }
    assert 50 in kept and {0, 1} <= kept

    with pytest.raises(PipelineError, match="ONE label"):
        prepare_corpus(
            corpus,
            CorpusConfig(
                classifier_accept=("good", "spam"),
                classifier_mode="probability",
                exact=False,
            ),
            classifier=clf,
        ).docs.count()
    with pytest.raises(PipelineError, match="classifier_mode"):
        prepare_corpus(
            corpus,
            CorpusConfig(
                classifier_accept=("good",), classifier_mode="nope", exact=False
            ),
            classifier=clf,
        ).docs.count()


def test_probability_gate_rejects_cls_p_collision(spark):
    from mysql_to_s3_spark.operators.classifier import train_text_classifier
    from mysql_to_s3_spark.pipeline import PipelineError, prepare_corpus

    labeled = spark.createDataFrame(
        [(1, "plain words here", "good"), (2, "click buy now", "spam")],
        "doc_id bigint, text string, label string",
    )
    clf = train_text_classifier(labeled, "label", n_features=1 << 10, max_iter=5)
    corpus = labeled.drop("label").withColumn("__cls_p__", F.lit(1.0))
    with pytest.raises(PipelineError, match="__cls_p__"):
        prepare_corpus(
            corpus,
            CorpusConfig(
                classifier_accept=("good",), classifier_mode="probability", exact=False
            ),
            classifier=clf,
        ).docs.count()


def test_write_training_shards_with_bpe_lengths(spark, docs, tmp_path):
    """n_tokens_col pass-through: shards pack on the BPE length and the
    pack-empty audit mirrors the same length source."""
    import json as _json

    from mysql_to_s3_spark.operators.bpe import bpe_token_count, bpe_train
    from mysql_to_s3_spark.operators.packing import pack_assignments

    src = docs.limit(80).select("doc_id", "text")
    model = bpe_train(src, n_merges=20, max_words=5000)
    sized = bpe_token_count(src, model).unionByName(
        spark.createDataFrame([(999_001, None, None)], sized_schema := "doc_id bigint, text string, n_bpe_tokens bigint")
    )
    out = str(tmp_path / "packed_bpe")
    audit = write_training_shards(
        sized, out, budget=128, n_buckets=2, n_tokens_col="n_bpe_tokens"
    )
    assert {(r["doc_id"], r["dropped_at"]) for r in audit.collect()} == {
        (999_001, "pack_empty")
    }
    import glob as _glob
    import os as _os

    got = {}
    for f in _glob.glob(_os.path.join(out, "bucket=*", "part-*")):
        for line in open(f):
            r = _json.loads(line)
            got[_json.loads(r["doc"])["doc_id"]] = r["n_tokens"]
    want = {
        r["doc_id"]: r["n_tokens"]
        for r in pack_assignments(
            sized, n_tokens_col="n_bpe_tokens", budget=128, n_buckets=2
        ).collect()
    }
    assert got == want  # shards carry the BPE lengths, not regex counts


def test_split_leakage_audit(spark, docs):
    """A prepare_corpus run (near-dup removal BEFORE split) is leak-free;
    splitting an un-deduped corpus with planted cross-split dups is not."""
    from mysql_to_s3_spark.operators.sampling import hash_split
    from mysql_to_s3_spark.pipeline import PipelineError, split_leakage

    cfg = CorpusConfig(
        exact=True, near_dup="minhash", near_threshold=0.8,
        splits={"train": 0.5, "val": 0.5},
    )
    clean = prepare_corpus(docs.limit(300), cfg).docs
    assert split_leakage(clean, threshold=0.8).count() == 0

    # plant exact duplicates with ids chosen to land in DIFFERENT splits
    base = docs.limit(50).select("doc_id", "text")
    rates = {"train": 0.5, "val": 0.5}
    labeled = base.withColumn("split", hash_split(F.col("doc_id"), rates))
    twins = (
        base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("split", hash_split(F.col("doc_id"), rates))
    )
    leaky = labeled.unionByName(twins)
    got = split_leakage(leaky, threshold=0.9)
    rows = got.collect()
    assert rows, "planted cross-split duplicates must be reported"
    for r in rows:
        assert r["split_a"] != r["split_b"]
        assert r["jaccard"] >= 0.9

    with pytest.raises(PipelineError, match="split"):
        split_leakage(base)


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_prepare_corpus_stream_matches_batch_with_model_gates(spark, tmp_path):
    """r7: the stream==batch equivalence extended to the MODEL gates —
    the probability-mode classifier (GPT-3 quality-gate idiom) and the
    pretrained unigram-LM perplexity gate run in BOTH pipeline forms
    (batch: lm_counts frame + join mode; stream: collected lm_rows +
    the broadcast-dict scorer) and must keep exactly the same docs with
    the same split labels. Each gate provably fires: the batch stages
    attribute one drop to the classifier (spam), one to the LM (OOV
    gibberish), one to exact dedup (re-arrived text)."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.classifier import train_text_classifier
    from mysql_to_s3_spark.operators.lm import unigram_counts
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

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
    labeled = spark.createDataFrame(
        [(i, t, "good") for i, t in enumerate(GOOD)]
        + [(100 + i, t, "spam") for i, t in enumerate(SPAM)],
        "doc_id bigint, text string, label string",
    )
    clf = train_text_classifier(labeled, "label", n_features=1 << 12, max_iter=25)
    counts = unigram_counts(labeled.filter("label = 'good'"))
    lm_rows = [(r.token, r.n) for r in counts.collect()]

    d1 = "the committee measured the water quality report for the council"
    d2 = "click here winner free prize buy now cheap pills claim prize"  # classifier
    d3 = "zxqv qwvm jjkl plmn vvbx nnmq rrty uuio ppas ddfg hhjk llzx"  # lm (OOV)
    d5 = "engineers presented the detailed analysis of the bridge program"
    cfg = CorpusConfig(
        classifier_accept=("good",),
        classifier_mode="probability",
        classifier_min_score=0.4,  # d3 scores ~0.51 — must reach the LM gate
        min_lm_logprob=-6.0,  # in-vocab docs ~-5.15; d3 all-OOV ~-6.78
        exact=True,
        splits={"train": 0.5, "val": 0.5},
    )

    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d1), (5, d5)], "doc_id bigint, text string"
    )
    prep = prepare_corpus(docs, cfg, lm_counts=counts, classifier=clf)
    batch = {r["doc_id"]: r["split"] for r in prep.docs.collect()}
    assert set(batch) == {1, 5}
    dropped = {r["doc_id"]: r["dropped_at"] for r in prep.audit().collect()}
    assert dropped == {2: "classifier", 3: "lm", 4: "exact_dedup"}

    src = str(tmp_path / "model_gate_stream")
    _os.makedirs(src, exist_ok=True)
    ts = pd.to_datetime(
        ["2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]
    ).astype("datetime64[us]")
    pd.DataFrame({"doc_id": [1, 2, 3], "ts": ts[:3], "text": [d1, d2, d3]}).to_parquet(
        src + "/a.parquet"
    )
    pd.DataFrame({"doc_id": [4, 5], "ts": ts[:2], "text": [d1, d5]}).to_parquet(
        src + "/b.parquet"
    )
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts", lm_rows=lm_rows, classifier=clf)
    q = (
        out.writeStream.format("memory")
        .queryName("model_gate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {
        r["doc_id"]: r["split"]
        for r in spark.sql("SELECT * FROM model_gate_stream").collect()
    }
    assert stream == batch


def test_split_leakage_audit_contract(spark):
    """r7: PreparedCorpus.leakage() — the post-split leakage audit.
    With near-dup removal OFF, a near-duplicate family split across
    labels surfaces as straddling pairs; with near_dup configured at
    the audit's threshold the run is clean BY CONSTRUCTION (one doc
    per cluster survives before the split); without cfg.splits the
    audit refuses."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two"
    )
    rows = [(i, f"{base} variant{i}") for i in range(1, 7)]
    rows.append((50, "a completely different document about bridges and rivers here"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    splits = {"train": 0.5, "val": 0.5}

    # dedup OFF: the family survives intact and straddles the split
    prep = prepare_corpus(docs, CorpusConfig(exact=True, splits=splits))
    leaks = prep.leakage(threshold=0.8).collect()
    assert leaks, "near-dup family across splits must surface"
    assert all(r["split_a"] != r["split_b"] for r in leaks)
    assert all(r["jaccard"] >= 0.8 for r in leaks)

    # near-dup removal ON at the same threshold: clean by construction
    prep2 = prepare_corpus(
        docs,
        CorpusConfig(
            exact=True, near_dup="minhash", near_threshold=0.8, splits=splits
        ),
    )
    assert prep2.leakage(threshold=0.8).count() == 0

    # no split configured -> the audit refuses
    prep3 = prepare_corpus(docs, CorpusConfig(exact=True))
    with pytest.raises(PipelineError, match="split"):
        prep3.leakage()


def test_stream_write_training_shards(spark, tmp_path):
    """r7: the streaming shard writer packs each micro-batch into its
    own batch=<epoch>/bucket=* group with a per-batch manifest that
    verifies clean; every doc lands exactly once; sequences reconstruct
    per batch."""
    import glob as _glob
    import json as _json
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import (
        read_training_sequences,
        stream_write_training_shards,
        verify_shards,
    )
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    src = str(tmp_path / "shard_stream_src")
    _os.makedirs(src, exist_ok=True)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    ts = pd.to_datetime(["2024-01-01 00:00:01"] * 4).astype("datetime64[us]")
    pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "ts": ts,
         "text": [" ".join(words[: 2 + i]) for i in range(4)]}
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {"doc_id": [5, 6], "ts": ts[:2],
         "text": [" ".join(words), " ".join(reversed(words))]}
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    out = str(tmp_path / "stream_shards")
    q = stream_write_training_shards(
        sdf.select("doc_id", "text"), out, budget=8, n_buckets=2, manifest=True
    )
    q.processAllAvailable()
    q.stop()

    batches = sorted(_glob.glob(out + "/batch=*"))
    assert len(batches) == 2, batches
    got_ids = []
    for b in batches:
        assert verify_shards(spark, b) == []  # per-batch receipt gates clean
        for f in _glob.glob(b + "/bucket=*/part-*"):
            with open(f) as fh:
                got_ids += [
                    _json.loads(_json.loads(line)["doc"])["doc_id"] for line in fh
                ]
    assert sorted(got_ids) == [1, 2, 3, 4, 5, 6]  # exactly once, across batches

    # per-batch sequence reconstruction matches that batch's shard files
    seqs = read_training_sequences(spark, batches[0])
    assert seqs.count() > 0
    n_docs_b0 = sum(r["n_docs"] for r in seqs.collect())
    with open(batches[0] + "/_manifest.json") as fh:
        manifest = _json.load(fh)
    assert n_docs_b0 == sum(b["n_docs"] for b in manifest["buckets"])


def test_shard_write_replay_is_receipt_idempotent(spark, docs, tmp_path):
    """The foreachBatch replay contract: re-writing the same frame into
    the same epoch directory (mode=overwrite) reproduces the identical
    content receipt — same per-bucket n_docs/n_seqs/tokens_total/sig —
    so an at-least-once delivery never corrupts the receipt story."""
    from mysql_to_s3_spark.pipeline import _shard_stats, write_training_shards

    src = docs.limit(80).cache()
    out = str(tmp_path / "replayed_batch")
    write_training_shards(src, out, budget=256, n_buckets=4)
    first = _shard_stats(spark, out)
    write_training_shards(src, out, budget=256, n_buckets=4)  # the replay
    assert _shard_stats(spark, out) == first
    src.unpersist()


def test_repeat_epochs_then_shard_composition(spark, docs, tmp_path):
    """r7: the up-sampling mixture composes with the shard writer under
    a COMPOSITE id (doc_id#epoch_copy) — every (doc, copy) lands in the
    shards exactly once. (Duplicate raw ids would tie in the packer's
    offset window and alias onto one sequence slot — the documented
    contract in pack_assignments.)"""
    import glob as _glob
    import json as _json

    from mysql_to_s3_spark.operators.sampling import repeat_epochs

    src = docs.limit(60)
    rep = repeat_epochs(src, 2.45).withColumn(
        "rep_id", F.concat_ws("#", "doc_id", "epoch_copy")
    )
    n_rep = rep.count()
    assert n_rep > 2 * 60  # both full copies + some fractional third
    out = str(tmp_path / "rep_shards")
    write_training_shards(rep.select("rep_id", "text"), out,
                          budget=256, n_buckets=4, id_col="rep_id")
    landed = [
        _json.loads(_json.loads(line)["doc"])["rep_id"]
        for f in _glob.glob(out + "/bucket=*/part-*")
        for line in open(f)
    ]
    assert len(landed) == len(set(landed)) == n_rep


def test_verify_shards_rejects_stale_manifest_format(spark, docs, tmp_path):
    """r8 (ADVICE): a manifest written under an older sig recipe must
    fail as a clear FORMAT error naming write_shard_manifest — never as
    per-bucket corruption mismatches — and a current-format receipt
    still verifies clean after the round trip."""
    import json as _json
    import os as _os

    from mysql_to_s3_spark.pipeline import (
        MANIFEST_FORMAT,
        MANIFEST_NAME,
        PipelineError,
        verify_shards,
        write_training_shards,
    )

    out = str(tmp_path / "packed_fmt")
    write_training_shards(docs.limit(40), out, budget=256, n_buckets=2, manifest=True)
    mpath = _os.path.join(out, MANIFEST_NAME)
    manifest = _json.load(open(mpath))
    assert manifest["format"] == MANIFEST_FORMAT
    assert verify_shards(spark, out) == []

    # a format-1 receipt (bit_xor(xxhash64) era: no format key) and an
    # unknown future format both refuse with the re-run guidance
    crc = _os.path.join(out, "." + MANIFEST_NAME + ".crc")
    for stale in (
        {"buckets": manifest["buckets"]},
        {"format": MANIFEST_FORMAT + 1, "buckets": manifest["buckets"]},
    ):
        if _os.path.exists(crc):
            _os.remove(crc)  # hand-edited file: drop the Hadoop sidecar
        with open(mpath, "w") as f:
            f.write(_json.dumps(stale))
        with pytest.raises(PipelineError, match="format"):
            verify_shards(spark, out)


def test_split_leakage_filters_supplied_pairs_to_threshold(spark):
    """r8 (ADVICE): a caller-supplied pair frame generated at a looser
    threshold must still be filtered to the audit's threshold — an 0.8
    audit over 0.5-threshold pairs reports only >=0.8 straddlers."""
    from mysql_to_s3_spark.pipeline import split_leakage

    docs = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "test")],
        "doc_id bigint, split string",
    ).withColumn("text", F.lit("x"))
    pairs = spark.createDataFrame(
        [(1, 2, 0.95), (3, 4, 0.55)], "a bigint, b bigint, jaccard double"
    )
    got = split_leakage(docs, threshold=0.8, pairs=pairs).collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, 2)]
    assert got[0]["jaccard"] >= 0.8


def test_read_training_sequences_groups_per_batch_at_stream_root(spark, tmp_path):
    """r8 (ADVICE): reading a streamed shard tree at the STREAM ROOT
    surfaces the batch partition column and folds it into the sequence
    key, so same-(bucket, seq_no) sequences from different micro-batches
    never merge; per-(batch, bucket) doc totals match each batch's own
    manifest."""
    import json as _json
    import os as _os

    from mysql_to_s3_spark.pipeline import (
        read_training_sequences,
        write_training_shards,
    )

    # two "micro-batches" with colliding (bucket, seq_no) keys by
    # construction: same ids (same buckets), tiny budget
    out = str(tmp_path / "rooted_stream")
    frames = {
        0: spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
            "doc_id bigint, text string",
        ),
        1: spark.createDataFrame(
            [(1, "eta theta iota"), (2, "kappa lambda mu")],
            "doc_id bigint, text string",
        ),
    }
    for epoch, f in frames.items():
        write_training_shards(
            f, _os.path.join(out, f"batch={epoch}"), budget=8, n_buckets=2,
            manifest=True,
        )

    seqs = read_training_sequences(spark, out)
    assert "batch" in seqs.columns
    rows = seqs.collect()
    # no merged sequences: every (batch, bucket, seq_no) holds only docs
    # from its own batch, and totals per batch match the manifests
    for epoch in frames:
        manifest = _json.load(open(_os.path.join(out, f"batch={epoch}", "_manifest.json")))
        want = sum(b["n_docs"] for b in manifest["buckets"])
        got = sum(r["n_docs"] for r in rows if int(r["batch"]) == epoch)
        assert got == want == 2
    # the hazard case the docstring warns about: both batches present,
    # same (bucket, seq_no) space — without the batch key these 4 docs
    # would collapse into <=2 sequences
    keys = {(int(r["batch"]), int(r["bucket"]), int(r["seq_no"])) for r in rows}
    assert len(keys) == len(rows)
    collapsed = {(b, s) for _, b, s in keys}
    assert len(collapsed) < len(keys)


def test_multi_epoch_lifecycle_composition(spark, docs, tmp_path):
    """r8 (VERDICT #4): the full multi-epoch lifecycle — repeat_epochs
    (mixed per-stratum rates) -> epoch_shuffle keyed by doc_id#epoch_copy
    -> write_training_shards(manifest) -> verify_shards — composes
    exactly-once: every (doc, copy) the mixture emits lands in the shards
    once, the receipt verifies clean, and copies of one doc SCATTER in
    the trainer's (shard, pos) order (adjacent same-doc pairs stay at
    the uniform-hash chance level, the contract repeat_epochs' docstring
    promises via the composite key)."""
    from collections import defaultdict

    from mysql_to_s3_spark.operators.sampling import epoch_shuffle, repeat_epochs
    from mysql_to_s3_spark.pipeline import verify_shards, write_training_shards

    src = docs.limit(300).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "wiki").otherwise("web")
    )
    rep = repeat_epochs(src, {"wiki": 2.45, "web": 1.0}).withColumn(
        "rep_id", F.concat_ws("#", "doc_id", "epoch_copy")
    )
    n_rep = rep.count()
    assert n_rep > 300  # the wiki stratum repeats

    shuf = epoch_shuffle(rep, epoch=3, n_shards=4, id_col="rep_id")
    # copies-scatter: walk each shard in pos order; count adjacent pairs
    # that are copies of the SAME underlying doc. Uniform md5 placement
    # makes the expected count ~ sum_docs (c-1)/n_rows-ish; assert a
    # loose deterministic ceiling far below "copies ride adjacent"
    order = defaultdict(list)
    for r in shuf.select("shard", "pos", "doc_id").collect():
        order[r["shard"]].append((r["pos"], r["doc_id"]))
    adjacent = 0
    for shard_rows in order.values():
        shard_rows.sort()
        adjacent += sum(
            1 for a, b in zip(shard_rows, shard_rows[1:]) if a[1] == b[1]
        )
    assert adjacent <= max(3, n_rep // 100), f"copies ride adjacent: {adjacent}"

    out = str(tmp_path / "epoch_shards")
    write_training_shards(
        rep.select("rep_id", "text"), out, budget=256, n_buckets=4,
        id_col="rep_id", manifest=True,
    )
    assert verify_shards(spark, out) == []
    import glob as _glob
    import json as _json

    landed = [
        _json.loads(_json.loads(line)["doc"])["rep_id"]
        for f in _glob.glob(out + "/bucket=*/part-*")
        for line in open(f)
    ]
    assert len(landed) == len(set(landed)) == n_rep


def test_prepare_corpus_dsir_stage(spark):
    """r8: the DSIR importance gate keeps target-resembling docs and
    drops the rest; the stage shows in the funnel; missing target
    counts refuse with fit guidance; the self-fit source path and an
    explicit source frame agree."""
    from mysql_to_s3_spark.operators.dsir import hashed_ngram_counts

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox runs over the field"),
            (3, "der schnelle braune fuchs springt gerne"),
            (4, "el zorro marron salta sobre el perro"),
        ],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(100, "the quick brown fox and the lazy dog run over the field")],
        "doc_id bigint, text string",
    )
    tgt_counts = hashed_ngram_counts(target, n_buckets=256)
    # absolute DSIR weights are corpus-dependent (add-alpha smoothing
    # shifts everything on tiny fixtures); a real run picks the gate
    # threshold from the weight distribution — do the same here: the
    # en docs must outscore the foreign docs, gate at the midpoint
    from mysql_to_s3_spark.operators.dsir import dsir_logratio

    w = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(
            docs, tgt_counts, hashed_ngram_counts(docs, n_buckets=256),
            n_buckets=256,
        ).collect()
    }
    assert min(w[1], w[2]) > max(w[3], w[4])
    cut = (min(w[1], w[2]) + max(w[3], w[4])) / 2
    cfg = CorpusConfig(dsir_min_logratio=cut, dsir_buckets=256, exact=False)
    prep = prepare_corpus(docs, cfg, dsir_target_counts=tgt_counts)
    assert [n for n, _ in prep.stages] == ["input", "dsir"]
    kept = {r["doc_id"] for r in prep.docs.collect()}
    assert kept == {1, 2}  # english target-like docs only

    # explicit source == self-fit source (the same gated frame)
    src_counts = hashed_ngram_counts(docs, n_buckets=256)
    prep2 = prepare_corpus(
        docs, cfg, dsir_target_counts=tgt_counts, dsir_source_counts=src_counts
    )
    assert {r["doc_id"] for r in prep2.docs.collect()} == kept

    with pytest.raises(PipelineError, match="dsir_target_counts"):
        prepare_corpus(docs, cfg)


def test_prepare_corpus_stream_dsir_gate(spark, tmp_path):
    """r8: the DSIR gate's streaming form (broadcast-array Arrow scorer)
    keeps the same docs the batch gate keeps on the same data — with
    BOTH models pretrained; missing either refuses."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.operators.dsir import hashed_ngram_counts
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "der schnelle braune fuchs springt gerne heute"),
        (12, "the lazy dog runs over the quick field"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    target = spark.createDataFrame(
        [(100, "the quick brown fox and the lazy dog run over the field")],
        "doc_id bigint, text string",
    )
    tgt = hashed_ngram_counts(target, n_buckets=256)
    src = hashed_ngram_counts(docs, n_buckets=256)
    # threshold from the weight gap (absolute weights are smoothing-
    # shifted on tiny fixtures), far from any doc's score so the join
    # (batch) and arrow (stream) summations cannot straddle it
    from mysql_to_s3_spark.operators.dsir import dsir_logratio

    w = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(docs, tgt, src, n_buckets=256).collect()
    }
    cut = (w[11] + min(w[10], w[12])) / 2
    assert min(w[10], w[12]) > w[11]
    cfg = CorpusConfig(dsir_min_logratio=cut, dsir_buckets=256, exact=False)
    batch_kept = {
        r["doc_id"]
        for r in prepare_corpus(
            docs, cfg, dsir_target_counts=tgt, dsir_source_counts=src
        ).docs.collect()
    }

    sdir = str(tmp_path / "dsir_stream_src")
    _os.makedirs(sdir, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01 00:00:01"] * 3).astype(
                "datetime64[us]"
            ),
            "text": [r[1] for r in rows],
        }
    ).to_parquet(sdir + "/a.parquet")
    schema = spark.read.parquet(sdir).schema
    sdf = read_parquet_stream(spark, sdir, schema, max_files_per_trigger=1)
    out = prepare_corpus_stream(
        sdf, cfg, ts_col="ts", dsir_target_counts=tgt, dsir_source_counts=src
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dsir_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dsir_stream").collect()}
    assert got == batch_kept
    assert got  # the gate keeps something (non-degenerate fixture)

    with pytest.raises(PipelineError, match="dsir"):
        prepare_corpus_stream(sdf, cfg, ts_col="ts", dsir_target_counts=tgt)


def test_lm_tercile_gate(spark):
    """r8: CorpusConfig.lm_keep_buckets drops the most-perplexed tercile
    (CCNet head/middle keep); composes with the absolute cut; the
    streaming form rejects it (corpus-global quantiles)."""
    from mysql_to_s3_spark.operators.lm import perplexity_buckets, unigram_logprob
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    rows = [
        (i, " ".join(["common"] * 8) if i <= 6 else "zxq qqj vvk wwx yyz " + str(i))
        for i in range(1, 10)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cfg = CorpusConfig(lm_keep_buckets=("head", "middle"), exact=False)
    prep = prepare_corpus(docs, cfg)
    assert [n for n, _ in prep.stages] == ["input", "lm"]
    kept = {r["doc_id"] for r in prep.docs.collect()}
    # the expected keep set, derived independently from the operators
    want = {
        r["doc_id"]
        for r in perplexity_buckets(unigram_logprob(docs))
        .filter(F.col("ppl_bucket").isin("head", "middle"))
        .collect()
    }
    assert kept == want
    assert 0 < len(kept) < len(rows)  # the tail tercile really dropped
    # the repeated-token docs are the model's least perplexing
    assert all(i in kept for i in range(1, 7) if i in want)

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(PipelineError, match="lm_keep_buckets"):
        prepare_corpus_stream(sdf, cfg, ts_col="timestamp")


def test_strip_dup_spans_stage(spark):
    """r8: the span-strip rewrite stage removes every non-keeper copy of
    a cross-doc duplicated span while the keeper doc survives verbatim;
    the streaming form rejects the flag."""
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three"),
            (2, f"zero {shared} four five"),
            (3, "unrelated words entirely here now indeed"),
        ],
        "doc_id bigint, text string",
    )
    cfg = CorpusConfig(strip_dup_spans=True, exact=False)
    prep = prepare_corpus(docs, cfg)
    assert [n for n, _ in prep.stages] == ["input", "span_strip"]
    got = {r["doc_id"]: r["text"] for r in prep.docs.collect()}
    assert got[1] == f"{shared} one two three"  # keeper intact
    assert got[2] == "zero four five"
    assert got[3].startswith("unrelated")
    assert set(prep.docs.columns) == set(docs.columns)  # schema preserved

    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(PipelineError, match="strip_dup_spans"):
        prepare_corpus_stream(sdf, cfg, ts_col="timestamp")


def test_repetition_gate_batch_and_stream(spark, tmp_path):
    """r8: the Gopher repetition gate drops the bigram-loop doc and the
    word-spam doc, keeps prose; the streaming form (per-row Column
    algebra) selects the same docs."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    rows = [
        (1, "a varied sentence with many different interesting words here"),
        (2, "buy now buy now buy now buy now buy now buy now"),  # bigram loop
        (3, "spam spam spam spam spam spam spam spam spam spam"),  # word spam
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    cfg = CorpusConfig(
        max_dup_word_frac=0.5, max_top_bigram_frac=0.5, exact=False
    )
    prep = prepare_corpus(docs, cfg)
    assert [n for n, _ in prep.stages] == ["input", "repetition"]
    kept = {r["doc_id"] for r in prep.docs.collect()}
    assert kept == {1}
    assert set(prep.docs.columns) == {"doc_id", "text"}  # helper col dropped

    sdir = str(tmp_path / "rep_stream_src")
    _os.makedirs(sdir, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "ts": pd.to_datetime(["2024-01-01 00:00:01"] * 3).astype(
                "datetime64[us]"
            ),
            "text": [r[1] for r in rows],
        }
    ).to_parquet(sdir + "/a.parquet")
    schema = spark.read.parquet(sdir).schema
    sdf = read_parquet_stream(spark, sdir, schema)
    out = prepare_corpus_stream(sdf, cfg, ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("rep_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM rep_stream").collect()}
    assert got == kept


def test_stream_rejects_index_path(spark):
    """r8: a configured persisted-index screen must REFUSE in the stream
    form (it used to fall through silently unapplied) with the
    foreachBatch guidance."""
    from mysql_to_s3_spark.pipeline import prepare_corpus_stream

    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(PipelineError, match="foreachBatch"):
        prepare_corpus_stream(
            sdf, CorpusConfig(index_path="/tmp/nosuch", exact=False),
            ts_col="timestamp",
        )


def test_lm_tercile_gate_uses_approx_percentile(spark, docs):
    """r9 (ADVICE): the pipeline's tercile gate defaults to the
    percentile_approx sketch — bounded memory at the design scale — and
    the exact mode stays reachable via CorpusConfig.lm_bucket_approx.
    On the sf corpus the approx split agrees with exact everywhere
    except possibly AT a boundary value (the sketch picks a member of
    the multiset where exact interpolates)."""
    from mysql_to_s3_spark.operators.lm import perplexity_buckets, unigram_logprob
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    cfg = CorpusConfig(lm_keep_buckets=("head", "middle"), exact=False)
    prep = prepare_corpus(docs, cfg)
    plan = prep.docs._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    exact_plan = (
        prepare_corpus(docs, CorpusConfig(lm_keep_buckets=("head",), exact=False,
                                          lm_bucket_approx=False))
        .docs._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "percentile_approx" not in exact_plan

    # split agreement: the sketch boundary is an element of the rounded
    # score multiset, the exact boundary interpolates next to it — so
    # the two keep sets differ at most by docs sharing a boundary score
    scores = unigram_logprob(docs).cache()
    try:
        exact_keep = {
            r["doc_id"]
            for r in perplexity_buckets(scores)
            .filter(F.col("ppl_bucket").isin("head", "middle"))
            .collect()
        }
        approx_keep = {r["doc_id"] for r in prep.docs.collect()}
        n = scores.filter(F.col("lm_logprob").isNotNull()).count()
        diff = len(exact_keep ^ approx_keep)
        assert diff <= max(2, n // 100), (diff, n)
    finally:
        scores.unpersist()


def test_split_leakage_requires_jaccard_on_supplied_pairs(spark):
    """r9 (ADVICE): a pairs frame without the jaccard column refuses
    with a clear PipelineError at build time instead of an unresolved-
    column AnalysisException deep in the plan."""
    from mysql_to_s3_spark.pipeline import PipelineError, split_leakage

    docs = spark.createDataFrame(
        [(1, "train"), (2, "test")], "doc_id bigint, split string"
    ).withColumn("text", F.lit("x"))
    bare = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    with pytest.raises(PipelineError, match="jaccard"):
        split_leakage(docs, threshold=0.8, pairs=bare)


def test_decontam_k_consistent_batch_vs_stream(spark, tmp_path):
    """r9 regression (caught by the sf1 0-divergence drain): BOTH
    pipeline forms must shingle the decontamination screen at the SAME
    CorpusConfig.decontam_k. The planted doc shares every char-5 shingle
    neighborhood with the bench doc but breaks its char-13 shingles
    (a char inserted every 9 chars), so k=5 drops it and k=13 keeps it —
    before the fix the batch path used k=5 while the stream used k=13
    for the same config."""
    import os as _os

    import pandas as pd

    from mysql_to_s3_spark.pipeline import prepare_corpus, prepare_corpus_stream
    from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

    bench_text = (
        "the held out benchmark document with quite many plain words inside "
        "it and several more clauses to give the shingle sets real volume "
        "for a stable containment estimate across both widths"
    )
    # insert 'z' every 23 chars (the sf1 generator's perturbation): a
    # k-shingle survives iff its window dodges every insert — ~(23-k+1)/23,
    # so ~0.83 containment at k=5 (>= 0.7: dropped) vs ~0.48 at k=13
    # (< 0.7: kept)
    near = "".join(
        c + ("z" if i % 23 == 22 else "") for i, c in enumerate(bench_text)
    )
    rows = [(1, near), (2, "a separate perfectly ordinary document with plain words here")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bench = spark.createDataFrame([(99, bench_text)], "doc_id bigint, text string")

    def batch_kept(k):
        cfg = CorpusConfig(decontam_threshold=0.7, decontam_k=k)
        return {r.doc_id for r in prepare_corpus(docs, cfg, bench=bench).docs.collect()}

    def stream_kept(k, tag):
        src = str(tmp_path / f"dk_src_{tag}")
        _os.makedirs(src, exist_ok=True)
        pdf = pd.DataFrame(
            {"doc_id": [r[0] for r in rows],
             "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02"]).astype("datetime64[us]"),
             "text": [r[1] for r in rows]}
        )
        pdf.to_parquet(src + "/a.parquet")
        sdf = read_parquet_stream(spark, src, spark.read.parquet(src).schema)
        cfg = CorpusConfig(decontam_threshold=0.7, decontam_k=k)
        out = prepare_corpus_stream(sdf, cfg, ts_col="ts", bench_rows=[(99, bench_text)])
        name = f"dk_{tag}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return {r.doc_id for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}

    assert batch_kept(5) == stream_kept(5, "k5") == {2}
    assert batch_kept(13) == stream_kept(13, "k13") == {1, 2}


def test_lm_bucket_by_language(spark):
    """lm_bucket_by=('lang',) buckets per language: a language whose
    scores are uniformly 'worse' than another's still keeps its own
    head tercile (a corpus-global cut would drop the whole language)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    # two 'languages' with disjoint self-fit score scales (en rides a
    # high-frequency token, es is mostly unique words) AND within-
    # language variation (i%3 controls the rare-token mix) so each
    # language's terciles are non-degenerate. Measured: per-language
    # buckets give both langs a 3-doc head; the global cut gives es
    # NO head at all (en {head 6, middle 3}, es {middle 3, tail 6}).
    rows = []
    for i in range(9):
        rows.append((i, "the " * 10 + " ".join(f"u{i}x{j}" for j in range(i % 3 + 1)), "en"))
    for i in range(9, 18):
        rows.append((i, " ".join(f"v{i}x{j}" for j in range(4)) + " la" * (i % 3), "es"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    base = dict(exact=False, lm_keep_buckets=("head",), lm_bucket_approx=False)
    per_lang = prepare_corpus(docs, CorpusConfig(lm_bucket_by=("lang",), **base)).docs
    langs_kept = {r["lang"] for r in per_lang.select("lang").distinct().collect()}
    # per-language terciles keep a head slice of BOTH languages
    assert langs_kept == {"en", "es"}
    global_form = prepare_corpus(docs, CorpusConfig(**base)).docs
    langs_global = {r["lang"] for r in global_form.select("lang").distinct().collect()}
    # the global cut buckets by one corpus-wide scale; with disjoint
    # scales the head tercile is dominated by the high-scoring language
    assert "es" not in langs_global or langs_global != {"en", "es"}
