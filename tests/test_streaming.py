"""Structured Streaming: incremental counters, the sub-batch numbering
carried across micro-batches, and the foreachBatch JSON extract bridge.

Each test streams the events fixture file-by-file (maxFilesPerTrigger=1,
availableNow trigger) so multiple micro-batches actually occur, and checks
the streaming result equals the batch-computed answer.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.sources.registry import load_table
from mysql_to_s3_spark.streaming.counters import batch_key_columns
from mysql_to_s3_spark.streaming.stream_extract import (
    StreamError,
    duration_window,
    read_parquet_stream,
    stream_batch_counts,
    stream_extract,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """events re-written as 4 clean parquet files (the fixture parquet has
    TIMESTAMP(NANOS), which the streaming reader rejects)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_stream(sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_batch_counts_match_batch(spark, events_stream_dir):
    schema = spark.read.parquet(events_stream_dir).schema
    sdf = read_parquet_stream(spark, events_stream_dir, schema, max_files_per_trigger=1)
    counts = stream_batch_counts(sdf, "ts", "day")
    _run_stream(counts, "day_counts", "complete")
    got = {
        r["bucket_start"]: r["n"]
        for r in spark.sql("SELECT * FROM day_counts").collect()
    }

    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy(F.timestamp_seconds(F.floor(F.col("ts").cast("timestamp").cast("double") / 86400) * 86400).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["b"]: r["n"] for r in batch.collect()}
    assert got == want
    assert sum(got.values()) == spark.read.parquet(events_stream_dir).count()


def test_week_window_is_sunday_anchored(spark, events_stream_dir):
    schema = spark.read.parquet(events_stream_dir).schema
    sdf = read_parquet_stream(spark, events_stream_dir, schema)
    weekly = sdf.select(duration_window(F.col("ts"), "week").alias("w"))
    _run_stream(weekly.groupBy("w").count(), "weekly", "complete")
    starts = [r["w"]["start"] for r in spark.sql("SELECT w FROM weekly").collect()]
    assert starts
    for s in starts:
        # 1970-01-04 was a Sunday; isoweekday() 7 = Sunday
        assert s.isoweekday() == 7, s


def test_month_duration_rejected(spark, events_stream_dir):
    with pytest.raises(StreamError):
        duration_window(F.col("ts"), "month")


@pytest.mark.parametrize("spec", [["day", 7], 7], ids=["day", "size"])
def test_batch_keys_continue_across_halves(spark, sf_dir, spec):
    """The BatchCounter continuation stream_extract carries between
    micro-batches: numbering the event-time-ordered frame in two halves,
    with the first half's per-bucket counts passed as ``offsets``, gives
    exactly the keys of numbering it whole."""
    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    start = "2024-01-01"
    cols = ["event_id", "__batch0__", "__batch1__", "__batch2__"]

    def keys(df, offsets=None):
        return batch_key_columns(
            df, "ts", start, spec, tiebreak_cols=("event_id",), offsets=offsets
        ).select(*cols)

    ts = sorted(r["ts"] for r in events.select("ts").collect())
    cut = ts[len(ts) // 2]
    first = keys(events.filter(F.col("ts") < cut))
    seen = {
        r["__batch0__"]: r["n"]
        for r in first.groupBy("__batch0__").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    second = keys(events.filter(F.col("ts") >= cut), offsets=seen)
    # the cut falls inside a bucket, so the continuation is exercised
    assert {r["__batch0__"] for r in second.select("__batch0__").distinct().collect()} & set(seen)
    got = sorted(tuple(r) for r in first.unionByName(second).collect())
    assert got == sorted(tuple(r) for r in keys(events).collect())


@pytest.mark.slow  # r11: >19 s in the full-suite run; default pass deselects
def test_stream_extract_writes_batch_json(spark, events_stream_dir, tmp_path):
    dest = str(tmp_path / "out")
    n_events = spark.read.parquet(events_stream_dir).count()
    # keep the sub-batch count bounded at any test scale factor
    batch_spec = ["day", max(10, n_events // 30)]
    schema = spark.read.parquet(events_stream_dir).schema
    sdf = read_parquet_stream(spark, events_stream_dir, schema, max_files_per_trigger=1)
    writer = stream_extract(
        sdf,
        destination=dest,
        fact_name="events",
        field="ts",
        batch_spec=batch_spec,
        start="2024-01-01",
        id_cols=("event_id",),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q = writer.trigger(availableNow=True).start()
    # availableNow terminates on its own once every file is processed;
    # a fixed 180 s await truncated the output at larger test scale
    # factors (thousands of 10-row sub-batch dirs), reading a half-done
    # stream as a failure
    q.awaitTermination(600)
    assert not q.isActive, "stream did not drain in time"

    batch_dirs = [d for d in glob.glob(os.path.join(dest, "*")) if os.path.isdir(d)]
    assert batch_dirs, "no batch directories written"
    lines = []
    for d in batch_dirs:
        for f in glob.glob(os.path.join(d, "part-*")):
            with open(f) as fh:
                lines.extend(json.loads(ln) for ln in fh if ln.strip())
    assert len(lines) == spark.read.parquet(events_stream_dir).count()
    assert all("events" in doc for doc in lines)

    # batch-key dirs match the batch-side counter assignment
    events = spark.read.parquet(events_stream_dir)
    keyed = batch_key_columns(events, "ts", "2024-01-01", batch_spec, tiebreak_cols=("event_id",))
    want_keys = {
        f"{r['__batch0__']}.{r['__batch1__']}"
        for r in keyed.select("__batch0__", "__batch1__").distinct().collect()
    }
    got_keys = {os.path.basename(d) for d in batch_dirs}
    # per-bucket seen-counts carry across micro-batches (BatchCounter
    # continuation), so the streamed key set equals the batch-side
    # assignment exactly — sub-batch numbering never restarts per poll
    assert got_keys == want_keys
    # and no b0.b1 dir overfills: every non-final sub-batch holds
    # exactly `size` rows, the final one at most `size`
    per_dir = {}
    for d in batch_dirs:
        n = 0
        for f in glob.glob(os.path.join(d, "part-*")):
            with open(f) as fh:
                n += sum(1 for ln in fh if ln.strip())
        per_dir[os.path.basename(d)] = n
    last_b1 = {}
    for k in per_dir:
        b0, b1 = (int(x) for x in k.split("."))
        last_b1[b0] = max(last_b1.get(b0, -1), b1)
    for k, n in per_dir.items():
        b0, b1 = (int(x) for x in k.split("."))
        if b1 < last_b1[b0]:
            assert n == batch_spec[1], (k, n)
        else:
            assert n <= batch_spec[1], (k, n)


def test_stream_exact_dedup_drops_rearrivals(spark, tmp_path):
    """stream_exact_dedup keeps the first arrival per fingerprint and
    drops re-arrivals across micro-batches (state keyed by fingerprint,
    expired by the watermark)."""
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import stream_exact_dedup

    src = str(tmp_path / "docs_stream")
    os.makedirs(src, exist_ok=True)
    # two files -> two micro-batches; doc "alpha beta" re-arrives in both,
    # "Alpha  BETA " normalizes to the same fingerprint as "alpha beta"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]).astype("datetime64[us]"),
            "text": ["alpha beta", "gamma delta", "Alpha  BETA "],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "doc_id": [4, 5],
            "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:10:01"]).astype("datetime64[us]"),
            "text": ["alpha beta", "epsilon zeta"],
        }
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    deduped = stream_exact_dedup(sdf, "ts", "text", lateness="1 hour")
    _run_stream(deduped, "dedup_stream", "append")
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM dedup_stream").collect())
    # one survivor per distinct fingerprint: {alpha beta}, {gamma delta},
    # {epsilon zeta} — ids 3 and 4 are dropped as duplicates
    assert len(kept) == 3
    assert 5 in kept and (1 in kept or 3 in kept) and 2 in kept
    assert not {1, 3}.issubset(set(kept)) and 4 not in kept


def test_stream_near_dedup_flags_near_duplicate_across_batches(spark, tmp_path):
    """stream_near_dedup flags a near-identical re-arrival (small edit)
    against the earlier document via banded minhash state, leaves an
    unrelated document unflagged, and works across micro-batches."""
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import stream_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat "
        "watching the ships sail slowly over the calm evening sea"
    )
    near = base.replace("evening", "morning")  # one-word edit: J >> 0.9
    other = (
        "completely different content about distributed query engines "
        "and columnar execution with vectorized operators and shuffles "
        "nothing in common with the fox or the rain or the mat at all"
    )
    src = str(tmp_path / "near_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02"]).astype("datetime64[us]"),
            "text": [base, other],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "doc_id": [3],
            "ts": pd.to_datetime(["2024-01-01 00:05:00"]).astype("datetime64[us]"),
            "text": [near],
        }
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    flagged = stream_near_dedup(sdf, "ts", "text", "doc_id", threshold=0.9)
    _run_stream(flagged, "near_dedup_stream", "append")
    rows = spark.sql("SELECT * FROM near_dedup_stream").collect()
    # doc 3 flagged against doc 1 (possibly in several bands); 1 and 2 never
    by_doc = {}
    for row in rows:
        by_doc.setdefault(row["doc_id"], set()).add(row["matched_id"])
    assert set(by_doc) == {3}
    assert by_doc[3] == {1}
    assert all(row["est"] >= 0.7 for row in rows)


def test_stream_decontaminate_drops_contaminated_docs(spark, tmp_path):
    """stream_decontaminate: stateless broadcast-bench screen — docs
    embedding a benchmark doc are dropped per micro-batch, clean docs and
    the below-threshold partial overlap pass through; equivalent to the
    batch operator on the union of batches."""
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import stream_decontaminate

    bench_text = "the quick brown fox jumps over the lazy dog"
    src = str(tmp_path / "docs_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [f"prefix text. {bench_text}. suffix", "entirely unrelated content here"],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            # doc 99 IS the bench doc (self-pair): must be kept, matching
            # the batch operator's train_id != bench_id exclusion
            "doc_id": [3, 4, 99],
            "text": [bench_text, "more clean prose with zero overlap", bench_text],
        }
    ).to_parquet(src + "/b.parquet")

    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    cleaned = stream_decontaminate(sdf, [(99, bench_text)], threshold=0.5, k=13)
    _run_stream(cleaned, "decontam_stream", "append")
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM decontam_stream").collect())
    assert kept == [2, 4, 99]

    # batch-operator equivalence on the same corpus
    from mysql_to_s3_spark.operators.decontam import decontaminate

    batch_docs = spark.read.parquet(src)
    bench_df = spark.createDataFrame([(99, bench_text)], "doc_id: long, text: string")
    batch_kept = sorted(
        r["doc_id"] for r in decontaminate(batch_docs, bench_df, threshold=0.5, k=13).collect()
    )
    assert batch_kept == kept


def test_stream_near_dedup_reconciled_confirms_with_batch_jaccard(spark, tmp_path):
    """The flag->adjudicate contract end-to-end: a near-dup arriving in a
    LATER micro-batch is flagged in-stream (signature estimate) and
    CONFIRMED by the foreachBatch batch adjudicator's exact Jaccard;
    only confirmed pairs land in the output parquet."""
    import pandas as pd

    from mysql_to_s3_spark.streaming.stream_extract import (
        adjudicate_near_flags,
        stream_near_dedup_reconciled,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat "
        "watching the ships sail slowly over the calm evening sea"
    )
    near = base.replace("evening", "morning")
    other = (
        "completely different content about distributed query engines "
        "and columnar execution with vectorized operators and shuffles "
        "nothing in common with the fox or the rain or the mat at all"
    )
    src = str(tmp_path / "near_rec_stream")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02"]
            ).astype("datetime64[us]"),
            "text": [base, other],
        }
    ).to_parquet(src + "/a.parquet")
    pd.DataFrame(
        {
            "doc_id": [3],
            "ts": pd.to_datetime(["2024-01-01 00:05:00"]).astype("datetime64[us]"),
            "text": [near],
        }
    ).to_parquet(src + "/b.parquet")
    t_a = os.path.getmtime(src + "/a.parquet")
    os.utime(src + "/b.parquet", (t_a + 10, t_a + 10))

    out = str(tmp_path / "confirmed")
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
    corpus = spark.read.parquet(src)
    q = (
        stream_near_dedup_reconciled(sdf, "ts", corpus, out, threshold=0.9)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert {(r.doc_id, r.matched_id) for r in rows} == {(3, 1)}
    assert all(r.jaccard >= 0.9 for r in rows)

    # the adjudicator is a real filter, not a rubber stamp: a spurious
    # flag between unrelated docs is rejected by exact Jaccard
    fake = spark.createDataFrame(
        [(0, 2, 1, 0.95)], "band int, doc_id long, matched_id long, est double"
    )
    assert adjudicate_near_flags(fake, corpus, threshold=0.9).count() == 0


def test_stream_near_dedup_sig_col_matches_in_stream_signature(spark, tmp_path):
    """r9: the sig_col= ingest-scale path — a precomputed MINHASH_N
    signature column staged with the source must flag EXACTLY what the
    in-stream signature computation flags (same est values), and a
    missing column is refused."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.dedup import (
        MINHASH_N,
        _base_hashes,
        _minhash_columns,
        shingles,
    )
    from mysql_to_s3_spark.streaming.stream_extract import (
        StreamError,
        stream_near_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat "
        "watching the ships sail slowly over the calm evening sea"
    )
    rows = [
        (1, base, "2024-01-01 00:00:01"),
        (2, "entirely different words about query engines and shuffles okay", "2024-01-01 00:00:02"),
        (3, base.replace("evening", "morning"), "2024-01-01 00:05:00"),
    ]
    pdf = pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
         "ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]")}
    )
    sig_expr = F.array(*_minhash_columns(_base_hashes(shingles(F.col("text"))), MINHASH_N))
    sig_pdf = (
        spark.createDataFrame(pdf[["doc_id", "text"]])
        .select("doc_id", sig_expr.alias("sig"))
        .toPandas()
    )
    staged = pdf.merge(sig_pdf, on="doc_id")
    src = str(tmp_path / "sig_src")
    os.makedirs(src, exist_ok=True)
    staged.iloc[:2].to_parquet(src + "/a.parquet")
    staged.iloc[2:].to_parquet(src + "/b.parquet")

    def flags(sig_col):
        schema = spark.read.parquet(src).schema
        sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
        out = stream_near_dedup(sdf, "ts", "text", "doc_id", threshold=0.9, sig_col=sig_col)
        name = f"sig_ab_{'pre' if sig_col else 'raw'}"
        _run_stream(out, name, "append")
        return sorted(
            (r["doc_id"], r["matched_id"], r["est"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    assert flags("sig") == flags(None) != []
    schema = spark.read.parquet(src).schema
    sdf = read_parquet_stream(spark, src, schema)
    with _pytest.raises(StreamError, match="sig_col"):
        stream_near_dedup(sdf, "ts", sig_col="nope")
