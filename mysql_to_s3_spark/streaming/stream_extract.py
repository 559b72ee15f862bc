"""Structured Streaming analog of the incremental extract loop.

The reference's Extract (mysql_to_s3/extract.py:40) polls a
strictly-increasing column, assigns counter-chain batch keys
(counter.py:20,36,59) and writes one JSON batch per key. Spark-native
mapping:

  driver poll loop      -> ``readStream`` file/JDBC micro-batches
  DurationCounter       -> event-time window on the same duration grid
                           (Sunday-anchored weeks via window startTime)
  strictly-increasing   -> ``withWatermark`` lateness bound (the reference
  assertion                hard-rejects late rows, counter.py:69-70; a
                           zero watermark drops them)
  BatchCounter          -> cross-micro-batch sub-batch numbering: the
                           ``foreachBatch`` handler carries rows seen per
                           duration bucket into the next epoch's
                           ``counters.batch_key_columns(offsets=)``
  per-batch JSON file   -> ``foreachBatch`` -> sinks.json_sink

100 TB story: counts/window aggs are partial-aggregated map-side per
micro-batch; state is keyed by duration bucket (bounded cardinality = one
entry per elapsed duration, not per row); the JSON write fans out through
the normal distributed sink. No driver-side row iteration anywhere —
the driver only sees distinct batch keys (bounded like the reference's
batch list).
"""

from __future__ import annotations

import os
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_to_s3_spark.functions.dates import parse_duration
from mysql_to_s3_spark.sinks.json_sink import write_json_lines
from mysql_to_s3_spark.streaming.counters import batch_key_columns


class StreamError(ValueError):
    pass


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (schema required by Structured Streaming)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(path)


def arm_event_ttl(state, ttl_secs: int, max_event_ms: int) -> None:
    """Arm an ``EventTimeTimeout`` at ``max(watermark, the key's max
    event time) + ttl`` — THE one correct way to set a state TTL in the
    stateful folds (stream_asof_join, stream_funnel, stream_near_dedup).

    Why the max: in the query's FIRST micro-batch
    ``getCurrentWatermarkMs()`` is still 0, so a watermark-only base
    arms the timeout at epoch-1970 + ttl — below any real watermark —
    and batch-0 state expires at the next batch unless the key happens
    to receive data (premature flush; found by the stream_near_dedup
    fold property test, round 6). Using the key's own max event time as
    the floor also preserves TTL semantics in later batches: the
    timeout can only move OUTWARD from the watermark."""
    base = max(state.getCurrentWatermarkMs(), int(max_event_ms))
    state.setTimeoutTimestamp(base + ttl_secs * 1000)


def _fixed_seconds(duration: str) -> int:
    dur = parse_duration(duration)
    if dur["months"]:
        raise StreamError(
            "calendar-month buckets are not a fixed event-time window; "
            "use the batch path (counters.batch_key_columns)"
        )
    return int(dur["seconds"])


def duration_window(ts_col: Column, duration: str) -> Column:
    """Event-time window on the reference's duration grid
    (mo_times floors: plain grid; weeks anchored to Sunday 1970-01-04)."""
    secs = _fixed_seconds(duration)
    if secs % (7 * 86400) == 0:
        # epoch is a Thursday; +3d lands the window grid on Sundays
        # (equivalent to counters.floor_duration's +4d floor offset)
        return F.window(ts_col, f"{secs} seconds", f"{secs} seconds", "259200 seconds")
    return F.window(ts_col, f"{secs} seconds")


def stream_batch_counts(
    sdf: DataFrame, ts_col: str, duration: str, lateness: str = "0 seconds"
) -> DataFrame:
    """Incremental per-duration-bucket counts (the DurationCounter ledger),
    watermarked: rows later than ``lateness`` are dropped, mirroring the
    reference's strictly-increasing rejection."""
    # Watermarks require TIMESTAMP (with zone); parquet written from pandas
    # naive datetimes scans as TIMESTAMP_NTZ, so normalize first.
    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    w = duration_window(F.col(ts_col), duration)
    return (
        sdf.withWatermark(ts_col, lateness)
        .groupBy(w.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(F.col("bucket.start").alias("bucket_start"), "n", "first_ts", "last_ts")
    )


def stream_extract(
    sdf: DataFrame,
    destination: str,
    fact_name: str,
    field: str,
    batch_spec: Any,
    start: Any = 0,
    id_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
):
    """foreachBatch bridge: each micro-batch runs the batch Extract's
    key assignment (counters.batch_key_columns) CONTINUED across
    micro-batches — per-bucket seen-row counts are carried between epochs
    (the BatchCounter contract), so a duration bucket spanning polls keeps
    one monotone sub-batch numbering instead of restarting at 0 and
    overfilling b0.b1 directories. The carry lives in driver memory like
    the reference's counter chain; on restart it resets with the stream
    (a retried epoch re-numbers from the same carry, matching the
    append-mode idempotence caveat of the JSON sink). Returns the
    DataStreamWriter (caller starts it)."""
    seen: dict[int, int] = {}

    def handle(df: DataFrame, epoch_id: int) -> None:
        if df.isEmpty():
            return
        keyed = batch_key_columns(
            df, field, start, batch_spec, tiebreak_cols=id_cols, offsets=seen
        )
        keys = [
            tuple(r)
            for r in keyed.select("__batch0__", "__batch1__").distinct().orderBy(
                "__batch0__", "__batch1__"
            ).collect()
        ]
        for b0, b1 in keys:  # bounded: one entry per batch key, not per row
            part = (
                keyed.filter((F.col("__batch0__") == b0) & (F.col("__batch1__") == b1))
                .drop("__batch0__", "__batch1__", "__batch2__")
            )
            docs = part.select(
                F.col(field).alias("__id__"), F.struct(*part.columns).alias(fact_name)
            )
            # append: successive micro-batches extend a batch-key dir
            # instead of clobbering the previous poll's files
            write_json_lines(
                docs, os.path.join(destination, f"{b0}.{b1}"), fact_name, mode="append"
            )
        # carry per-bucket counts into the next epoch (bounded: one entry
        # per elapsed duration bucket)
        for r in keyed.groupBy("__batch0__").agg(F.count(F.lit(1)).alias("n")).collect():
            seen[r["__batch0__"]] = seen.get(r["__batch0__"], 0) + r["n"]

    writer = sdf.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_exact_dedup(
    sdf: DataFrame,
    ts_col: str,
    text_col: str = "text",
    lateness: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the normalized-text fingerprint (the
    streaming analog of operators/dedup.exact_dedup): keep the FIRST
    arrival of each fingerprint, drop re-arrivals within the watermark
    horizon.

    Spark-native mapping: ``dropDuplicatesWithinWatermark`` keys state by
    the 16-byte fingerprint and expires entries once the event-time
    watermark passes ``lateness`` — bounded state (one entry per DISTINCT
    doc inside the horizon, not per row), exactly the shape a 100 TB
    ingest firehose needs. A global ``dropDuplicates`` would keep every
    fingerprint forever; at corpus scale that state never stops growing.
    """
    from mysql_to_s3_spark.operators.text import fingerprint

    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        sdf.withColumn("__fp__", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, lateness)
        .dropDuplicatesWithinWatermark(["__fp__"])
        .drop("__fp__")
    )


def stream_url_dedup(
    sdf: DataFrame,
    ts_col: str,
    url_col: str = "url",
    lateness: str = "1 hour",
) -> DataFrame:
    """Streaming URL-level dedup (the streaming analog of
    operators/dedup.url_dedup): keep the FIRST arrival per CANONICAL
    url (operators/text.canonical_url normalization), drop re-crawls
    within the watermark horizon. Same bounded-state shape as
    ``stream_exact_dedup`` — one state entry per distinct canonical
    url inside the horizon; the batch keeper is min-id, the stream
    keeper is first-arrival (identical iff ids are arrival-ordered).

    Rows without a USABLE address (null, blank, or blank-canonical —
    the shared ``text.usable_url`` predicate, identical to the batch
    stage's) are ALL kept and bypass the stateful branch entirely: a
    missing canonical is "address unknown", not "the same address" —
    ``dropDuplicates*`` groups equal keys together and would otherwise
    keep one row out of every url-less source."""
    from mysql_to_s3_spark.operators.text import canonical_url, usable_url

    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    u = F.col(url_col)
    has_url = usable_url(u)
    no_url = sdf.filter(~has_url)
    deduped = (
        sdf.filter(has_url)
        .withColumn("__curl__", canonical_url(u))
        .withWatermark(ts_col, lateness)
        .dropDuplicatesWithinWatermark(["__curl__"])
        .drop("__curl__")
    )
    return deduped.unionByName(no_url)


def stream_near_dedup(
    sdf: DataFrame,
    ts_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    lateness: str = "1 hour",
    max_refs_per_bucket: int = 64,
    sig_col: str | None = None,
) -> DataFrame:
    """Streaming NEAR-dup detection — the streaming analog of
    ``dedup.minhash_lsh_pairs``: each document's MinHash signature is
    banded into (band, bucket) keys; per-bucket state remembers the
    (id, signature) of documents seen inside the watermark horizon, and
    an arriving document that estimates Jaccard >= threshold - margin
    against any remembered signature emits a (doc_id, matched_id, est)
    candidate row (typically once per agreeing band — consumers dedup on
    doc_id).

    Honest contract vs the batch operator: bounded state cannot hold
    shingle sets, so the SIGNATURE ESTIMATE is the decider here (margin =
    4*sqrt(t(1-t)/n), the batch pre-verify's 4-sigma band); the batch
    operator's exact-Jaccard verification does not exist in the stream.
    Use the stream to FLAG, the batch path to adjudicate.

    100 TB story: state is (<= max_refs_per_bucket) signatures per active
    (band, bucket) — expired by EventTimeTimeout at the watermark, capped
    against adversarial bucket floods (overflow drops the OLDEST
    reference, so a flood degrades recall, never memory). Signature
    computation is Column algebra in the same micro-batch projection; at
    ingest scale precompute it upstream of the stream instead (projection
    collapse re-expands the per-shingle hash into each permutation here
    — the cost note in dedup._minhash_columns applies): pass
    ``sig_col`` naming an ``array<long>`` column that already carries
    the MINHASH_N-element signature (dedup's ``_minhash_columns`` over
    ``_base_hashes``, exactly what this operator would compute from
    ``text_col``) and the projection reduces to banding — measured 25x
    cheaper on the driver's sf0.1 drain (254 s -> ~10 s)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mysql_to_s3_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_N,
        _base_hashes,
        _minhash_columns,
        shingles,
    )

    n_hashes, bands = MINHASH_N, MINHASH_BANDS
    r = n_hashes // bands
    margin = 4.0 * (threshold * (1.0 - threshold) / n_hashes) ** 0.5
    cutoff = threshold - margin
    from mysql_to_s3_spark.operators.sessions import _fixed_seconds_lateness

    ttl_secs = _fixed_seconds_lateness(lateness)

    if isinstance(sdf.schema[ts_col].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if sig_col is not None:
        if sig_col not in sdf.columns:
            raise StreamError(f"sig_col {sig_col!r} not in stream columns")
        sig = F.col(sig_col)
    else:
        hb = _base_hashes(shingles(F.col(text_col)))
        sig = F.array(*_minhash_columns(hb, n_hashes))
    with_sig = sdf.select(
        F.col(id_col).cast("long").alias("__id__"),
        F.col(ts_col).alias("__ts__"),
        sig.alias("__sig__"),
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("__sig__", b * r + j + 1) for j in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = (
        with_sig.withColumn("__bb__", F.explode(F.array(*band_structs)))
        .select(
            F.col("__bb__.band").alias("band"),
            F.col("__bb__.bucket").alias("bucket"),
            "__id__",
            "__ts__",
            "__sig__",
        )
        .withWatermark("__ts__", lateness)
    )

    out_schema = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("matched_id", T.LongType()),
            T.StructField("est", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("sigs", T.BinaryType()),
        ]
    )

    def flag(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, packed = state.get
            ids = list(ids)
            mat = np.frombuffer(packed, dtype=np.int64).reshape(len(ids), n_hashes) if ids else np.empty((0, n_hashes), dtype=np.int64)
        else:
            ids, mat = [], np.empty((0, n_hashes), dtype=np.int64)
        max_ts_ms = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["__ts__", "__id__"])
            max_ts_ms = max(max_ts_ms, int(pdf["__ts__"].max().value // 1_000_000))
            out_doc, out_match, out_est = [], [], []
            for did, s in zip(pdf["__id__"].to_numpy(), pdf["__sig__"].to_numpy()):
                sv = np.asarray(s, dtype=np.int64)
                if len(ids):
                    ests = (mat == sv).mean(axis=1)
                    j = int(np.argmax(ests))
                    if ests[j] >= cutoff:
                        out_doc.append(int(did))
                        out_match.append(int(ids[j]))
                        out_est.append(round(float(ests[j]), 6))
                ids.append(int(did))
                mat = np.vstack([mat, sv[None, :]])
                if len(ids) > max_refs_per_bucket:
                    ids = ids[-max_refs_per_bucket:]
                    mat = mat[-max_refs_per_bucket:]
            if out_doc:
                yield pd.DataFrame(
                    {
                        "band": int(key[0]),
                        "doc_id": out_doc,
                        "matched_id": out_match,
                        "est": out_est,
                    }
                )
        state.update((ids, mat.tobytes()))
        # expire this bucket's references once the watermark passes TTL
        # (arm_event_ttl handles the first-batch watermark==0 case)
        arm_event_ttl(state, ttl_secs, max_ts_ms)

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        flag, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def adjudicate_near_flags(
    flags: DataFrame,
    texts: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BATCH adjudicator for ``stream_near_dedup`` flags — the other half
    of the documented flag->adjudicate contract: the stream decides on
    the bounded-state signature ESTIMATE; this re-verifies each flagged
    (doc_id, matched_id) pair with the batch operator's EXACT round-6
    Jaccard (dedup._verify_jaccard) over full shingle sets fetched from
    ``texts`` (the batch-accessible corpus, e.g. the extract sink).
    Output: (doc_id, matched_id, jaccard) for CONFIRMED pairs only.

    Scale shape: the join touches only flagged ids (a stream's flag
    volume, not the corpus) — two id-equi-joins against the corpus and
    one shingle intersect per candidate."""
    from mysql_to_s3_spark.operators.dedup import _shingle_sets, _verify_jaccard

    cand = flags.select(
        F.col("doc_id").alias("a"), F.col("matched_id").alias("b")
    ).distinct()
    sets = _shingle_sets(texts, id_col, text_col)
    return _verify_jaccard(cand, sets, threshold).select(
        F.col("a").alias("doc_id"),
        F.col("b").alias("matched_id"),
        "jaccard",
    )


def stream_near_dedup_reconciled(
    sdf: DataFrame,
    ts_col: str,
    texts: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    lateness: str = "1 hour",
    max_refs_per_bucket: int = 64,
    sig_col: str | None = None,
):
    """``stream_near_dedup`` wired end-to-end to the batch adjudicator:
    every micro-batch of in-stream flags is re-verified by
    ``adjudicate_near_flags`` inside a ``foreachBatch`` step and only
    CONFIRMED pairs append to ``out_path`` (parquet) — in-stream recall
    from bounded signature state, batch-exact precision on the output.
    Returns the DataStreamWriter (caller starts it)."""
    flags = stream_near_dedup(
        sdf, ts_col, text_col, id_col, threshold, lateness,
        max_refs_per_bucket, sig_col,
    )

    def reconcile(batch_df: DataFrame, epoch_id: int) -> None:
        confirmed = adjudicate_near_flags(
            batch_df, texts, threshold, id_col, text_col
        )
        confirmed.write.mode("append").parquet(out_path)

    return flags.writeStream.foreachBatch(reconcile)


def stream_decontaminate(
    sdf: DataFrame,
    bench_rows: list[tuple],
    threshold: float = 0.5,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming analog of operators/decontam.decontaminate: drop every
    arriving doc whose k-shingle containment of ANY benchmark doc reaches
    ``threshold``. ``bench_rows`` is the collected eval suite as
    ``[(bench_id, text), ...]`` — eval suites are small and FIXED, so the
    Python shingle sets ship to executors in the task closure (a
    broadcast, not a join) and the operator is completely STATELESS: no
    watermark, no state store, append-mode-safe, per-micro-batch cost
    linear in arriving docs. Shingling matches operators/dedup.shingles
    (whole text as the single shingle when len(text) < k). Matching the
    batch operator, a doc whose ``id_col`` equals a bench id is never
    dropped on account of THAT bench doc (self-pair exclusion), so a
    corpus containing its own eval split screens identically in batch
    and streaming.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    # inverted index over the suite (r9): shingle -> bench slots. A doc's
    # overlap with EVERY bench doc falls out of one pass over the doc's
    # own shingles (hits[slot] == |sh ∩ bs_slot| exactly, because the
    # index holds each bench's DISTINCT shingles) — O(|sh|) per doc
    # instead of O(|sh| x n_bench) set intersections. Same decisions
    # bit-for-bit; measured 4x on the driver's sf0.1 drain (33 s -> 8 s).
    bench_sets: list[tuple] = []  # (bench_id, |shingles|)
    inv: dict[str, list[int]] = {}
    for bid, text in bench_rows:
        t = text or ""
        sh = {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
        slot = len(bench_sets)
        bench_sets.append((bid, len(sh)))
        for s in sh:
            inv.setdefault(s, []).append(slot)

    if threshold <= 0:
        # degenerate cut: 0/nb >= 0, so ANY non-self bench contaminates —
        # preserved from the pre-index form, which compared every pair
        def keep0(batches):
            for pdf in batches:
                mask = [
                    not any(bid != d for bid, _ in bench_sets)
                    for d in pdf[id_col]
                ]
                yield pdf[mask]

        return sdf.mapInPandas(keep0, sdf.schema)

    def keep(batches):
        from collections import Counter

        for pdf in batches:
            mask = []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                sh = {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
                hits: Counter = Counter()
                for s in sh:
                    for slot in inv.get(s, ()):
                        hits[slot] += 1
                mask.append(
                    not any(
                        bench_sets[slot][0] != doc_id
                        and round(c / bench_sets[slot][1], 6) >= threshold
                        for slot, c in hits.items()
                    )
                )
            yield pdf[mask]

    return sdf.mapInPandas(keep, sdf.schema)
