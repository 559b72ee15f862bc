"""End-to-end Extract orchestrator: batch-key assignment, JSON-lines
writes, checkpoint/resume, notify hook."""

import datetime as dt
import functools
import glob
import json
import logging
import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mysql_to_s3_spark.sources import extract
from mysql_to_s3_spark.sources.extract import (
    Extract,
    ExtractConfig,
    ExtractError,
    read_checkpoint,
    write_checkpoint,
)
from mysql_to_s3_spark.sources.snowflake import FactPlan, SnowflakeConfig, build_plan, position_column
from mysql_to_s3_spark.streaming.counters import batch_key_columns
from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables


def _setup(spark, tmp_path):
    cfg = SnowflakeConfig(
        fact_table="fact_table",
        show_foreign_keys=False,
        null_values=["-", "unknown", ""],
        reference_only=["inner1.value", "inner2.value"],
    )
    plan = build_plan(TABLES_META, RELATIONS, cfg)
    extract_cfg = ExtractConfig(
        field="id",
        start=0,
        batch=5,  # 5 fact rows per sub-batch
        destination=str(tmp_path / "out"),
        last=str(tmp_path / "extract.last"),
        key_format="a.b",
    )
    return Extract(build_tables(spark), plan, cfg, extract_cfg)


def _read_docs(path):
    docs = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            docs += [json.loads(line) for line in fh if line.strip()]
    return docs


def test_extract_run_writes_batches_and_checkpoint(spark, tmp_path):
    ex = _setup(spark, tmp_path)
    notified = []
    written = ex.run(notify=notified.append)
    # 12 fact rows, batch size 5 -> keys 0.0, 0.1, 0.2
    assert [os.path.basename(p) for p in written] == ["0.0", "0.1", "0.2"]
    assert [n["key"] for n in notified] == ["0.0", "0.1", "0.2"]

    all_docs = []
    for p in written:
        all_docs += _read_docs(p)
    assert len(all_docs) == 12
    ids = sorted(d["fact_table"]["id"] for d in all_docs)
    assert ids == [10, 11, 12, 13, 15, 16, 17, 18, 19, 20, 21, 22]
    # every doc carries the etl lineage envelope
    assert all("etl" in d and d["etl"]["id"] for d in all_docs)

    cp = read_checkpoint(str(tmp_path / "extract.last"))
    assert cp is not None and tuple(cp[0]) == (0, 2)


def test_extract_resume_skips_done_batches(spark, tmp_path, monkeypatch):
    ex = _setup(spark, tmp_path)
    ex.run()
    # a fresh run with the checkpoint present writes nothing new, and
    # builds neither the document frame nor a dimension frame
    calls = []
    monkeypatch.setattr(extract, "dimension_frames", lambda *a, **k: calls.append("dims"))
    monkeypatch.setattr(Extract, "documents", lambda *a, **k: calls.append("docs"))
    again = ex.run()
    assert again == []
    assert calls == []


def test_extract_run_builds_the_document_frame_once(spark, tmp_path, monkeypatch):
    """A 3-batch run plans the snowflake join once, and builds its
    dimension side once; each batch is a range filter on that one
    frame."""
    calls = []

    def counting(name):
        real = getattr(extract, name)

        def count(*a, **k):
            calls.append(name)
            return real(*a, **k)

        monkeypatch.setattr(extract, name, count)

    counting("doc_frame")
    counting("dimension_frames")
    assert len(_setup(spark, tmp_path).run()) == 3
    assert sorted(calls) == ["dimension_frames", "doc_frame"]


def test_extract_run_releases_its_frozen_dimensions(spark, tmp_path):
    """The dimension frames a run freezes are released when it returns:
    no RDD the run persisted is left in the SparkContext."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert len(_setup(spark, tmp_path).run()) == 3
    assert set(jsc.getPersistentRDDs().keySet()) <= before


@pytest.mark.parametrize(
    "cfg",
    [
        {},
        {"reference_only": ["customer.c_name"], "show_foreign_keys": False},
        {"null_values": ["BUILDING", "NATION_1", "AMERICA"]},
        {"child_cap": 2},
    ],
    ids=["plain", "inlineDim", "nullDim", "childCap"],
)
def test_extract_run_writes_what_an_unfrozen_frame_writes(spark, sf_dir, tmp_path, cfg):
    """Every batch ``Extract.run`` writes over its frozen dimension frames
    holds, line for line, what the same batch of a document frame that
    builds its dimensions in place writes: the plain orders extract, an
    inline dimension column (``customer`` collapses to ``c_name``), null
    sentinels in the customer, nation and region string columns, and a
    child cap."""
    from mysql_to_s3_spark.sinks.json_sink import etl_envelope, write_json_lines
    from tests.fixtures_snowflake import orders_snowflake

    tables, plan, config = orders_snowflake(spark, sf_dir, **cfg)
    ex = Extract(tables, plan, config, ExtractConfig(
        field="o_orderkey", batch=500, destination=str(tmp_path / "run")
    ))
    written = ex.run()
    batches = ex.batches()
    assert [os.path.basename(p) for p in written] == [extract.key_string(b.key) for b in batches]
    assert len(batches) > 1

    docs = ex.documents()
    pos = [position_column(i) for i in range(len(ex._positions()))]

    def lines(path):
        return sorted(r["value"] for r in spark.read.text(path).collect())

    for path, batch in zip(written, batches):
        key = extract.key_string(batch.key)
        want = str(tmp_path / "want" / key)
        etl = etl_envelope(etl_id=key, source={"name": "orders"})
        write_json_lines(ex.ids_for_batch(batch, docs).drop(*pos), want, "orders", etl=etl)
        assert lines(path) == lines(want), key


def test_extract_run_logs_each_batch(spark, tmp_path, caplog):
    """One structured record per batch: its key, bounds and output path,
    all driver-side values of the collected batches."""
    ex = _setup(spark, tmp_path)
    with caplog.at_level(logging.INFO, logger="mysql_to_s3_spark.sources.extract"):
        written = ex.run()
    records = [r for r in caplog.records if r.name == "mysql_to_s3_spark.sources.extract"]
    assert [(r.batch_key, r.path) for r in records] == [(os.path.basename(p), p) for p in written]
    batches = ex.batches()
    assert [(r.lo, r.hi) for r in records] == [(list(b.lo), list(b.hi)) for b in batches]
    assert records[0].lo == [10] and records[-1].hi == [22]


def test_checkpoint_write_is_atomic(tmp_path, monkeypatch):
    """A write that dies half way leaves the previous checkpoint whole and
    no temp file behind."""
    path = str(tmp_path / "cp" / "extract.last")
    write_checkpoint(path, (0, 1), 1000)

    def torn_dump(obj, f):
        f.write('{"start_point": [0, ')
        raise OSError("No space left on device")

    monkeypatch.setattr(extract.json, "dump", torn_dump)
    with pytest.raises(OSError):
        write_checkpoint(path, (0, 2), 2000)
    monkeypatch.undo()
    assert read_checkpoint(path) == ((0, 1), 1000)
    assert os.listdir(tmp_path / "cp") == ["extract.last"]
    write_checkpoint(path, (0, 2), 2000)
    assert read_checkpoint(path) == ((0, 2), 2000)


@pytest.mark.parametrize(
    "content",
    [
        "",
        '{"start_point": [0, ',
        "[0, 1]",
        '{"start_point": [0, 1]}',
        '{"start_point": "0.1", "first_value": 5}',
        b"\xff\xfe",
    ],
)
def test_read_checkpoint_rejects_malformed_file(tmp_path, content):
    path = tmp_path / "extract.last"
    if isinstance(content, bytes):
        path.write_bytes(content)
    else:
        path.write_text(content)
    with pytest.raises(ExtractError, match=re.escape(str(path))):
        read_checkpoint(str(path))


# -- keyset batches: the literal range of ids_for_batch(b, documents())
# holds exactly the rows batch_key_columns assigns to b --

_T0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


@pytest.mark.parametrize("shape", ["duplicate_field", "day_timestamp", "composite_ids", "start_above_min"])
@given(data=st.data())
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_keyset_batch_membership(spark, shape, data):
    """Few distinct field values, so equal values straddle batch
    boundaries in every shape; the timestamp shape spaces its values 11 h
    + 123457 us apart, so a bound that lost precision would drop rows."""
    n = data.draw(st.integers(1, 24), label="rows")
    values = data.draw(st.lists(st.integers(0, 5), min_size=n, max_size=n), label="field")
    ids = data.draw(st.permutations(range(n)), label="ids")
    size = data.draw(st.integers(1, 4), label="batch size")
    start, spec = 0, size
    if shape == "day_timestamp":
        values = [_T0 + dt.timedelta(hours=11 * v, microseconds=123457 * v) for v in values]
        start, spec = _T0, ["day", size]
        ftype = data.draw(st.sampled_from(["timestamp", "timestamp_ntz"]), label="field type")
        schema, id_columns = f"f {ftype}, id int", ["id"]
        rows = list(zip(values, ids))
    elif shape == "composite_ids":
        schema, id_columns = "f int, a int, b int", ["a", "b"]
        rows = [(v, *divmod(i, 3)) for v, i in zip(values, ids)]
    else:
        if shape == "start_above_min":
            start = data.draw(st.integers(min(values) + 1, 6), label="start")
        schema, id_columns = "f int, id int", ["id"]
        rows = list(zip(values, ids))
    fact = spark.createDataFrame(rows, schema)

    keyed = batch_key_columns(fact.filter(F.col("f") >= F.lit(start)), "f", start, spec, id_columns)
    want: dict[tuple, list] = {}
    for r in keyed.collect():
        want.setdefault((r["__batch0__"], r["__batch1__"]), []).append(tuple(r[c] for c in fact.columns))

    plan = FactPlan(table="fact", id_columns=id_columns, out_columns=[])
    ex = Extract({"fact": fact}, plan, SnowflakeConfig(fact_table="fact"), ExtractConfig(
        field="f", start=start, batch=spec
    ))
    batches = ex.batches()
    assert [b.key for b in batches] == sorted(want)
    got: dict[tuple, list] = {}
    if batches:
        docs = ex.documents()
        tagged = [ex.ids_for_batch(b, docs).withColumn("__b__", F.lit(i)) for i, b in enumerate(batches)]
        # every shape's fact columns are its (f, *id_columns) positions
        cols = [position_column(j) for j in range(len(fact.columns))]
        for r in functools.reduce(lambda x, y: x.unionByName(y), tagged).collect():
            got.setdefault(batches[r["__b__"]].key, []).append(tuple(r[c] for c in cols))
    assert {k: sorted(v) for k, v in got.items()} == {k: sorted(v) for k, v in want.items()}
    for b in batches:
        assert b.first == min(row[fact.columns.index(id_columns[0])] for row in want[b.key])


# -- multi-partition sink round-trip: key_format batch naming, gzip, scrub
# at partition count > 1 (round-3 verdict item 5) --


def test_multibatch_multipartition_sink_roundtrip(spark, tmp_path):
    """Extract.run writes N>1 key_format-named batches from a >1-partition
    fact; reading every batch back (plain + the gzip/typed variants)
    reproduces collect_docs' scrubbed documents exactly."""
    import json

    from mysql_to_s3_spark.sinks.json_sink import collect_docs, write_json_lines
    from mysql_to_s3_spark.sinks.typed_json import untyped, write_typed_json_lines
    from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan, doc_frame
    from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables

    tables = build_tables(spark)
    tables["fact_table"] = tables["fact_table"].repartition(4)
    cfg = SnowflakeConfig(
        fact_table="fact_table",
        null_values=["-", "unknown", ""],
        reference_only=["inner1", "inner2"],
    )
    plan = build_plan(TABLES_META, RELATIONS, cfg)
    dest = str(tmp_path / "out")
    ex = Extract(
        tables, plan, cfg,
        ExtractConfig(field="id", start=10, batch=5, destination=dest, key_format="a.b"),
    )
    written = ex.run()
    # 12 fact rows (ids 10..22) in batches of 5 -> 3 key_format paths
    assert len(written) == 3
    assert sorted(p.rsplit("/", 1)[1] for p in written) == ["0.0", "0.1", "0.2"]

    def read_docs(path):
        lines = [r["value"] for r in spark.read.text(path).collect()]
        return [json.loads(ln) for ln in lines]

    got = []
    for p in written:
        for d in read_docs(p):
            assert d["etl"]["id"] == p.rsplit("/", 1)[1]  # lineage carries the batch key
            got.append(d["fact_table"])
    want_rows = collect_docs(doc_frame(tables, plan, cfg, ids=list(range(10, 23))), "fact_table")
    want = [w["fact_table"] for w in want_rows]
    keyed = lambda docs: sorted(docs, key=lambda d: json.dumps(d, sort_keys=True))
    assert keyed(got) == keyed(want)

    # gzip + partitions > 1 through the plain sink
    docs_df = doc_frame(tables, plan, cfg, ids=list(range(10, 23))).repartition(4)
    gz = str(tmp_path / "gz")
    write_json_lines(docs_df, gz, "fact_table", gzip=True)
    import glob

    parts = glob.glob(gz + "/part-*.txt.gz")
    assert len(parts) > 1  # really multi-partition, really gzip
    got_gz = [d["fact_table"] for d in read_docs(gz)]
    assert keyed(got_gz) == keyed(want)

    # typed-JSON sink on the same multi-partition frame: encode->untype
    # round-trips the scrubbed docs
    tj = str(tmp_path / "typed")
    write_typed_json_lines(docs_df, tj, "fact_table")
    got_tj = [untyped(d) for d in read_docs(tj)]
    # scrub drops nothing typed adds; untyped({}) == {} matches scrubbed-None docs
    assert keyed(got_tj) == keyed([w if w is not None else {} for w in want])
