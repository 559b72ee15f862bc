"""Tests for format=table|cube shaping, document ingest with the
type-widening lattice, and container update/delete."""

import pytest

from mysql_to_s3_spark.plans.formats import run_formatted
from mysql_to_s3_spark.sources.ingest import (
    IngestError,
    delete_rows,
    infer_schema,
    ingest_docs,
    insert_docs,
    merge_type,
    update_container,
)


# -- formats --


def test_format_table(spark, sf_dir):
    q = {
        "from": "lineitem",
        "select": ["l_orderkey", "l_quantity"],
        "sort": ["l_orderkey", "l_linenumber"],
        "where": {"lt": {"l_orderkey": 3}},
        "limit": 100,
        "format": "table",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    assert out["meta"]["format"] == "table"
    assert out["header"] == ["l_orderkey", "l_quantity"]
    assert all(len(row) == 2 for row in out["data"])


def test_format_cube_rownum(spark, sf_dir):
    q = {
        "from": "lineitem",
        "select": ["l_orderkey", "l_quantity"],
        "sort": ["l_orderkey", "l_linenumber"],
        "where": {"lt": {"l_orderkey": 3}},
        "limit": 100,
        "format": "cube",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    assert out["edges"][0]["name"] == "rownum"
    n = out["edges"][0]["domain"]["max"]
    assert len(out["data"]["l_orderkey"]) == n == len(out["data"]["l_quantity"])


def test_format_cube_edges_dense_null_last(spark, sf_dir):
    q = {
        "from": "customer",
        "edges": [
            {
                "name": "seg",
                "value": "c_mktsegment",
                "domain": {"type": "set", "partitions": ["AUTOMOBILE", "BUILDING", "NOSUCH"]},
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    parts = [p["value"] for p in out["edges"][0]["domain"]["partitions"]]
    assert parts[-1] is None  # allowNulls bucket last
    assert set(parts[:-1]) == {"AUTOMOBILE", "BUILDING", "NOSUCH"}
    data = out["data"]["n"]
    assert len(data) == len(parts)
    assert data[parts.index("NOSUCH")] == 0  # dense empty cell


def test_format_cube_set_domain_declaration_order(spark, sf_dir):
    """Cube partitions follow the DECLARED domain order (reference cubes
    are not alphabetized); null bucket appends after."""
    q = {
        "from": "customer",
        "edges": [
            {
                "name": "seg",
                "value": "c_mktsegment",
                "domain": {"type": "set", "partitions": ["MACHINERY", "AUTOMOBILE", "BUILDING"]},
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    parts = [p["value"] for p in out["edges"][0]["domain"]["partitions"]]
    assert parts[:3] == ["MACHINERY", "AUTOMOBILE", "BUILDING"]
    assert parts[-1] is None


def test_format_cube_general_set_declaration_order(spark, sf_dir):
    """General-set (where-parts) cubes keep named parts in declaration
    order; mixed part names must not hit a sorted() TypeError."""
    q = {
        "from": "lineitem",
        "edges": [
            {
                "name": "band",
                "value": "l_quantity",
                "domain": {
                    "type": "set",
                    "partitions": [
                        {"name": "small", "where": {"lt": {"l_quantity": 10}}},
                        {"name": "big", "where": {"gte": {"l_quantity": 40}}},
                        {"name": "mid", "where": {"gte": {"l_quantity": 10}}},
                    ],
                },
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    parts = [p["value"] for p in out["edges"][0]["domain"]["partitions"]]
    assert parts[:3] == ["small", "big", "mid"]  # declaration order, not alphabetical


def test_format_cube_time_edge_outside_utc(spark, sf_dir, duck):
    """A time edge's declared parts use the convention PySpark collects
    TimestampType in (naive LOCAL datetimes), so outside UTC the cube
    lists exactly the declared parts and every count lands in its part."""
    import datetime as dt
    import os
    import time

    q = {
        "from": "orders",
        "edges": [
            {
                "name": "qtr",
                "value": "o_orderdate",
                "allowNulls": False,
                "domain": {"type": "time", "min": "1995-01-01", "max": "1996-01-01", "interval": "3month"},
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube",
    }
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        out = run_formatted(q, spark=spark, sf_dir=sf_dir)
        starts = [
            dt.datetime(1995, m, 1, tzinfo=dt.timezone.utc).timestamp() for m in (1, 4, 7, 10)
        ]
        declared = [dt.datetime.fromtimestamp(s) for s in starts]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    parts = [p["value"] for p in out["edges"][0]["domain"]["partitions"]]
    assert parts == declared
    want = dict(
        duck.execute(
            """SELECT (month(o_orderdate) - 1) // 3, count(*) FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                 AND o_orderdate < TIMESTAMP '1996-01-01'
               GROUP BY 1"""
        ).fetchall()
    )
    assert out["data"]["n"] == [want.get(i, 0) for i in range(4)]


def test_format_cube_two_edges_matrix(spark, sf_dir):
    q = {
        "from": "lineitem",
        "edges": [
            {"name": "flag", "value": "l_returnflag", "allowNulls": False},
            {"name": "status", "value": "l_linestatus", "allowNulls": False},
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "limit": 1000,
        "format": "cube",
    }
    out = run_formatted(q, spark=spark, sf_dir=sf_dir)
    flags = [p["value"] for p in out["edges"][0]["domain"]["partitions"]]
    statuses = [p["value"] for p in out["edges"][1]["domain"]["partitions"]]
    m = out["data"]["n"]
    assert len(m) == len(flags) and all(len(row) == len(statuses) for row in m)
    total = sum(x for row in m for x in row if x)
    assert total == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()


# -- ingest: type-widening lattice --


def test_merge_type_lattice():
    assert merge_type("integer", "number") == "number"
    assert merge_type("boolean", "integer") == "integer"
    assert merge_type("number", "string") == "string"
    assert merge_type("null", "boolean") == "boolean"
    assert merge_type({"array": "integer"}, "number") == {"array": "number"}
    assert merge_type(
        {"object": {"a": "integer"}}, {"object": {"a": "number", "b": "string"}}
    ) == {"object": {"a": "number", "b": "string"}}
    with pytest.raises(IngestError):
        merge_type({"object": {}}, "integer")


def test_ingest_mixed_types_widen(spark):
    docs = [
        {"x": 1, "tags": "a"},
        {"x": 2.5, "tags": ["b", "c"], "extra": True},
    ]
    df = ingest_docs(spark, docs)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["x"] == "double"  # integer widened to number
    assert types["tags"] == "array<string>"  # scalar widened into array
    rows = sorted(df.collect(), key=lambda r: r["x"])
    assert rows[0]["tags"] == ["a"] and rows[1]["tags"] == ["b", "c"]
    assert rows[0]["extra"] is None and rows[1]["extra"] is True


def test_ingest_nested_object(spark):
    docs = [{"o": {"a": 1}}, {"o": {"a": 2, "b": {"c": "x"}}}]
    df = ingest_docs(spark, docs)
    rows = sorted(df.collect(), key=lambda r: r["o"]["a"])
    assert rows[1]["o"]["b"]["c"] == "x"
    assert rows[0]["o"]["b"] is None


def test_insert_docs_schema_evolution(spark):
    df = ingest_docs(spark, [{"x": 1}])
    df2 = insert_docs(df, [{"x": 2, "y": "new"}])
    rows = sorted(df2.collect(), key=lambda r: r["x"])
    assert rows[0]["y"] is None and rows[1]["y"] == "new"


def test_insert_docs_incompatible_rebuild(spark):
    df = ingest_docs(spark, [{"x": 1}])
    df2 = insert_docs(df, [{"x": "now a string"}])
    assert {r["x"] for r in df2.collect()} == {"1", "now a string"}


def test_insert_docs_widening_is_distributed():
    """The incompatible-widening path must never pull the container to the
    driver (OOM at scale): the module may not call DataFrame.collect."""
    import inspect

    from mysql_to_s3_spark.sources import ingest

    assert ".collect()" not in inspect.getsource(ingest)


def test_insert_docs_widen_matches_driver_coercions(spark):
    """Distributed _cast_col must render exactly what driver-side _coerce
    renders: integral doubles as '7', booleans as 'true'/'false'."""
    df = ingest_docs(spark, [{"x": 7.0, "b": True}])
    df2 = insert_docs(df, [{"x": "s", "b": "maybe"}])
    got = {(r["x"], r["b"]) for r in df2.collect()}
    assert got == {("7", "true"), ("s", "maybe")}


def test_insert_docs_widen_scalar_to_array(spark):
    df = ingest_docs(spark, [{"t": "solo"}, {"t": None}])
    df2 = insert_docs(df, [{"t": ["a", "b"]}])
    got = sorted((r["t"] for r in df2.collect()), key=lambda v: (v is None, v))
    assert got == [["a", "b"], ["solo"], None]  # NULL stays NULL, not [NULL]


def test_ingest_preserve_mixed_types_variant(spark):
    """on_conflict='preserve' keeps dynamic value types as variant
    structs instead of widening to string (the reference never coerces
    stored values; only column metadata widens)."""
    from mysql_to_s3_spark.functions.variants import variant_python_value

    docs = [{"x": True}, {"x": 7}, {"x": 2.5}, {"x": "s"}, {"x": None}]
    df = ingest_docs(spark, docs, on_conflict="preserve")
    assert df.schema["x"].dataType.simpleString() == "struct<b:boolean,n:double,s:string>"
    vals = {variant_python_value(r["x"]) for r in df.collect()}
    assert vals == {True, 7.0, 2.5, "s", None}


def test_mixed_type_sort_follows_type_order(spark):
    """Sorting an ingested mixed container follows value_compare's
    TYPE_ORDER: boolean < number < string < missing (jx.py:562-627)."""
    from mysql_to_s3_spark.functions.variants import variant_python_value
    from mysql_to_s3_spark.operators.executor import run

    docs = [
        {"i": 1, "x": "b"}, {"i": 2, "x": 10}, {"i": 3, "x": None},
        {"i": 4, "x": True}, {"i": 5, "x": "a"}, {"i": 6, "x": 9},
        {"i": 7, "x": False}, {"i": 8, "x": 9.5},
    ]
    df = ingest_docs(spark, docs, on_conflict="preserve")
    out = run(
        {"from": "t", "select": ["i", "x"], "sort": ["x", "i"], "limit": 100},
        spark=spark, containers={"t": df},
    )
    got = [variant_python_value(r["x"]) for r in out.collect()]
    # bools first (False<True), then numbers ascending (9 < 9.5 < 10 —
    # NOT the lexicographic '10'<'9' a string-widened sort would give),
    # then strings, missing last
    assert got == [False, True, 9.0, 9.5, 10.0, "a", "b", None]


def test_insert_docs_preserve_mode_variant_union(spark):
    df = ingest_docs(spark, [{"x": 1}])
    df2 = insert_docs(df, [{"x": "s"}], on_conflict="preserve")
    from mysql_to_s3_spark.functions.variants import variant_python_value

    assert {variant_python_value(r["x"]) for r in df2.collect()} == {1.0, "s"}


def test_insert_docs_widen_nested_object_field(spark):
    df = ingest_docs(spark, [{"o": {"a": 1, "keep": "k"}}])
    df2 = insert_docs(df, [{"o": {"a": 2.5}}])
    rows = sorted(df2.collect(), key=lambda r: r["o"]["a"])
    assert rows[0]["o"]["a"] == 1.0 and rows[0]["o"]["keep"] == "k"
    assert rows[1]["o"]["a"] == 2.5 and rows[1]["o"]["keep"] is None
    types = {f.name: f.dataType.simpleString() for f in df2.schema.fields}
    assert types["o"] == "struct<a:double,keep:string>"


def test_ingested_docs_queryable(spark):
    from mysql_to_s3_spark.operators.executor import run

    df = ingest_docs(spark, [{"a": 1, "b": "x"}, {"a": 5, "b": "y"}, {"a": 9, "b": "x"}])
    out = run(
        {"from": "docs", "groupby": ["b"], "select": [{"name": "s", "value": "a", "aggregate": "sum"}]},
        containers={"docs": df},
    ).collect()
    got = {r["b"]: r["s"] for r in out}
    assert got == {"x": 10, "y": 5}


# -- update / delete --


def test_update_container(spark):
    df = ingest_docs(spark, [{"a": 1, "b": "x"}, {"a": 5, "b": "y"}])
    out = update_container(df, {"set": {"b": {"literal": "z"}}, "where": {"gt": {"a": 3}}})
    got = {r["a"]: r["b"] for r in out.collect()}
    assert got == {1: "x", 5: "z"}


def test_update_clear(spark):
    df = ingest_docs(spark, [{"a": 1, "b": "x"}, {"a": 5, "b": "y"}])
    out = update_container(df, {"clear": ["b"], "where": {"eq": {"a": 1}}})
    got = {r["a"]: r["b"] for r in out.collect()}
    assert got == {1: None, 5: "y"}


def test_delete_rows(spark):
    df = ingest_docs(spark, [{"a": 1}, {"a": 5}, {"a": 9}])
    out = delete_rows(df, {"gt": {"a": 3}})
    assert [r["a"] for r in out.collect()] == [1]


def test_collect_docs_refuses_unbounded_input(spark, monkeypatch):
    """collect_docs is the bounded driver-side path: above its row bound
    it raises instead of OOMing the driver."""
    import pytest
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sinks import json_sink
    from mysql_to_s3_spark.sinks.json_sink import SinkError, collect_docs

    df = spark.range(100).select(
        F.col("id").alias("__id__"), F.struct(F.col("id").alias("v")).alias("fact")
    )
    monkeypatch.setattr(json_sink, "COLLECT_DOCS_MAX_ROWS", 50)
    with pytest.raises(SinkError):
        collect_docs(df, "fact")
    assert len(collect_docs(df.limit(50), "fact")) == 50
