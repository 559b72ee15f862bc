"""The edges densify step builds its dense cube in the JVM: for every
domain kind, the dense frame's rows (in order) and key types equal
``itertools.product`` of the domains' part lists, and the plan's dense
side is a one-partition ``Range`` with no Python worker behind it."""

import datetime as dt
import itertools

import pytest
from pyspark.sql import types as T

from mysql_to_s3_spark.operators import executor
from mysql_to_s3_spark.plans.domains import compile_domain
from tests.test_plans import plan_of

# quotes, backticks, a dot, astral characters, a backslash, the empty string
HOSTILE = ["it's", 'say "hi"', "back`tick", "a.b", "\U0001d518\U0001f600", "x\\y", ""]

RANGE = {"type": "range", "min": 0, "max": 10, "interval": 2.5}
WEEK = {"type": "time", "min": "2024-01-01", "max": "2024-03-01", "interval": "week"}
MONTH = {"type": "time", "min": "2024-01-01", "max": "2024-06-01", "interval": "month"}
SET = {"type": "set", "partitions": ["a", "b", "c"]}
GENERAL = {
    "type": "set",
    "partitions": [{"name": "low", "where": {"lt": {"n": 3}}}, {"name": "high", "where": {"gte": {"n": 3}}}],
}
DEFAULT = {"type": "default"}

# (value, domain, key type of the dense side)
EDGES = {
    "range": ("n", RANGE, T.DoubleType()),
    "week": ("ts", WEEK, T.TimestampType()),
    "month": ("ts", MONTH, T.TimestampType()),
    "set": ("s", SET, T.StringType()),
    "general_set": ("n", GENERAL, T.StringType()),
    "default": ("k", DEFAULT, T.LongType()),
    "default_ts": ("ts", DEFAULT, T.TimestampType()),
    "empty_set": ("s", {"type": "set", "partitions": []}, T.StringType()),
    "hostile_set": ("s", {"type": "set", "partitions": HOSTILE}, T.StringType()),
}


@pytest.fixture(scope="module")
def facts(spark):
    rows = [
        (float(i), dt.datetime(2024, 1 + i % 5, 1 + i % 27, i % 24), s, i % 4 if i % 7 else None)
        for i, s in enumerate(["a", "b", "zz", None, *HOSTILE, "c", "a"])
    ]
    return spark.createDataFrame(rows, "n double, ts timestamp, s string, k bigint")


def _dense_and_result(spark, monkeypatch, facts, edges):
    """Run a counting edges query over ``facts``; return the dense frame the
    executor built for it and the query result."""
    seen = []
    real = executor._dense_cube

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    monkeypatch.setattr(executor, "_dense_cube", spy)
    out = executor.run(
        {"from": "t", "edges": edges, "select": [{"name": "cnt", "value": ".", "aggregate": "count"}]},
        spark=spark,
        containers={"t": facts},
    )
    (dense,) = seen
    return dense, out


def _epoch(v):
    return v.timestamp() if isinstance(v, dt.datetime) else v


def _expected_parts(facts, value, domain, allow_nulls):
    """Part list of one edge as Python values; time parts as epoch seconds."""
    parts = compile_domain(domain).part_values
    if parts is None:
        parts = [_epoch(v) for v in sorted({r[0] for r in facts.select(value).collect()} - {None})]
    return list(parts) + [None] * allow_nulls


def _cells(df) -> list[tuple]:
    return [tuple(map(_epoch, r)) for r in df.collect()]


@pytest.mark.parametrize("allow_nulls", [True, False])
@pytest.mark.parametrize("kinds", [[k] for k in EDGES] + [["set", "range"], ["week", "general_set"]], ids="x".join)
def test_dense_cube_equals_product_of_parts(spark, monkeypatch, facts, kinds, allow_nulls):
    edges = [
        {"name": f"e{i}", "value": EDGES[k][0], "domain": EDGES[k][1], "allowNulls": allow_nulls}
        for i, k in enumerate(kinds)
    ]
    dense, out = _dense_and_result(spark, monkeypatch, facts, edges)
    part_lists = [_expected_parts(facts, EDGES[k][0], EDGES[k][1], allow_nulls) for k in kinds]
    assert _cells(dense) == list(itertools.product(*part_lists))
    assert [f.dataType for f in dense.schema.fields] == [EDGES[k][2] for k in kinds]
    assert dense.rdd.getNumPartitions() == (1 if part_lists[0] else 0)
    # every dense cell survives the densify join exactly once
    assert sorted(_cells(out.select(*[e["name"] for e in edges])), key=repr) == sorted(
        itertools.product(*part_lists), key=repr
    )


def test_dense_side_is_a_jvm_range(spark, sf_dir):
    out = executor.run(
        {
            "from": "lineitem",
            "edges": [
                {"name": "flag", "value": "l_returnflag", "domain": {"type": "set", "partitions": ["A", "N", "R"]}},
                {"name": "q", "value": "l_quantity", "domain": RANGE},
            ],
            "select": [{"name": "cnt", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(out)
    tree = plan.split("\n\n")[0]
    assert "Range (" in tree, tree
    assert "Range (0, 20, step=1, splits=Some(1))" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "Python" not in tree and "Pandas" not in tree and "Arrow" not in tree, tree
