"""The package reads one session conf, ``window.maxGlobalRows`` (a
deployment-sized bound that a JX query has no argument to carry): a
malformed value raises the reading module's error class naming the key,
instead of a bare ``int()`` error or a silent fall back to the default.
Every other operator bound is an explicit argument or a module constant,
so a key an earlier caller left set in the session changes no result."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F


def _window(spark):
    from mysql_to_s3_spark.operators.windows import _guard_global_window

    _guard_global_window(spark.range(3), "w")


_PKG = "mysql_to_s3_spark."

# (conf key, the error class the reader raises, a call that reads it)
CASES = [
    ("window.maxGlobalRows", "operators.windows.WindowError", _window),
]


@pytest.mark.parametrize("key,error,call", CASES, ids=[c[2].__name__.lstrip("_") for c in CASES])
def test_malformed_integer_conf_names_its_key(spark, key, error, call):
    import importlib

    module, _, name = (_PKG + error).rpartition(".")
    err = getattr(importlib.import_module(module), name)
    spark.conf.set(_PKG + key, "abc")
    try:
        with pytest.raises(err, match=re.escape(_PKG + key)):
            call(spark)
    finally:
        spark.conf.unset(_PKG + key)


# keys the package once read, set to values that changed results then
_FORMER_KEYS = {
    "snowflake.childCap": "1",
    "snowflake.childSalt": "4",
    "funnel.eventCapPerKey": "1",
    "allowHaving": "false",
}


def _outputs(spark):
    """(schema, ordered rows) of a snowflake document frame, a time-boxed
    funnel and a ``having`` query."""
    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.operators.sessions import funnel_within
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan, doc_frame
    from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables

    cfg = SnowflakeConfig(fact_table="fact_table", reference_only=["inner1", "inner2"])
    docs = doc_frame(build_tables(spark), build_plan(TABLES_META, RELATIONS, cfg), cfg)

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [("k", t0 + dt.timedelta(minutes=i), e) for i, e in enumerate("AXBC")]
        + [("j", t0, "A")],
        "k string, ts timestamp, e string",
    )
    funnel = funnel_within(
        events, by=["k"], steps=[F.col("e") == s for s in "ABC"], within="1 hour"
    )

    having = run(
        {
            "from": "t",
            "groupby": ["k"],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "having": {"gt": ["n", 1]},
        },
        containers={"t": events},
    )
    return [
        (df.schema, df.orderBy(key).collect())
        for df, key in ((docs, "__id__"), (funnel, "k"), (having, "k"))
    ]


def test_former_conf_keys_change_no_result(spark):
    """Keys the package no longer reads leave the document frame's schema
    and rows, the funnel and the ``having`` filter as a clean session
    computes them."""
    clean = _outputs(spark)
    for key, value in _FORMER_KEYS.items():
        spark.conf.set(_PKG + key, value)
    try:
        assert _outputs(spark) == clean
    finally:
        for key in _FORMER_KEYS:
            spark.conf.unset(_PKG + key)
