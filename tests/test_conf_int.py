"""Every integer conf the package reads goes through one reader,
``session.conf_int``: a malformed value raises the reading module's
error class naming the conf key, instead of a bare ``int()`` error or a
silent fall back to the default."""

import re

import pytest
from pyspark.sql import functions as F


def _window(spark):
    from mysql_to_s3_spark.operators.windows import _guard_global_window

    _guard_global_window(spark.range(3), "w")


def _components(spark):
    from mysql_to_s3_spark.operators.components import connected_components

    connected_components(spark.createDataFrame([(1, 2)], "a bigint, b bigint"))


def _funnel(spark):
    from mysql_to_s3_spark.operators.sessions import funnel_within

    ev = spark.createDataFrame([(1, 1)], "u bigint, s bigint").withColumn("ts", F.current_timestamp())
    funnel_within(ev, by=["u"], steps=[F.col("s") == 1], within="1 day")


def _decontam(spark):
    from mysql_to_s3_spark.operators.decontam import contamination_pairs

    docs = spark.createDataFrame([(1, "some text here")], "doc_id bigint, text string")
    contamination_pairs(docs, docs)


def _lm(spark):
    from mysql_to_s3_spark.operators.lm import unigram_scorer

    unigram_scorer(spark.createDataFrame([("a", 1)], "token string, n bigint"))


def _knn_batch(spark):
    from mysql_to_s3_spark.operators.similarity import ivf_search_index_batch

    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>")
    ivf_search_index_batch(spark, "/nonexistent-index", q)


def _knn_join(spark):
    from mysql_to_s3_spark.operators.similarity import knn_join

    q = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>")
    knn_join(q, q)


def _sink(spark):
    from mysql_to_s3_spark.sinks.json_sink import collect_docs

    collect_docs(spark.range(1).withColumnRenamed("id", "__id__"), "fact")


def _classifier(spark):
    from mysql_to_s3_spark.operators.classifier import fit_partitions

    fit_partitions(spark.range(1).selectExpr("cast(id as string) as text"))


def _child_cap(spark):
    from mysql_to_s3_spark.sources.snowflake import _resolved_child_cap

    _resolved_child_cap(spark.range(1), None)


def _child_salt(spark):
    from mysql_to_s3_spark.sources.snowflake import _resolved_child_salt

    _resolved_child_salt(spark.range(1), None)


_PKG = "mysql_to_s3_spark."

# (conf key, the error class the reader raises, a call that reads it)
CASES = [
    ("window.maxGlobalRows", "operators.windows.WindowError", _window),
    ("components.smallGraphEdges", "operators.components.ComponentsError", _components),
    ("funnel.eventCapPerKey", None, _funnel),
    ("decontam.broadcastMaxShingles", None, _decontam),
    ("lm.collectCap", "operators.lm.LmError", _lm),
    ("similarity.knnQueryCap", "operators.similarity.KnnError", _knn_batch),
    ("similarity.knnQueryCap", "operators.similarity.KnnError", _knn_join),
    ("sink.collectDocsMaxRows", "sinks.json_sink.SinkError", _sink),
    ("classifier.fitPartitions", "operators.classifier.ClassifierError", _classifier),
    ("snowflake.childCap", "sources.snowflake.SnowflakeError", _child_cap),
    ("snowflake.childSalt", "sources.snowflake.SnowflakeError", _child_salt),
]


@pytest.mark.parametrize("key,error,call", CASES, ids=[c[2].__name__.lstrip("_") for c in CASES])
def test_malformed_integer_conf_names_its_key(spark, key, error, call):
    import importlib

    err = ValueError
    if error is not None:
        module, _, name = (_PKG + error).rpartition(".")
        err = getattr(importlib.import_module(module), name)
    spark.conf.set(_PKG + key, "abc")
    try:
        with pytest.raises(err, match=re.escape(_PKG + key)):
            call(spark)
    finally:
        spark.conf.unset(_PKG + key)
