"""Library operators keep no cache between actions: after an operator
call, and after collecting its result, the session's CacheManager holds
nothing the operator registered, and an identical second call returns
the same rows. Caching is the caller's explicit choice (the catalog
rows' ``.cache()`` frames, which ``spark.catalog.clearCache()`` drops)."""

import pytest
from pyspark.sql import functions as F


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _edges(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.executor import run

    return run(
        {
            "from": "orders",
            "edges": ["o_orderstatus", "o_orderpriority"],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )


def _prepare(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus

    return prepare_corpus(docs, CorpusConfig(near_dup="ngram", near_threshold=0.9)).docs


def _minhash(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(docs, threshold=0.9)


def _simhash(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.dedup import simhash_pairs

    return simhash_pairs(docs, max_hamming=3)


def _spans(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

    return strip_duplicated_spans(docs, k=5)


def _exact_screen(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.dedup_index import exact_screen_against_index

    return exact_screen_against_index(docs, index, use_bloom=True)


def _index_screen(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.dedup_index import dedup_against_index

    return dedup_against_index(docs, index, threshold=0.9)


def _percentile(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.operators.quantiles import exact_percentile_grouped
    from mysql_to_s3_spark.sources.registry import load_table

    return exact_percentile_grouped(
        load_table(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity", 0.9
    )


def _extract(spark, sf_dir, docs, index, tmp_path):
    from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig
    from tests.fixtures_snowflake import orders_snowflake

    out = str(tmp_path / "extract")
    Extract(*orders_snowflake(spark, sf_dir), ExtractConfig(
        field="o_orderkey", batch=500, destination=out
    )).run()
    return spark.read.text(f"{out}/*")


@pytest.fixture(scope="module")
def screen_inputs(spark, sf_dir, tmp_path_factory):
    """The sf documents, and a dedup index with a fresh bloom sidecar
    built from their first half (so the bloom path routes both ways)."""
    from mysql_to_s3_spark.operators.bloom import write_bloom_sidecar
    from mysql_to_s3_spark.operators.dedup_index import write_dedup_index
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    index = str(tmp_path_factory.mktemp("nocache") / "idx")
    write_dedup_index(docs.filter(F.col("doc_id") < n // 2), index)
    write_bloom_sidecar(index, spark)
    spark.catalog.clearCache()
    return docs, index


@pytest.mark.parametrize(
    "call",
    [_edges, _prepare, _minhash, _simhash, _spans, _exact_screen, _index_screen, _percentile, _extract],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_operator_leaves_no_cached_frame(spark, sf_dir, screen_inputs, call, tmp_path):
    """A library operator registers nothing with Spark's CacheManager
    that outlives its own call, so a query's plan and cost do not depend
    on what ran before it in the session."""
    docs, index = screen_inputs
    spark.catalog.clearCache()
    df = call(spark, sf_dir, docs, index, tmp_path)
    assert _cache_empty(spark), "the call left a cached frame"
    first = sorted(map(tuple, df.collect()), key=repr)
    assert _cache_empty(spark), "the collect left a cached frame"
    again = sorted(map(tuple, call(spark, sf_dir, docs, index, tmp_path).collect()), key=repr)
    assert again == first
    assert _cache_empty(spark)
