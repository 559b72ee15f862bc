"""Deterministic hash-split / hash-sample (operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.sampling import (
    SPLIT_BUCKETS,
    hash_bucket,
    hash_sample,
    hash_split,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 20000).withColumnRenamed("id", "doc_id")


def test_split_fractions_approximate_and_exhaustive(ids):
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    counts = dict(
        ids.select(hash_split(F.col("doc_id"), fr).alias("s")).groupBy("s").count().collect()
    )
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01


def test_split_is_deterministic_and_order_independent(spark, ids):
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = {r.doc_id: r.s for r in ids.select("doc_id", hash_split(F.col("doc_id"), fr).alias("s")).collect()}
    shuffled = ids.orderBy(F.reverse(F.col("doc_id").cast("string"))).repartition(7)
    b = {r.doc_id: r.s for r in shuffled.select("doc_id", hash_split(F.col("doc_id"), fr).alias("s")).collect()}
    assert a == b


def test_bad_fractions_rejected():
    with pytest.raises(ValueError):
        hash_split(F.col("x"), {"a": 0.5, "b": 0.2})


def test_hash_sample_is_stable_subset(ids):
    s10 = {r.doc_id for r in hash_sample(ids, 0.10).collect()}
    s20 = {r.doc_id for r in hash_sample(ids, 0.20).collect()}
    # nested: growing the rate only ADDS rows (bucket < cut is monotone)
    assert s10 <= s20
    assert abs(len(s10) / 20000 - 0.10) < 0.01
    # repeat run selects the identical rows
    assert s10 == {r.doc_id for r in hash_sample(ids, 0.10).collect()}


def test_bucket_range(ids):
    mm = ids.select(
        F.min(hash_bucket(F.col("doc_id"))).alias("lo"),
        F.max(hash_bucket(F.col("doc_id"))).alias("hi"),
    ).first()
    assert 0 <= mm.lo and mm.hi < SPLIT_BUCKETS


def test_stratified_sample_rates_and_determinism(spark, ids):
    from mysql_to_s3_spark.operators.sampling import stratified_hash_sample

    strat = ids.withColumn(
        "src",
        F.when(F.col("doc_id") % 3 == 0, "web")
        .when(F.col("doc_id") % 3 == 1, "books")
        .otherwise("logs"),
    )
    rates = {"books": 1.0, "web": 0.3, "logs": 0.0}
    out = stratified_hash_sample(strat, rates, "src")
    counts = dict(out.groupBy("src").count().collect())
    n = 20000 / 3
    assert counts.get("logs", 0) == 0
    assert counts["books"] == pytest.approx(n, rel=0.01)
    assert counts["web"] == pytest.approx(0.3 * n, rel=0.1)
    # repeat run: identical rows
    again = {r.doc_id for r in stratified_hash_sample(strat, rates, "src").collect()}
    assert again == {r.doc_id for r in out.collect()}
    # nested: raising a rate only adds rows
    more = {r.doc_id for r in stratified_hash_sample(strat, {**rates, "web": 0.6}, "src").collect()}
    assert {r.doc_id for r in out.collect()} <= more


def test_stratified_sample_independent_of_split(ids):
    """The salted draw must not align with hash_split's unsalted buckets:
    sampling web at 50% keeps ~50% of EACH split label, not one label."""
    from mysql_to_s3_spark.operators.sampling import stratified_hash_sample

    strat = ids.withColumn("src", F.lit("web")).withColumn(
        "split", hash_split(F.col("doc_id"), {"train": 0.5, "val": 0.5})
    )
    out = stratified_hash_sample(strat, {"web": 0.5}, "src")
    counts = dict(out.groupBy("split").count().collect())
    assert counts["train"] == pytest.approx(5000, rel=0.05)
    assert counts["val"] == pytest.approx(5000, rel=0.05)


def test_stratified_sample_matches_duckdb(spark, ids):
    import duckdb

    from mysql_to_s3_spark.operators.sampling import (
        stratified_hash_sample,
        stratified_hash_sample_sql,
    )

    strat = ids.withColumn("src", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b"))
    rates = {"a": 0.25, "b": 0.75}
    got = {r.doc_id for r in stratified_hash_sample(strat, rates, "src").collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT range AS doc_id, "
        "CASE WHEN range % 2 = 0 THEN 'a' ELSE 'b' END AS src FROM range(20000)"
    )
    want = {r[0] for r in con.execute(stratified_hash_sample_sql("t", rates, "src")).fetchall()}
    assert got == want


def test_stratified_sample_bad_rates():
    from mysql_to_s3_spark.operators.sampling import stratified_hash_sample

    with pytest.raises(ValueError):
        stratified_hash_sample(None, {"a": 1.5}, "src")


def test_stratified_sample_sql_edge_cases(spark, ids):
    """Empty rates and quoted stratum names stay valid SQL and keep
    parity with the Spark side."""
    import duckdb

    from mysql_to_s3_spark.operators.sampling import (
        stratified_hash_sample,
        stratified_hash_sample_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW t AS SELECT range AS doc_id, "
        "CASE WHEN range % 2 = 0 THEN 'o''reilly' ELSE 'b' END AS src FROM range(2000)"
    )
    strat = ids.filter(F.col("doc_id") < 2000).withColumn(
        "src", F.when(F.col("doc_id") % 2 == 0, "o'reilly").otherwise("b")
    )
    # empty rates -> pure default_rate, no CASE
    got = {r.doc_id for r in stratified_hash_sample(strat, {}, "src", default_rate=0.5).collect()}
    want = {r[0] for r in con.execute(
        stratified_hash_sample_sql("t", {}, "src", default_rate=0.5)).fetchall()}
    assert got == want and 0 < len(got) < 2000
    # quoted stratum name
    rates = {"o'reilly": 0.4, "b": 0.0}
    got = {r.doc_id for r in stratified_hash_sample(strat, rates, "src").collect()}
    want = {r[0] for r in con.execute(stratified_hash_sample_sql("t", rates, "src")).fetchall()}
    assert got == want and len(got) > 0


def test_sample_per_key_caps_and_is_stable(spark, ids):
    from mysql_to_s3_spark.operators.sampling import sample_per_key

    strat = ids.withColumn("src", (F.col("doc_id") % 5).cast("string"))
    out = sample_per_key(strat, by=["src"], n=100)
    counts = dict(out.groupBy("src").count().collect())
    assert all(c == 100 for c in counts.values()) and len(counts) == 5
    # keys with fewer than n rows keep everything
    small = strat.filter(F.col("doc_id") < 30)
    assert sample_per_key(small, by=["src"], n=100).count() == 30
    # deterministic: same rows on repeat and under reshuffling
    a = {r.doc_id for r in out.collect()}
    shuffled = strat.orderBy(F.reverse(F.col("doc_id").cast("string"))).repartition(7)
    b = {r.doc_id for r in sample_per_key(shuffled, by=["src"], n=100).collect()}
    assert a == b
    # growth stability: adding rows only ever displaces kept rows with
    # lower-hash newcomers — kept set of the subset ⊇ overlap rule:
    # every row kept from the FULL corpus that exists in the subset is
    # also kept from the subset
    sub = strat.filter(F.col("doc_id") % 3 != 0)
    kept_sub = {r.doc_id for r in sample_per_key(sub, by=["src"], n=100).collect()}
    sub_ids = {r.doc_id for r in sub.select("doc_id").collect()}
    assert (a & sub_ids) <= kept_sub


def test_epoch_shuffle_is_a_permutation(spark, sf_dir):
    """Every doc appears exactly once; positions are dense 0..n-1 within
    each shard; the same epoch reproduces bit-for-bit and different
    epochs give different permutations."""
    from mysql_to_s3_spark.operators.sampling import epoch_shuffle
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    a = epoch_shuffle(docs, epoch=1, n_shards=4).select("doc_id", "shard", "pos")
    rows = a.collect()
    assert len(rows) == n and len({r.doc_id for r in rows}) == n
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    again = {(r.doc_id, r.shard, r.pos) for r in
             epoch_shuffle(docs, epoch=1, n_shards=4).select("doc_id", "shard", "pos").collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    other = {(r.doc_id, r.shard, r.pos) for r in
             epoch_shuffle(docs, epoch=2, n_shards=4).select("doc_id", "shard", "pos").collect()}
    assert other != again


def test_epoch_shuffle_matches_duckdb(spark, sf_dir, duck):
    from mysql_to_s3_spark.operators.sampling import epoch_shuffle, epoch_shuffle_sql
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {(r.doc_id, r.shard, r.pos) for r in
           epoch_shuffle(docs, epoch=7, n_shards=8).select("doc_id", "shard", "pos").collect()}
    want = set(map(tuple, duck.execute(epoch_shuffle_sql("documents", 7, 8)).fetchall()))
    assert got == want


def test_epoch_shuffle_rejects_colliding_columns(spark):
    import pytest as _pytest

    from mysql_to_s3_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(1, 0)], "doc_id long, shard int")
    with _pytest.raises(ValueError, match="shard"):
        epoch_shuffle(df, epoch=1, n_shards=2)


def test_epoch_shuffle_single_exchange(spark, sf_dir):
    from mysql_to_s3_spark.operators.sampling import epoch_shuffle
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        epoch_shuffle(docs, epoch=1, n_shards=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------- repeat_epochs


def test_repeat_epochs_whole_rates(spark):
    from mysql_to_s3_spark.operators.sampling import repeat_epochs

    df = spark.createDataFrame([(i, "x") for i in range(20)], "doc_id long, lang string")
    out = repeat_epochs(df, 2.0).collect()
    assert len(out) == 40
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.epoch_copy)
    assert all(sorted(v) == [0, 1] for v in per_doc.values())


def test_repeat_epochs_fractional_and_strata(spark):
    from mysql_to_s3_spark.operators.sampling import repeat_epochs

    rows = [(i, "wiki" if i % 2 == 0 else "web") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = repeat_epochs(df, {"wiki": 2.45, "web": 0.4}, default_rate=0.0)
    got = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in got}
    # wiki: 200 docs -> 400 full copies + ~45% of a third copy
    assert 400 < counts["wiki"] < 400 + 200 * 0.65
    assert counts["wiki"] > 400 + 200 * 0.25
    # web: ~40% of one copy
    assert 200 * 0.25 < counts["web"] < 200 * 0.55
    # deterministic and monotone: raising a rate only ADDS copies
    again = {(r.doc_id, r.epoch_copy) for r in out.collect()}
    assert {(r.doc_id, r.epoch_copy) for r in out.collect()} == again
    more = repeat_epochs(df, {"wiki": 2.85, "web": 0.4}, default_rate=0.0)
    assert again <= {(r.doc_id, r.epoch_copy) for r in more.collect()}


def test_repeat_epochs_subone_matches_stratified_sample(spark):
    """rate <= 1 reduces exactly to stratified_hash_sample with the
    per-copy salt '<salt>0' — same md5, same cut arithmetic."""
    from mysql_to_s3_spark.operators.sampling import (
        repeat_epochs,
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, "a") for i in range(300)], "doc_id long, lang string"
    )
    rep = {r.doc_id for r in repeat_epochs(df, {"a": 0.37}, salt="s").collect()}
    ref = {
        r.doc_id
        for r in stratified_hash_sample(df, {"a": 0.37}, "lang", salt="s0").collect()
    }
    assert rep == ref and 0 < len(rep) < 300


def test_repeat_epochs_sql_replica(spark, duck, tmp_path):
    import duckdb

    from mysql_to_s3_spark.operators.sampling import repeat_epochs, repeat_epochs_sql

    rows = [(i, "wiki" if i % 3 == 0 else "web") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    p = str(tmp_path / "re_docs.parquet")
    df.toPandas().to_parquet(p)
    rates = {"wiki": 2.45, "web": 0.4}
    got = {
        (r.doc_id, r.epoch_copy)
        for r in repeat_epochs(df, rates, default_rate=0.0).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW redocs AS SELECT * FROM read_parquet('{p}')")
    want = {
        (a, c)
        for a, _, c in con.execute(
            repeat_epochs_sql("redocs", rates, default_rate=0.0)
        ).fetchall()
    }
    assert got == want and got


def test_repeat_epochs_guards(spark):
    import pytest as _pytest

    from mysql_to_s3_spark.operators.sampling import repeat_epochs

    df = spark.createDataFrame([(1, "a")], "doc_id long, lang string")
    with _pytest.raises(ValueError, match="epoch rate"):
        repeat_epochs(df, {"a": -0.1})
    with _pytest.raises(ValueError, match="epoch rate"):
        repeat_epochs(df, 500.0)
    with _pytest.raises(ValueError, match="collide"):
        repeat_epochs(df.withColumn("epoch_copy", df.doc_id), 1.0)


def test_repeat_epochs_matches_python_reference(spark):
    """Exact multiset equality against an independent pure-Python
    replica of the draw (md5 of 'id|epoch<copy>', first 8 hex chars,
    mod SPLIT_BUCKETS) — pins the hash recipe itself, not just bounds."""
    import hashlib
    import math

    from mysql_to_s3_spark.operators.sampling import SPLIT_BUCKETS, repeat_epochs

    rows = [(i, ["wiki", "web", "code"][i % 3]) for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"wiki": 2.45, "web": 0.4, "code": 1.0}

    def ref():
        out = set()
        for i, lang in rows:
            r = rates[lang]
            for c in range(math.ceil(r)):
                if c < math.floor(r):
                    out.add((i, c))
                else:
                    h = hashlib.md5(f"{i}|epoch{c}".encode()).hexdigest()
                    draw = int(h[:8], 16) % SPLIT_BUCKETS
                    if draw < round((r - math.floor(r)) * SPLIT_BUCKETS):
                        out.add((i, c))
        return out

    got = {(r.doc_id, r.epoch_copy) for r in repeat_epochs(df, rates).collect()}
    assert got == ref() and got


def test_sample_per_key_sql_replica_matches(spark, sf_dir):
    """sample_per_key and its DuckDB replica select the IDENTICAL rows
    (salted-md5 ranking + id tie-break), across several caps."""
    import duckdb

    from mysql_to_s3_spark.operators.sampling import sample_per_key, sample_per_key_sql
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    for n in (1, 3, 10):
        got = {
            (r["doc_id"], r["source"])
            for r in sample_per_key(docs, ["source"], n=n).select("doc_id", "source").collect()
        }
        want = set(
            con.execute(
                "SELECT doc_id, source FROM ("
                + sample_per_key_sql("documents", ["source"], n=n)
                + ")"
            ).fetchall()
        )
        assert got == want and len(got) > 0
