"""Physical-plan regression guards for the scale properties SCALE.md
claims: predicate pushdown, column pruning, broadcast side of the densify
join, shuffle-free top-k, and linear-size IVF cell assignment.

These assert on `explain("formatted")` text — the point is that a future
refactor cannot silently turn a pushed filter into a post-scan filter or a
broadcast into a shuffle without a test going red.
"""

import re

import pytest
from pyspark.sql import functions as F

from mysql_to_s3_spark.operators.executor import run


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_where_pushes_to_parquet_scan(spark, sf_dir):
    df = run(
        {
            "from": "lineitem",
            "select": ["l_orderkey", "l_quantity"],
            "where": {"gt": {"l_quantity": 40}},
            "limit": 10000,
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity,40", plan), plan


def test_time_literal_filter_pushes(spark, sf_dir):
    # unix(ts) <= {date} must fold back onto the timestamp column
    df = run(
        {
            "from": "lineitem",
            "select": ["l_orderkey"],
            "where": {"lte": [{"unix": "l_shipdate"}, {"date": "1998-09-02"}]},
            "limit": 10000,
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(df)
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan), plan


def test_select_prunes_read_schema(spark, sf_dir):
    df = run(
        {"from": "lineitem", "select": ["l_orderkey", "l_quantity"], "limit": 100},
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(df)
    m = re.search(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert m, plan
    read = m.group(1)
    assert "l_orderkey" in read and "l_quantity" in read
    # a 16-column table read for a 2-column projection is a pruning failure
    assert "l_comment" not in read and "l_extendedprice" not in read, read


def test_edges_densify_single_scan_cached_sparse(spark, sf_dir):
    df = run(
        {
            "from": "customer",
            "edges": [
                {
                    "value": "c_mktsegment",
                    "domain": {"type": "set", "partitions": ["BUILDING", "AUTOMOBILE", "MACHINERY"]},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(df)
    # densify = join of the driver-built dense frame with the sparse
    # aggregate: the parquet scan must appear exactly once (the round-1
    # verdict's double-computation hazard), and a declared-domain query
    # caches nothing — no InMemoryRelation (the scan's `Location:
    # InMemoryFileIndex` is not a cache, so match the relation by name)
    assert "Join" in plan or "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan


def test_topk_has_no_exchange(spark, sf_dir):
    from mysql_to_s3_spark.operators.similarity import topk_cosine
    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    df = topk_cosine(emb, q, k=10)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_ivf_cell_expression_is_linear(spark, sf_dir):
    """The argmin over centroids must reference each score once — a
    when-chain version grows 3^n_cells and stalls task serialization."""
    from mysql_to_s3_spark.operators.similarity import ivf_assign
    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    centroids = [[float(i == j % dim) for i in range(dim)] for j in range(16)]
    df = ivf_assign(emb, centroids)
    plan = plan_of(df)
    # 16 cells x ~dim multiplications -> plan text stays tens-of-KB, not MBs
    assert len(plan) < 2_000_000, f"IVF plan blew up: {len(plan)} chars"
    assert df.filter(F.col("__cell__").isNotNull()).count() == emb.count()


def test_groupby_single_shuffle(spark, sf_dir):
    # a catalog row's cached frame from an earlier test can match this
    # plan and substitute an InMemoryTableScan (whose stored plan text
    # doubles the Exchange count) — assert on the uncached plan
    spark.catalog.clearCache()
    df = run(
        {
            "from": "lineitem",
            "groupby": ["l_returnflag", "l_linestatus"],
            "select": [{"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    plan = plan_of(df)
    # one partial + one final HashAggregate around exactly one shuffle
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "HashAggregate" in plan, plan


def test_temporal_events_legs_share_one_cached_scan(spark, sf_dir):
    """The 5-leg temporal row must read the events table through the
    row's own cached scan — every leg's scan is an
    InMemoryTableScan over ONE cached relation, not five parquet scans
    (the r4->r5 2x win; see SCALE.md 'one pooled events scan')."""
    from mysql_to_s3_spark import queries as catalog

    df = catalog.build("temporal_events")(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 5, plan[:2000]


def _written_batch(spark, sf_dir, tmp_path, monkeypatch, field, start, **child):
    """The frame ``Extract.run`` hands the sink for the middle keyset batch
    of the sf orders extract (customer -> nation -> region dims, lineitem
    children carrying part and supplier), and that batch. ``child`` sets
    the ``SnowflakeConfig`` child valves."""
    from mysql_to_s3_spark.sources import extract
    from tests.fixtures_snowflake import orders_snowflake

    tables, plan, cfg = orders_snowflake(spark, sf_dir, **child)
    ex = extract.Extract(tables, plan, cfg, extract.ExtractConfig(
        field=field, start=start, batch=1000, destination=str(tmp_path)
    ))
    batches = ex.batches()
    written = []
    monkeypatch.setattr(ex, "batches", lambda: batches)
    monkeypatch.setattr(extract, "write_json_lines", lambda df, *a, **k: written.append(df))
    ex.run()
    assert len(written) == len(batches) > 1
    return written[len(batches) // 2], batches[len(batches) // 2]


def _pushed(text: str, table: str) -> str:
    scans = [b for b in text.split("\n\n") if "Scan parquet" in b and f"{table}.parquet" in b]
    assert len(scans) == 1, text
    return re.search(r"PushedFilters: \[(.*)\]", scans[0]).group(1)


@pytest.mark.parametrize(
    "child", [{}, {"child_cap": 4}, {"child_salt": 4}], ids=["plain", "childCap", "childSalt"]
)
def test_extract_batch_reads_a_literal_range(spark, sf_dir, tmp_path, monkeypatch, child):
    """The frame ``Extract.run`` writes for one keyset batch reads its
    batch as a literal range: no Window and no SinglePartition exchange
    re-key the fact table, and the batch's bound reaches the orders scan
    and, through the left joins and the child collect (plain, capped or
    salted), the lineitem scan, so the child aggregation covers the
    batch, not the table. The batch reads no dimension table."""
    docs, batch = _written_batch(spark, sf_dir, tmp_path, monkeypatch, "o_orderkey", 0, **child)
    text = plan_of(docs)

    if "child_cap" in child:
        # the cap's per-order row numbering over lineitem is the only window
        keys = re.findall(r"windowspecdefinition\(([^,]+),", text)
        assert keys and all(k.startswith("l_orderkey#") for k in keys), text
    else:
        assert not re.search(r"\bWindow\b", text), text
    assert "SinglePartition" not in text, text
    (lo,), (hi,) = batch.lo, batch.hi
    for table, col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        pushed = _pushed(text, table)
        assert f"GreaterThanOrEqual({col},{lo})" in pushed, pushed
        assert f"LessThanOrEqual({col},{hi})" in pushed, pushed
    # the dimension side was built and frozen once per run: the batch
    # scans no dimension table, and broadcasts the three frozen frames
    # (customer with nation and region, part, supplier)
    scans = [b for b in text.split("\n\n") if re.match(r"\(\d+\) Scan parquet", b.strip())]
    scanned = sorted(re.search(r"/(\w+)\.parquet\]", b).group(1) for b in scans)
    assert scanned == ["lineitem", "orders"], text
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", text, re.M)) == 3, text


def test_extract_timestamp_batch_pushes_raw_bound(spark, sf_dir, tmp_path, monkeypatch):
    """A timestamp extract field keeps its own type in the document
    frame's position columns (the documents themselves carry it as unix
    seconds), so the batch's timestamp bound pushes into the orders
    scan."""
    import datetime as dt

    start = dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc)
    docs, batch = _written_batch(spark, sf_dir, tmp_path, monkeypatch, "o_orderdate", start)
    pushed = _pushed(plan_of(docs), "orders")
    # the bounds travel as epoch microseconds; the scan shows them to the minute
    lo, hi = (
        (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=b[0])).strftime("%Y-%m-%dT%H:%M")
        for b in (batch.lo, batch.hi)
    )
    assert f"GreaterThanOrEqual(o_orderdate,{lo}" in pushed, pushed
    assert f"LessThanOrEqual(o_orderdate,{hi}" in pushed, pushed
