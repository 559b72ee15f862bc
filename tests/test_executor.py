"""End-to-end JX query executor tests, hash-compared to the DuckDB oracle
(the same comparison the driver's CORRECTNESS gate performs).
"""

import pytest

from mysql_to_s3_spark.operators.executor import run
from tests.conftest import assert_same_rows, duck_sorted


def run_q(spark, sf_dir, q):
    return run(q, spark=spark, sf_dir=sf_dir)


# -- set-op: the SURVEY §7.2 minimum slice --


def test_setop_filter_select_sort_limit(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "where": {"gt": {"l_quantity": 40}},
        "select": ["l_orderkey", "l_quantity"],
        "sort": ["l_orderkey", "l_quantity"],
        "limit": 10,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 40
           ORDER BY l_orderkey, l_quantity LIMIT 10""",
    )
    assert_same_rows(got, want)


def test_setop_computed_select(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "select": [
            {"name": "revenue", "value": {"mul": ["l_extendedprice", {"sub": [1, "l_discount"]}]}},
            {"name": "okey", "value": "l_orderkey"},
        ],
        "where": {"eq": {"l_returnflag": "R"}},
        "sort": [{"okey_missing": 1}, "okey"][1:],
        "limit": 5,
    }
    q["sort"] = [{"value": "l_orderkey", "sort": 1}, {"value": "l_linenumber", "sort": 1}]
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_extendedprice * (1 - l_discount) AS revenue, l_orderkey AS okey
           FROM lineitem WHERE l_returnflag = 'R'
           ORDER BY l_orderkey, l_linenumber LIMIT 5""",
    )
    assert_same_rows(got, want)


def test_default_limit_applied(spark, sf_dir):
    got = run_q(spark, sf_dir, {"from": "lineitem", "select": ["l_orderkey"]})
    assert got.count() == 10  # DEFAULT_LIMIT (query.py:35)


# -- scalar aggregation --


def test_scalar_aggs(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "select": [
            {"name": "n", "value": "l_quantity", "aggregate": "count"},
            {"name": "total", "value": "l_quantity", "aggregate": "sum"},
            {"name": "lo", "value": "l_quantity", "aggregate": "min"},
            {"name": "hi", "value": "l_quantity", "aggregate": "max"},
            {"name": "mean", "value": "l_quantity", "aggregate": "avg"},
            {"name": "sd", "value": "l_quantity", "aggregate": "std"},
            {"name": "med", "value": "l_quantity", "aggregate": "median"},
        ],
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT count(l_quantity) AS n, sum(l_quantity) AS total,
                  min(l_quantity) AS lo, max(l_quantity) AS hi,
                  avg(l_quantity) AS mean, stddev_pop(l_quantity) AS sd,
                  median(l_quantity) AS med
           FROM lineitem""",
    )
    assert_same_rows(got, want, tol=1e-6)


# -- groupby --


def test_groupby_tpch_q1(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "groupby": ["l_returnflag", "l_linestatus"],
        "select": [
            {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
            {"name": "sum_base_price", "value": "l_extendedprice", "aggregate": "sum"},
            {
                "name": "sum_disc_price",
                "value": {"mul": ["l_extendedprice", {"sub": [1, "l_discount"]}]},
                "aggregate": "sum",
            },
            {"name": "avg_disc", "value": "l_discount", "aggregate": "avg"},
            {"name": "count_order", "value": ".", "aggregate": "count"},
        ],
        "where": {"lte": ["l_shipdate", {"date": "1998-09-02"}]},
    }
    # JX date literal is unix seconds; compare against timestamp in duckdb
    q["where"] = {"lte": [{"unix": "l_shipdate"}, {"date": "1998-09-02"}]}
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                  sum(l_extendedprice) AS sum_base_price,
                  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                  avg(l_discount) AS avg_disc, count(*) AS count_order
           FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           GROUP BY l_returnflag, l_linestatus""",
    )
    assert_same_rows(got, want, tol=1e-6)


def test_groupby_expression_key(spark, sf_dir, duck):
    q = {
        "from": "orders",
        "groupby": [{"name": "bucket", "value": {"floor": ["o_totalprice", 50000]}}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT floor(o_totalprice / 50000) * 50000 AS bucket, count(*) AS n
           FROM orders GROUP BY 1""",
    )
    assert_same_rows(got, want, tol=1e-6)


# -- edges (dense output) --


def test_edges_set_domain_dense(spark, sf_dir, duck):
    q = {
        "from": "customer",
        "edges": [
            {
                "name": "seg",
                "value": "c_mktsegment",
                "allowNulls": False,
                "domain": {
                    "type": "set",
                    "partitions": ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD", "NOSUCH"],
                },
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    got = run_q(spark, sf_dir, q)
    rows = {r["seg"]: r["n"] for r in got.collect()}
    assert rows.get("NOSUCH") == 0  # dense: empty part present with count 0
    want = duck.execute(
        "SELECT c_mktsegment, count(*) FROM customer GROUP BY 1"
    ).fetchall()
    for seg, n in want:
        assert rows[seg] == n


def test_edges_default_domain(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "edges": [{"name": "l_returnflag", "value": "l_returnflag", "allowNulls": False}],
        "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
        "limit": 1000,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        "SELECT l_returnflag, sum(l_quantity) AS total FROM lineitem GROUP BY 1",
    )
    assert_same_rows(got, want, tol=1e-6)


def test_edges_time_domain(spark, sf_dir, duck):
    q = {
        "from": "orders",
        "edges": [
            {
                "name": "month",
                "value": "o_orderdate",
                "allowNulls": False,
                "domain": {"type": "time", "min": "1995-01-01", "max": "1996-01-01", "interval": "month"},
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    got = run_q(spark, sf_dir, q)
    assert got.count() == 12  # dense: every month present
    want = {
        str(r[0])[:10]: r[1]
        for r in duck.execute(
            """SELECT date_trunc('month', o_orderdate) AS m, count(*)
               FROM orders
               WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
               GROUP BY 1"""
        ).fetchall()
    }
    for r in got.collect():
        key = r["month"].date().isoformat()
        assert r["n"] == want.get(key, 0), (key, r["n"], want.get(key))


def test_edges_range_domain_histogram(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "edges": [
            {
                "name": "qty_bucket",
                "value": "l_quantity",
                "allowNulls": False,
                "domain": {"type": "range", "min": 0, "max": 50, "interval": 10},
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    }
    got = run_q(spark, sf_dir, q)
    assert got.count() == 5
    want = {
        r[0]: r[1]
        for r in duck.execute(
            """SELECT floor(l_quantity / 10) * 10, count(*) FROM lineitem
               WHERE l_quantity >= 0 AND l_quantity < 50 GROUP BY 1"""
        ).fetchall()
    }
    for r in got.collect():
        assert r["n"] == want.get(r["qty_bucket"], 0)


def test_edges_two_dims_dense_cross(spark, sf_dir):
    q = {
        "from": "lineitem",
        "edges": ["l_returnflag", "l_linestatus"],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "limit": 1000,
    }
    got = run_q(spark, sf_dir, q)
    flags = got.select("l_returnflag").distinct().count()
    statuses = got.select("l_linestatus").distinct().count()
    # dense cube: |flags| x |statuses| cells (incl. null buckets)
    assert got.count() == flags * statuses


# -- window clause --


def test_window_rownum_per_partition(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "window": [
            {
                "name": "seq",
                "edges": ["l_orderkey"],
                # unique window sort: with duplicate (orderkey, linenumber)
                # rows a limit cut inside a tie group would otherwise pair
                # a kept row with a different engine-arbitrary seq
                "sort": ["l_linenumber", "l_quantity", "l_extendedprice"],
            }
        ],
        "select": ["l_orderkey", "l_linenumber", "seq"],
        # UNIQUE sort BEFORE the limit so the kept 10k rows agree with
        # the oracle at any scale factor: a bare LIMIT picks arbitrary
        # rows, and (orderkey, linenumber) alone is non-unique at
        # sf>=0.01 so a cut inside a tie group would still diverge
        "sort": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        "limit": 10000,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_orderkey, l_linenumber,
                  row_number() OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_quantity, l_extendedprice) - 1 AS seq
           FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
           LIMIT 10000""",
    )
    assert_same_rows(got, want)


def test_window_sliding_sum(spark, sf_dir, duck):
    q = {
        "from": "lineitem",
        "window": [
            {
                "name": "running_qty",
                "value": "l_quantity",
                "aggregate": "sum",
                "edges": ["l_orderkey"],
                # qty+price tiebreak: synthetic lineitem has duplicate
                # (orderkey, linenumber) rows at sf>=0.01, and a ROWS
                # frame over an ambiguous order is engine-arbitrary
                "sort": ["l_linenumber", "l_quantity", "l_extendedprice"],
                "range": {"min": None, "max": 1},  # unbounded preceding .. current
            }
        ],
        "select": ["l_orderkey", "l_linenumber", "running_qty"],
        "sort": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        "limit": 10000,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_orderkey, l_linenumber,
                  sum(l_quantity) OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_quantity, l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
           FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice LIMIT 10000""",
    )
    assert_same_rows(got, want, tol=1e-6)


def test_window_lead_lag(spark, sf_dir, duck):
    q = {
        "from": "events",
        "window": [
            {
                "name": "prev_value",
                "value": {"rows": ["value", -1]},
                "edges": ["user_id"],
                "sort": ["ts", "event_id"],
            }
        ],
        "select": ["event_id", "prev_value"],
        "limit": 10000,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT event_id,
                  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
           FROM events LIMIT 10000""",
    )
    assert_same_rows(got, want, tol=1e-9)


# -- regressions: round-1 verdict/advice fixes --


def test_setop_sort_by_unselected_column(spark, sf_dir, duck):
    # reference sorts BEFORE select (jx.py:95-99): sort key need not be selected
    q = {
        "from": "lineitem",
        "select": ["l_orderkey"],
        "sort": [{"value": "l_quantity", "sort": -1}, "l_orderkey"],
        "limit": 5,
    }
    got = run_q(spark, sf_dir, q)
    want = duck_sorted(
        duck,
        """SELECT l_orderkey FROM lineitem
           ORDER BY l_quantity DESC, l_orderkey LIMIT 5""",
    )
    assert_same_rows(got, want)


def test_edge_named_after_source_column_averages_raw_values(spark, sf_dir, duck):
    # edge name == source column + range domain: the aggregate must see RAW
    # values, not bucket floors
    q = {
        "from": "lineitem",
        "edges": [
            {
                "name": "l_quantity",
                "value": "l_quantity",
                "allowNulls": False,
                "domain": {"type": "range", "min": 0, "max": 50, "interval": 25},
            }
        ],
        "select": [{"name": "avg_qty", "value": "l_quantity", "aggregate": "average"}],
    }
    got = run_q(spark, sf_dir, q)
    want = {
        r[0]: r[1]
        for r in duck.execute(
            """SELECT floor(l_quantity / 25) * 25 AS b, avg(l_quantity)
               FROM lineitem WHERE l_quantity >= 0 AND l_quantity < 50 GROUP BY 1"""
        ).fetchall()
    }
    for r in got.collect():
        assert abs(r["avg_qty"] - want[r["l_quantity"]]) < 1e-9


def test_one_aggregate_raises_on_multiple_values(spark, sf_dir):
    import pytest
    from py4j.protocol import Py4JJavaError

    q = {
        "from": "lineitem",
        "select": [{"name": "v", "value": "l_quantity", "aggregate": "one"}],
    }
    with pytest.raises(Exception):
        run_q(spark, sf_dir, q).collect()


def test_one_aggregate_in_window_clause(spark, sf_dir):
    """'one' over a window partition: single-valued partitions pass
    (regression: the grouped count_distinct form is not window-legal),
    multi-valued partitions raise."""
    import pytest

    ok = {
        "from": "orders",
        "select": ["o_orderkey", "w"],
        "window": [{
            "name": "w",
            "value": "o_custkey",
            "edges": ["o_orderkey"],  # o_orderkey-partitions are single-valued in o_custkey
            "aggregate": "one",
        }],
        "limit": 10000,
    }
    rows = run_q(spark, sf_dir, ok).collect()
    assert rows and all(r["w"] is not None for r in rows)

    bad = {
        "from": "orders",
        "select": ["o_orderkey", "w"],
        "window": [{
            "name": "w",
            "value": "o_orderkey",
            "edges": ["o_custkey"],  # a customer has many orders
            "aggregate": "one",
        }],
        "limit": 10000,
    }
    with pytest.raises(Exception):
        run_q(spark, sf_dir, bad).collect()


def test_agg_query_rejects_plain_select(spark, sf_dir):
    import pytest

    from mysql_to_s3_spark.operators.executor import ExecutionError

    q = {
        "from": "lineitem",
        "groupby": ["l_returnflag"],
        "select": [
            {"name": "x", "value": "l_comment"},  # no aggregate -> loud error
            {"name": "n", "value": ".", "aggregate": "count"},
        ],
    }
    with pytest.raises(ExecutionError):
        run_q(spark, sf_dir, q)


# -- nested-table addressing --


def test_nested_table_from(spark, sf_dir):
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    items = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nested = orders.join(
        items.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_quantity"))).alias("items")
        ),
        orders.o_orderkey == F.col("l_orderkey"),
        "left",
    ).drop("l_orderkey")
    q = {
        "from": "fact.items",
        "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
        "where": {"gt": {"o_totalprice": 100000}},
    }
    got = run(q, spark=spark, containers={"fact": nested})
    lines = items.join(
        orders.filter(F.col("o_totalprice") > 100000).select("o_orderkey"),
        items.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    want = lines.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(got.collect()[0]["total"] - want) < 1e-6


# -- container resolution: containers dict, then parquet, then the catalog --


@pytest.fixture
def table_calls(spark, monkeypatch):
    """Names handed to ``spark.table``, recorded; the call still runs."""
    calls = []
    real = type(spark).table

    def spy(self, name):
        calls.append(name)
        return real(self, name)

    monkeypatch.setattr(type(spark), "table", spy)
    return calls


def _nested(spark):
    return spark.createDataFrame(
        [(1, 10.0, [(1, 2.0), (2, 3.0)]), (2, 20.0, [(1, 5.0)]), (3, 30.0, None)],
        "o_orderkey bigint, o_totalprice double, items array<struct<l_linenumber:int,l_quantity:double>>",
    )


_NESTED_SUM = {
    "from": "fact.items",
    "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
    "where": {"gt": {"o_totalprice": 15}},
}


def test_nested_from_skips_catalog_lookup_of_the_dotted_name(spark, sf_dir, table_calls):
    # "fact.items" names no table: the catalog is asked, spark.table is not
    # (it would start Spark's Python data-source lookup), then "fact" resolves
    got = run(_NESTED_SUM, spark=spark, sf_dir=sf_dir, containers={"fact": _nested(spark)})
    assert got.collect()[0]["total"] == 5.0
    assert table_calls == []


def test_temp_view_resolves_as_container(spark, table_calls):
    _nested(spark).createOrReplaceTempView("jx_nested_view")
    try:
        got = run({**_NESTED_SUM, "from": "jx_nested_view.items"}, spark=spark)
        assert got.collect()[0]["total"] == 5.0
        flat = run({"from": "jx_nested_view", "select": ["o_orderkey"], "sort": ["o_orderkey"]}, spark=spark)
        assert [r[0] for r in flat.collect()] == [1, 2, 3]
    finally:
        spark.catalog.dropTempView("jx_nested_view")
    assert table_calls == ["jx_nested_view", "jx_nested_view"]


def test_unknown_container_raises(spark, sf_dir, table_calls):
    from mysql_to_s3_spark.operators.executor import ExecutionError

    for name in ("no_such_table", "no_such.items", "fact.items", "a b", "a.b.c.d"):
        with pytest.raises(ExecutionError, match="unknown container"):
            run({"from": name, "select": ["x"]}, spark=spark, sf_dir=sf_dir)
    assert table_calls == []


def test_error_contract_probes(spark, sf_dir):
    """API-contract parity probes: each malformed query fails loudly with
    the documented exception, never a silent wrong answer."""
    import pytest

    from mysql_to_s3_spark.functions.compiler import JXError, compile_expression
    from mysql_to_s3_spark.operators.executor import ExecutionError
    from mysql_to_s3_spark.plans.normalize import QueryError, QueryOp

    with pytest.raises(JXError):
        compile_expression({"frobnicate": "x"})

    # groupby and edges are mutually exclusive (query.py:230-231)
    with pytest.raises(QueryError):
        QueryOp.wrap({"from": "lineitem", "groupby": ["a"], "edges": ["b"]})

    # having needs an aggregate context to filter
    with pytest.raises(QueryError, match="requires groupby"):
        QueryOp.wrap({"from": "lineitem", "having": {"gt": {"n": 1}}})

    with pytest.raises(ExecutionError):
        run({"from": "no_such_table", "select": ["x"]}, spark=spark, sf_dir=sf_dir)


def test_having_filters_the_aggregate_result(spark, sf_dir, duck):
    """`having` is a post-aggregate filter on the RESULT schema, and a
    having without an aggregate context is rejected. The plan stays one
    HashAggregate with a Filter on top — no extra Exchange vs the
    unfiltered groupby."""
    import pytest

    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.plans.normalize import QueryError, QueryOp

    q = {
        "from": "orders",
        "groupby": [{"name": "bucket", "value": {"floor": ["o_totalprice", 50000]}}],
        "select": [
            {"name": "n", "value": ".", "aggregate": "count"},
            {"name": "avg_price", "value": "o_totalprice", "aggregate": "avg"},
        ],
        "having": {"gt": ["avg_price", 200000]},
    }
    got = {
        r["bucket"]: r["n"]
        for r in run(q, spark=spark, sf_dir=sf_dir).collect()
    }
    want = {
        b: n
        for b, n, _ in duck.execute(
            "SELECT floor(o_totalprice / 50000) * 50000, count(*), avg(o_totalprice) "
            "FROM orders GROUP BY 1 HAVING avg(o_totalprice) > 200000"
        ).fetchall()
    }
    assert got == want and got  # non-empty and exact
    # and the filter really cut something
    alln = run({k: v for k, v in q.items() if k != "having"},
               spark=spark, sf_dir=sf_dir).count()
    assert len(got) < alln

    # one aggregate exchange only: the having filter adds no shuffle
    plan = (
        run(q, spark=spark, sf_dir=sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan

    # rejected without an aggregate context
    with pytest.raises(QueryError, match="requires groupby"):
        QueryOp.wrap(
            {"from": "orders", "select": ["o_orderkey"],
             "having": {"gt": ["o_orderkey", 10]}},
        )


def test_edge_named_after_source_column_keeps_raw_values(spark, sf_dir, duck):
    """Round-1 ADVICE regression: an edge whose name equals its source
    column (range domain) must NOT overwrite the raw column before select
    aggregates compile — avg aggregates raw values, not bucket floors."""
    out = run(
        {
            "from": "lineitem",
            "edges": [
                {
                    "name": "l_quantity",
                    "value": "l_quantity",
                    "allowNulls": False,
                    "domain": {"type": "range", "min": 0, "max": 60, "interval": 20},
                }
            ],
            "select": [{"name": "av", "value": "l_quantity", "aggregate": "average"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    got = {
        (r["l_quantity"], round(r["av"], 6) if r["av"] is not None else None)
        for r in out.collect()
    }
    want_rows = duck.execute(
        """WITH agg AS (
             SELECT floor(l_quantity / 20) * 20 AS b, avg(l_quantity) AS av
             FROM lineitem WHERE l_quantity >= 0 AND l_quantity < 60 GROUP BY 1),
           parts(b) AS (VALUES (0.0), (20.0), (40.0))
           SELECT parts.b, agg.av FROM parts LEFT JOIN agg USING (b)"""
    ).fetchall()
    want = {(b, round(av, 6) if av is not None else None) for b, av in want_rows}
    assert got == want, (got, want)


def test_approx_flag_switches_scale_aggregates(spark, sf_dir, duck):
    """query-level approx=True: percentile -> KLL sketch, cardinality ->
    HLL. Values agree with the exact forms within sketch tolerance and
    the plan drops the count-distinct Expand."""
    q = {
        "from": "lineitem",
        "select": [
            {"name": "p90", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9},
            {"name": "card", "value": "l_returnflag", "aggregate": "cardinality"},
        ],
    }
    exact = run(q, spark=spark, sf_dir=sf_dir).collect()[0]
    approx = run({**q, "approx": True}, spark=spark, sf_dir=sf_dir).collect()[0]
    assert abs(approx["p90"] - exact["p90"]) <= 0.01 * abs(exact["p90"])
    assert abs(approx["card"] - exact["card"]) <= max(1, 0.05 * exact["card"])
    plan = run({**q, "approx": True}, spark=spark, sf_dir=sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "approx_count_distinct" in plan or "HyperLogLog" in plan


def test_global_window_guard(spark, sf_dir):
    """An edge-less window over more rows than the conf bound refuses
    instead of silently single-tasking the whole input."""
    import pytest

    from mysql_to_s3_spark.operators.windows import (
        GLOBAL_WINDOW_MAX_ROWS_CONF, WindowError)

    q = {
        "from": "lineitem",
        "window": [{"name": "seq", "sort": ["l_orderkey", "l_linenumber"]}],
        "select": ["l_orderkey", "seq"],
        "limit": 5,
    }
    spark.conf.set(GLOBAL_WINDOW_MAX_ROWS_CONF, "10")
    try:
        with pytest.raises(WindowError, match="no edges"):
            run(q, spark=spark, sf_dir=sf_dir).collect()
    finally:
        spark.conf.unset(GLOBAL_WINDOW_MAX_ROWS_CONF)
    # under the default bound the small table passes
    assert run(q, spark=spark, sf_dir=sf_dir).count() == 5


def test_scalar_agg_split_plan_and_values(spark, sf_dir, duck):
    """r9s3: a scalar query mixing exact percentiles, exact distincts,
    and cheap aggregates plans as THREE cross-joined single-row
    aggregations — no Expand node, distinct path in codegen — and the
    values match the single-agg semantics (DuckDB oracle)."""
    from mysql_to_s3_spark.operators.executor import run

    q = {
        "from": "lineitem",
        "select": [
            {"name": "n", "value": "l_quantity", "aggregate": "count"},
            {"name": "med", "value": "l_quantity", "aggregate": "median"},
            {"name": "card", "value": "l_suppkey", "aggregate": "cardinality"},
        ],
    }
    df = run(q, spark=spark, sf_dir=sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # 3 classes -> 2 cross joins
    row = df.first()
    want = duck.execute(
        "SELECT count(l_quantity), quantile_cont(l_quantity, 0.5), "
        "count(DISTINCT l_suppkey) FROM lineitem"
    ).fetchone()
    assert (row["n"], row["med"], row["card"]) == want

    # single-class scalar queries keep the one-aggregation plan
    q2 = {
        "from": "lineitem",
        "select": [
            {"name": "s", "value": "l_quantity", "aggregate": "sum"},
            {"name": "m", "value": "l_quantity", "aggregate": "average"},
        ],
    }
    p2 = run(q2, spark=spark, sf_dir=sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p2


def test_scalar_agg_split_dotted_select_name(spark, sf_dir):
    """Mixed-class split must survive select names containing dots (the
    engine's default name IS the value path) — regression for the bare
    F.col(name) re-select parsing 'a.b' as a struct field access."""
    from mysql_to_s3_spark.operators.executor import run

    q = {
        "from": "lineitem",
        "select": [
            {"name": "q.med", "value": "l_quantity", "aggregate": "median"},
            {"name": "q.card", "value": "l_suppkey", "aggregate": "cardinality"},
            {"name": "q.n", "value": "l_quantity", "aggregate": "count"},
        ],
    }
    row = run(q, spark=spark, sf_dir=sf_dir).first()
    assert row["q.n"] > 0 and row["q.med"] is not None and row["q.card"] > 0


def test_scalar_agg_split_classes_stats_and_trimmed(spark, sf_dir):
    """The stats bundle (plain AND middle=) is whole-column-buffer class:
    mixing it with cheap aggregates must split them apart."""
    from mysql_to_s3_spark.operators.executor import run

    q = {
        "from": "lineitem",
        "select": [
            {"name": "st", "value": "l_quantity", "aggregate": "stats", "middle": 0.8},
            {"name": "s", "value": "l_quantity", "aggregate": "sum"},
        ],
    }
    df = run(q, spark=spark, sf_dir=sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # the split fired
    row = df.first()
    assert row["s"] is not None and row["st"]["count"] > 0


def test_grouped_and_edges_dotted_select_names(spark, sf_dir, duck):
    """Dotted select names work in the GROUPED and EDGES paths too (they
    re-select aggregate outputs by name like the scalar path does)."""
    from mysql_to_s3_spark.operators.executor import run

    g = run(
        {
            "from": "lineitem",
            "groupby": ["l_returnflag"],
            "select": [
                {"name": "q.med", "value": "l_quantity", "aggregate": "median"},
                {"name": "q.n", "value": "l_quantity", "aggregate": "count"},
            ],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    got = sorted((r["l_returnflag"], r["q.med"], r["q.n"]) for r in g.collect())
    want = duck.execute(
        "SELECT l_returnflag, quantile_cont(l_quantity, 0.5), count(l_quantity) "
        "FROM lineitem GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert got == [tuple(w) for w in want]

    e = run(
        {
            "from": "customer",
            "edges": [{"value": "c_mktsegment", "domain": {
                "type": "set", "partitions": ["AUTOMOBILE", "NOSUCH"]}}],
            "select": [{"name": "seg.n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    rows = {r["c_mktsegment"]: r["seg.n"] for r in e.collect()}
    n_auto = duck.execute(
        "SELECT count(*) FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"
    ).fetchone()[0]
    assert rows.get("AUTOMOBILE") == n_auto
    assert rows.get("NOSUCH") == 0  # dense empty cell count-fills 0
