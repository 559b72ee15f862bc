"""Query catalog: every implemented SURVEY.md §2 operator as a named
(JX query, DuckDB oracle SQL) pair over the driver testdata tables.

This is the single source for the driver contract (``__spark_entry__.py``)
and the benchmark (``bench.py``). Each row is registered with ``_q`` and
its builder is either

  - a JX query dict (run through ``mysql_to_s3_spark.run``), or
  - a callable ``(spark, sf_dir) -> DataFrame`` for shapes that need setup
    (e.g. nested-table containers built from two parquet tables), or
  - a callable ``(spark, sf_dir) -> {leg: DataFrame}`` for a multi-leg row.
    ``_union_legs`` adds the ``leg`` literal to each frame and folds the
    frames with ``unionByName(allowMissingColumns=True)``, so a leg emits
    only the columns it has: absent columns come back as typed nulls. A
    frame that already carries several legs in its own ``leg`` column (one
    Arrow parse, one receipt ``createDataFrame``) is keyed by the tuple of
    its legs; a list value is several frames of one leg.

``_q`` also declares each row's legs: ``ops`` (the co-hosted operators)
and ``verify`` (legs that exist only to bind the oracle gate: streaming
drains, in-row lifecycle receipts, train summaries), and whether the
bench times it (``headline``). A leg dict must name exactly the declared
legs, or the build raises before any Spark job. Rows whose legs are
columns, or whose tag column is not ``leg``, only declare the tags.
``names()``, ``headline()`` and ``row_tags()`` derive the entry point's
row order, the bench's row set and its row tags from these declarations.

Column aliases match between the Spark result and the oracle SQL — the
driver's comparator sorts columns by name before hashing values.

Determinism note: any query that can return a strict subset of rows
(``limit`` below the full result) sorts on a UNIQUE key first, so Spark and
DuckDB pick the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _jx(query: dict) -> Callable[[SparkSession, str], DataFrame]:
    from mysql_to_s3_spark.operators.executor import run

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run(query, spark=spark, sf_dir=sf_dir)

    return build


def _nested_items_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + collect_list(struct(lineitem)) children — the §2.3
    one-to-many join shape, used as a nested-table container."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    items = load_table(spark, sf_dir, "lineitem")
    children = items.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_linenumber", "l_quantity", "l_extendedprice"))).alias("items")
    )
    return orders.join(children, orders.o_orderkey == children.l_orderkey, "left").drop("l_orderkey")


def _nested_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_to_s3_spark.operators.executor import run

    fact = _nested_items_container(spark, sf_dir)
    q = {
        "from": "fact.items",
        "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
        "where": {"gt": {"o_totalprice": 100000}},
    }
    return run(q, spark=spark, containers={"fact": fact})


# ---------------------------------------------------------------------------
# catalog: name -> Row


@dataclass(frozen=True)
class Row:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    ops: tuple[str, ...] = ()
    verify: tuple[str, ...] = ()
    headline: bool = False

    @property
    def legs(self) -> tuple[str, ...]:
        return self.ops + self.verify


CATALOG: dict[str, Row] = {}


def _q(
    name: str,
    jx_or_fn,
    oracle: str | None,
    *,
    ops: tuple[str, ...] = (),
    verify: tuple[str, ...] = (),
    headline: bool = False,
) -> None:
    fn = jx_or_fn if callable(jx_or_fn) else _jx(jx_or_fn)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = fn(spark, sf_dir)
        return _union_legs(name, out) if isinstance(out, dict) else out

    CATALOG[name] = Row(build, oracle, ops, verify, headline)


def _union_legs(row: str, frames: dict) -> DataFrame:
    """Assemble a multi-leg row from ``{leg: frame}`` (see the module
    docstring). Columns follow the first frame's order, then each later
    frame's new columns. Raises ValueError naming the row when the
    frames' legs differ from the row's declared ``ops + verify``."""
    from functools import reduce

    from pyspark.sql import functions as F

    got = sorted(leg for key in frames for leg in (key if isinstance(key, tuple) else (key,)))
    want = sorted(CATALOG[row].legs)
    if got != want:
        raise ValueError(f"catalog row {row!r}: builder legs {got} != declared legs {want}")
    parts = [
        df if isinstance(key, tuple) else df.select(F.lit(key).alias("leg"), "*")
        for key, v in frames.items()
        for df in (v if isinstance(v, list) else [v])
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)



def _rounded(jx_query: dict, cols: list[str], nd: int = 6) -> Callable[[SparkSession, str], DataFrame]:
    """Run a JX query, then round the named float aggregate columns.

    Float sums/moments are accumulation-ORDER-dependent: Spark's 32-way
    partial aggregation and DuckDB's sequential scan differ in the last
    ulp, which breaks the driver's exact value-hash compare. Rounding to
    6 decimals on BOTH sides makes the compare test semantics, not
    float-reassociation noise.
    """
    inner = _jx(jx_query)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        df = inner(spark, sf_dir)
        for c in cols:
            # (name, digits) overrides nd — big-magnitude sums need fewer
            # decimals: 6dp on a ~1e9 value asks for ~16 significant
            # digits, past double precision, so reassociation noise
            # straddles the rounding boundary
            name, digits = c if isinstance(c, tuple) else (c, nd)
            df = df.withColumn(name, F.round(F.col(name), digits))
        return df

    return build


# -- set-ops (filter / select / sort / limit; jx.py:92-99) --

# NOTE on limits: (l_orderkey, l_linenumber) is NOT unique in the synthetic
# lineitem, so a limit below the result size would be a nondeterministic row
# pick. Queries bound their result with a key-range filter and set the limit
# ABOVE the full filtered count instead.
_q(
    "setop_filter_sort_limit",
    {
        "from": "lineitem",
        "where": {"and": [{"gt": {"l_quantity": 40}}, {"lt": {"l_orderkey": 1000}}]},
        "select": ["l_orderkey", "l_linenumber", "l_quantity"],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 10000,
    },
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_quantity > 40 AND l_orderkey < 1000
       ORDER BY l_orderkey, l_linenumber LIMIT 10000""",
)

def _sort_mixed_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-type sort total order (value_compare, jx.py:562-627): a
    variant column holding booleans, numbers, strings, and missing rows
    sorts by TYPE_ORDER (boolean < number < string < missing) with
    values compared within a rank — compiled as ONE struct sort key
    (functions/variants.py), so the global sort range-partitions
    normally at scale."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.functions import variants
    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    mx = (
        F.when(F.col("l_linenumber") == 1, variants.variant_of(F.col("l_quantity"), "number"))
        .when(F.col("l_linenumber") == 2, variants.variant_of(F.col("l_returnflag"), "string"))
        .when(F.col("l_linenumber") == 3, variants.variant_of(F.col("l_quantity") > 25, "boolean"))
        .otherwise(variants.variant_of(F.lit(None).cast("string"), "string"))
    )
    t = li.select("l_orderkey", "l_linenumber", mx.alias("mx"))
    out = run(
        {
            "from": "t",
            "select": ["l_orderkey", "l_linenumber", "mx"],
            "sort": ["mx", "l_orderkey", "l_linenumber"],
            "limit": 100000,
        },
        spark=spark,
        containers={"t": t},
    )
    return out.select(
        variants.type_rank(F.col("mx")).alias("r"),
        F.col("mx.b").alias("vb"),
        F.col("mx.n").alias("vn"),
        F.col("mx.s").alias("vs"),
        "l_orderkey",
        "l_linenumber",
    )


_q(
    "setop_sort_mixed_types",
    _sort_mixed_spark,
    """WITH m AS (
         SELECT l_orderkey, l_linenumber,
                CASE WHEN l_linenumber = 3 THEN 0
                     WHEN l_linenumber = 1 THEN 1
                     WHEN l_linenumber = 2 THEN 2
                     ELSE 9 END AS r,
                CASE WHEN l_linenumber = 3 THEN l_quantity > 25 END AS vb,
                CASE WHEN l_linenumber = 1 THEN l_quantity END AS vn,
                CASE WHEN l_linenumber = 2 THEN l_returnflag END AS vs
         FROM lineitem WHERE l_orderkey < 200)
       SELECT r, vb, vn, vs, l_orderkey, l_linenumber FROM m
       ORDER BY r, vb, vn, vs, l_orderkey, l_linenumber""",
)


# Merged string/regex/basic-prim/get coverage in ONE driver row: the
# driver verifies only the first 50 catalog entries (DRIVER_ORDER below),
# so the customer-table expression ops share a row. The regex WHERE
# exercises filter-context regex compilation (missing -> FALSE), the
# former setop_regex semantics.
_q(
    "setop_string_ops",
    {
        "from": "customer",
        "where": {"regex": {"c_name": ".*[05]"}},
        "select": [
            {"name": "ck", "value": "c_custkey"},
            {"name": "prefix8", "value": {"left": ["c_name", 8]}},
            {"name": "tail3", "value": {"right": ["c_name", 3]}},
            {"name": "no_head", "value": {"not_left": ["c_name", 9]}},
            {"name": "pos5", "value": {"find": {"c_name": "5"}}},
            {"name": "tagged", "value": {"concat": [{"literal": "c:"}, "c_mktsegment"], "separator": "-"}},
            {"name": "is_cust", "value": {"prefix": {"c_name": "Customer"}}},
            {"name": "nlen", "value": {"length": "c_name"}},
            # regex is a FULL match (RegExpOp @1803)
            {"name": "ends_0", "value": {"regex": {"c_name": ".*0"}}},
            # basic.* null-blind prims (@2708-2758): index_of IS -1 on miss
            {"name": "idx5", "value": {"basic.index_of": {"c_name": "5"}}},
            {"name": "sub8", "value": {"basic.substring": ["c_name", 0, 8]}},
            {"name": "is_bldg", "value": {"basic.eq": ["c_mktsegment", {"literal": "BUILDING"}]}},
            # get on an ARRAY (0-based JX offset)
            {"name": "cust_num", "value": {"get": [{"split": ["c_name", "#"]}, 1]}},
            # get on an OBJECT built by the select op
            {
                "name": "seg",
                "value": {
                    "get": [
                        {"select": [{"name": "k", "value": "c_custkey"}, {"name": "m", "value": "c_mktsegment"}]},
                        {"literal": "m"},
                    ]
                },
            },
        ],
        "sort": ["c_custkey"],
        "limit": 300,
    },
    """SELECT c_custkey AS ck,
              substr(c_name, 1, 8) AS prefix8,
              substr(c_name, length(c_name) - 2, 3) AS tail3,
              substr(c_name, 10) AS no_head,
              CASE WHEN strpos(c_name, '5') > 0 THEN strpos(c_name, '5') - 1 END AS pos5,
              'c:' || '-' || c_mktsegment AS tagged,
              starts_with(c_name, 'Customer') AS is_cust,
              length(c_name) AS nlen,
              regexp_full_match(c_name, '.*0') AS ends_0,
              strpos(c_name, '5') - 1 AS idx5,
              substr(c_name, 1, 8) AS sub8,
              c_mktsegment = 'BUILDING' AS is_bldg,
              list_extract(string_split(c_name, '#'), 2) AS cust_num,
              c_mktsegment AS seg
       FROM customer WHERE regexp_full_match(c_name, '.*[05]')
       ORDER BY c_custkey LIMIT 300""",
)

_q(
    "setop_conditionals",
    {
        "from": "orders",
        "select": [
            {"name": "ok", "value": "o_orderkey"},
            {
                "name": "size",
                "value": {"when": {"gt": {"o_totalprice": 100000}}, "then": {"literal": "big"}, "else": {"literal": "small"}},
            },
            {
                "name": "status_word",
                "value": {
                    "case": [
                        {"when": {"eq": {"o_orderstatus": "F"}}, "then": {"literal": "final"}},
                        {"when": {"eq": {"o_orderstatus": "O"}}, "then": {"literal": "open"}},
                        {"literal": "other"},
                    ]
                },
            },
        ],
        "sort": ["o_orderkey"],
        "limit": 500,
    },
    """SELECT o_orderkey AS ok,
              CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size,
              CASE o_orderstatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open' ELSE 'other' END AS status_word
       FROM orders ORDER BY o_orderkey LIMIT 500""",
)

_q(
    "setop_in_range",
    {
        "from": "lineitem",
        "where": {
            "and": [
                {"in": {"l_returnflag": ["A", "N"]}},
                {"range": {"l_quantity": {"gte": 10, "lt": 20}}},
                {"lt": {"l_orderkey": 2000}},
            ]
        },
        "select": ["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 10000,
    },
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
       WHERE l_returnflag IN ('A', 'N') AND l_quantity >= 10 AND l_quantity < 20
         AND l_orderkey < 2000
       ORDER BY l_orderkey, l_linenumber LIMIT 10000""",
)

# JX null semantics over a synthesized-null column (testdata has no nulls):
# v = when(flag='A', qty) is missing for non-A rows
_NULLY = {"when": {"eq": {"l_returnflag": "A"}}, "then": "l_quantity"}

# Merged arithmetic + null-semantics + coalesce + row-wise n-ary coverage
# in ONE driver row (lineitem, l_orderkey < 500) — see DRIVER_ORDER note.
_q(
    "setop_arithmetic",
    {
        "from": "lineitem",
        "where": {"lt": {"l_orderkey": 500}},
        "select": [
            {"name": "ok", "value": "l_orderkey"},
            {"name": "ln", "value": "l_linenumber"},
            {"name": "rev", "value": {"mul": ["l_extendedprice", {"sub": [1, "l_discount"]}]}},
            {"name": "s", "value": {"add": ["l_quantity", "l_discount", "l_tax"]}},
            {"name": "d", "value": {"sub": ["l_extendedprice", "l_quantity"]}},
            {"name": "ratio", "value": {"div": ["l_extendedprice", "l_quantity"]}},
            {"name": "safe_div", "value": {"div": ["l_quantity", "l_discount"], "default": -1}},
            {"name": "m", "value": {"mod": ["l_linenumber", 3]}},
            {"name": "p", "value": {"exp": ["l_discount", 2]}},
            {"name": "bucket", "value": {"floor": ["l_quantity", 7]}},
            # null semantics: ne true only when BOTH exist and differ
            # (NeOp @1017); count = row-wise non-missing count (@1584)
            {"name": "v", "value": _NULLY},
            {"name": "v_missing", "value": {"missing": _NULLY}},
            {"name": "v_exists", "value": {"exists": _NULLY}},
            {"name": "ne_qd", "value": {"ne": ["l_quantity", "l_discount"]}},
            {"name": "ne_v_qty", "value": {"ne": [_NULLY, "l_quantity"]}},
            {"name": "n_present", "value": {"count": [_NULLY, "l_quantity"]}},
            # coalesce skips "" terms; div-by-zero -> missing -> fall through
            {
                "name": "pick",
                "value": {
                    "coalesce": [
                        {"when": {"eq": {"l_returnflag": "A"}}, "then": {"literal": ""}},
                        {"when": {"eq": {"l_linestatus": "F"}}, "then": {"literal": "fin"}},
                        {"literal": "other"},
                    ]
                },
            },
            {
                "name": "safe",
                "value": {
                    "coalesce": [{"div": ["l_quantity", {"sub": ["l_discount", "l_discount"]}]}, "l_tax"]
                },
            },
            # row-wise greatest/least IGNORE nulls (MaxOp @1611); n-ary add
            # with nulls=False: any missing term -> default
            {"name": "mx", "value": {"max": [_NULLY, "l_discount"]}},
            {"name": "mn", "value": {"min": [_NULLY, "l_discount"]}},
            {"name": "strict_sum", "value": {"add": [_NULLY, "l_tax"], "nulls": False, "default": -1}},
        ],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 10000,
    },
    """SELECT l_orderkey AS ok, l_linenumber AS ln,
              l_extendedprice * (1 - l_discount) AS rev,
              l_quantity + l_discount + l_tax AS s,
              l_extendedprice - l_quantity AS d,
              l_extendedprice / l_quantity AS ratio,
              CASE WHEN l_discount = 0 THEN -1 ELSE l_quantity / l_discount END AS safe_div,
              l_linenumber % 3 AS m,
              pow(l_discount, 2) AS p,
              floor(l_quantity / 7) * 7 AS bucket,
              CASE WHEN l_returnflag = 'A' THEN l_quantity END AS v,
              l_returnflag != 'A' AS v_missing,
              l_returnflag = 'A' AS v_exists,
              l_quantity != l_discount AS ne_qd,
              FALSE AS ne_v_qty,
              CASE WHEN l_returnflag = 'A' THEN 2 ELSE 1 END AS n_present,
              coalesce(CASE WHEN l_linestatus = 'F' THEN 'fin' END, 'other') AS pick,
              l_tax AS safe,
              CASE WHEN l_returnflag = 'A' AND l_quantity > l_discount THEN l_quantity
                   ELSE l_discount END AS mx,
              CASE WHEN l_returnflag = 'A' AND l_quantity < l_discount THEN l_quantity
                   ELSE l_discount END AS mn,
              CASE WHEN l_returnflag = 'A' THEN l_quantity + l_tax ELSE -1 END AS strict_sum
       FROM lineitem WHERE l_orderkey < 500
       ORDER BY l_orderkey, l_linenumber LIMIT 10000""",
    headline=True,
)

# Merged unix/from_unix/offset coverage in ONE driver row (orders) — see
# DRIVER_ORDER note.
_q(
    "setop_dates_unix",
    {
        "from": "orders",
        "select": [
            {"name": "ok", "value": "o_orderkey"},
            {"name": "unix_ts", "value": {"unix": "o_orderdate"}},
            {"name": "after_1995", "value": {"gte": [{"unix": "o_orderdate"}, {"date": "1995-01-01"}]}},
            {"name": "ts_str", "value": {"string": {"from_unix": {"unix": "o_orderdate"}}}},
            {"name": "plus_day", "value": {"string": {"from_unix": {"add": [{"unix": "o_orderdate"}, 86400]}}}},
            # positional column access (orders schema order: o_orderkey,
            # o_custkey, o_orderstatus, o_totalprice, ...)
            {"name": "first_col", "value": {"offset": 0}},
            {"name": "fourth_col", "value": {"offset": 3}},
        ],
        "sort": [{"value": {"offset": 0}, "sort": 1}],
        "limit": 500,
    },
    """SELECT o_orderkey AS ok,
              epoch(o_orderdate) AS unix_ts,
              o_orderdate >= TIMESTAMP '1995-01-01' AS after_1995,
              strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
              strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS plus_day,
              o_orderkey AS first_col, o_totalprice AS fourth_col
       FROM orders ORDER BY o_orderkey LIMIT 500""",
)

# -- scalar aggregation (§2.4) --

def _agg_scalar_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged scalar-aggregate driver row: count/sum/min/max/avg/std/median
    + variance/exact-percentile/cardinality/s0/s1/s2 moments/exists + the
    `union` set aggregate ('|'-joined — arrays hash engine-differently,
    the r02 lesson). One row, every §2.4 scalar aggregate hash-verified.
    This is deliberately the EXACT oracle-parity form (sort-based
    percentile + count-distinct Expand); agg_scalar_moments_approx is the
    KLL/HLL scale path of the same query."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run

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
            {"name": "vr", "value": "l_discount", "aggregate": "variance"},
            {"name": "p90", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9},
            {"name": "card", "value": "l_returnflag", "aggregate": "cardinality"},
            {"name": "m0", "value": "l_discount", "aggregate": "s0"},
            {"name": "m1", "value": "l_discount", "aggregate": "s1"},
            {"name": "m2", "value": "l_discount", "aggregate": "s2"},
            {"name": "any_qty", "value": "l_quantity", "aggregate": "exists"},
            {"name": "flags", "value": "l_returnflag", "aggregate": "union"},
        ],
    }
    df = run(q, spark=spark, sf_dir=sf_dir)
    df = df.withColumn("flags", F.concat_ws("|", F.col("flags")))
    for c in ("mean", "sd", "med", "vr", "p90", "m1", "m2"):
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


_q(
    "agg_scalar_stats",
    _agg_scalar_stats_spark,
    """SELECT count(l_quantity) AS n, sum(l_quantity) AS total,
              min(l_quantity) AS lo, max(l_quantity) AS hi,
              round(avg(l_quantity), 6) AS mean, round(stddev_pop(l_quantity), 6) AS sd,
              round(median(l_quantity), 6) AS med,
              round(var_pop(l_discount), 6) AS vr,
              round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
              count(DISTINCT l_returnflag) AS card,
              CAST(count(l_discount) AS DOUBLE) AS m0,
              round(sum(l_discount), 6) AS m1,
              round(sum(l_discount * l_discount), 6) AS m2,
              count(l_quantity) > 0 AS any_qty,
              array_to_string(list_sort(list(DISTINCT l_returnflag)), '|') AS flags
       FROM lineitem""",
    headline=True,
)

# Scale path of the moments half of agg_scalar_stats: percentile via KLL
# sketch (percentile_approx, accuracy 10_000 => rank error 1e-4) and
# cardinality via HLL (approx_count_distinct, default rsd 5%), switched by
# the query-level "approx" flag. Hard-verified since r6 by a BOUNDED-ERROR
# contract: sketch values can't be reproduced exactly, so the row compares
# them IN-ROW against the exact aggregates (a second tiny agg over the
# same scan) and emits the tolerance VERDICTS — which the DuckDB oracle
# reproduces as literal TRUEs next to the exact-matching moment columns.
# A sketch drifting outside its published error bound flips a boolean and
# fails the value hash; the former rows-only check proved only that the
# query ran.
def _agg_moments_approx_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.sources.registry import load_table

    df = run({
        "from": "lineitem",
        "approx": True,
        "select": [
            {"name": "vr", "value": "l_discount", "aggregate": "variance"},
            {"name": "p90", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9},
            {"name": "card", "value": "l_returnflag", "aggregate": "cardinality"},
            {"name": "m0", "value": "l_discount", "aggregate": "s0"},
            {"name": "m1", "value": "l_discount", "aggregate": "s1"},
            {"name": "m2", "value": "l_discount", "aggregate": "s2"},
            {"name": "any_qty", "value": "l_quantity", "aggregate": "exists"},
        ],
    }, spark=spark, sf_dir=sf_dir)
    exact = load_table(spark, sf_dir, "lineitem").agg(
        F.percentile(F.col("l_extendedprice"), F.lit(0.9)).alias("p90x"),
        F.countDistinct("l_returnflag").alias("cardx"),
    )
    # tolerances: 2% value error for the rank-1e-4 KLL p90 (generous —
    # rank error maps to far less value error on a smooth price column),
    # max(1, 5%) absolute for the rsd-5% HLL count
    return df.crossJoin(exact).select(
        F.round("vr", 6).alias("vr"),
        F.col("m0"),
        F.round("m1", 6).alias("m1"),
        F.round("m2", 6).alias("m2"),
        F.col("any_qty"),
        (F.abs(F.col("p90") - F.col("p90x")) <= 0.02 * F.abs(F.col("p90x"))).alias("p90_ok"),
        (F.abs(F.col("card") - F.col("cardx"))
         <= F.greatest(F.lit(1.0), 0.05 * F.col("cardx"))).alias("card_ok"),
    )


_q(
    "agg_scalar_moments_approx",
    _agg_moments_approx_spark,
    """SELECT round(var_pop(l_discount), 6) AS vr,
              CAST(count(l_discount) AS DOUBLE) AS m0,
              round(sum(l_discount), 6) AS m1,
              round(sum(l_discount * l_discount), 6) AS m2,
              count(l_quantity) > 0 AS any_qty,
              TRUE AS p90_ok, TRUE AS card_ok
       FROM lineitem""",
    headline=True,
)


# -- groupby (§2.1) --

_q(
    "groupby_tpch_q1",
    _rounded({
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
        "where": {"lte": [{"unix": "l_shipdate"}, {"date": "1998-09-02"}]},
    }, [("sum_base_price", 2), ("sum_disc_price", 2), "avg_disc"]),
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
    headline=True,
)

# hosts the former groupby_two_keys aggregates (grouped avg/max) — the
# two-key groupby shape itself is hash-verified by groupby_tpch_q1 — and,
# since r6, the former groupby_null_key_kept row as the `nullkey` leg
# (JX keeps the null group: null groupby coordinates are real rows),
# freeing its driver slot for pipeline_prepare.
def _groupby_bucket_spark(spark: SparkSession, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    bucket = _rounded({
        "from": "orders",
        "groupby": [{"name": "bucket", "value": {"floor": ["o_totalprice", 50000]}}],
        "select": [
            {"name": "n", "value": ".", "aggregate": "count"},
            {"name": "avg_price", "value": "o_totalprice", "aggregate": "avg"},
            {"name": "max_price", "value": "o_totalprice", "aggregate": "max"},
        ],
    }, ["avg_price"])(spark, sf_dir).select(
        F.col("bucket").cast("double").alias("key"),
        F.col("n").cast("bigint").alias("n"),
        "avg_price",
        "max_price",
    )
    nullkey = _jx({
        "from": "lineitem",
        "groupby": [{"name": "flag_a", "value": _NULLY}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    })(spark, sf_dir).select(
        F.col("flag_a").cast("double").alias("key"),
        F.col("n").cast("bigint").alias("n"),
    )
    # having leg (r10): the post-aggregate filter — same bucket groupby
    # gated on an AGGREGATE column (avg_price > 200000 keeps ~half the
    # buckets at every sf; the counts are uniform, so a count gate would
    # be all-or-nothing), compiled against the result schema and planned
    # as a Filter on top of the same HashAggregate (no extra shuffle —
    # plan-asserted in test_executor.py).
    having = _rounded({
        "from": "orders",
        "groupby": [{"name": "bucket", "value": {"floor": ["o_totalprice", 50000]}}],
        "select": [
            {"name": "n", "value": ".", "aggregate": "count"},
            {"name": "avg_price", "value": "o_totalprice", "aggregate": "avg"},
            {"name": "max_price", "value": "o_totalprice", "aggregate": "max"},
        ],
        "having": {"gt": ["avg_price", 200000]},
    }, ["avg_price"])(spark, sf_dir).select(
        F.col("bucket").cast("double").alias("key"),
        F.col("n").cast("bigint").alias("n"),
        "avg_price",
        "max_price",
    )
    return {"bucket": bucket, "nullkey": nullkey, "having": having}


_q(
    "groupby_expr_bucket",
    _groupby_bucket_spark,
    # 2-arg JX floor is a NUMBER op -> DOUBLE on both sides
    """SELECT 'bucket' AS leg, CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS key,
              count(*) AS n, round(avg(o_totalprice), 6) AS avg_price,
              max(o_totalprice) AS max_price
       FROM orders GROUP BY 2
       UNION ALL
       SELECT 'nullkey', CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END AS DOUBLE),
              count(*), NULL, NULL
       FROM lineitem GROUP BY 2
       UNION ALL
       SELECT 'having', CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE),
              count(*), round(avg(o_totalprice), 6), max(o_totalprice)
       FROM orders GROUP BY 2 HAVING avg(o_totalprice) > 200000""",
    ops=("bucket", "nullkey", "having"),
    headline=True,
)

# -- edges + domains (§2.1, §2.7): DENSE output --

def _edges_set_variants_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged multi-leg set-domain driver row (the edges_range_histogram
    pattern): `dense` = declared 6-part set incl. an empty part,
    `nullbucket` = 2-part set with allowNulls=True collecting out-of-set
    rows, `words` = multivalue edge (split -> a row contributes to EVERY
    matching coordinate). One row hash-verifies all three set-edge
    semantics."""
    from mysql_to_s3_spark.operators.executor import run

    dense = run(
        {
            "from": "customer",
            "edges": [
                {
                    "name": "part",
                    "value": "c_mktsegment",
                    "allowNulls": False,
                    "domain": {
                        "type": "set",
                        "partitions": ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD", "NOSUCH"],
                    },
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("part", "n")
    nullb = run(
        {
            "from": "customer",
            "edges": [
                {
                    "name": "part",
                    "value": "c_mktsegment",
                    "allowNulls": True,
                    "domain": {"type": "set", "partitions": ["AUTOMOBILE", "BUILDING"]},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("part", "n")
    words = run(
        {
            "from": "documents",
            "edges": [{"name": "part", "value": {"split": ["text", " "]}, "allowNulls": False}],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "limit": 1000,
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("part", "n")
    return {"dense": dense, "nullbucket": nullb, "words": words}


_q(
    "edges_set_domain_dense",
    _edges_set_variants_spark,
    """WITH parts(part) AS (VALUES ('AUTOMOBILE'), ('BUILDING'), ('FURNITURE'),
                                 ('MACHINERY'), ('HOUSEHOLD'), ('NOSUCH')),
            agg AS (SELECT c_mktsegment AS part, count(*) AS n FROM customer GROUP BY 1),
            nparts(part) AS (VALUES ('AUTOMOBILE'), ('BUILDING'), (NULL)),
            nagg AS (SELECT CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
                                 THEN c_mktsegment END AS part,
                            count(*) AS n
                     FROM customer GROUP BY 1),
            wagg AS (SELECT w AS part, count(*) AS n
                     FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                     GROUP BY 1)
       SELECT 'dense' AS leg, parts.part AS part, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
       FROM parts LEFT JOIN agg USING (part)
       UNION ALL
       SELECT 'nullbucket' AS leg, nparts.part AS part, CAST(coalesce(nagg.n, 0) AS BIGINT) AS n
       FROM nparts LEFT JOIN nagg ON nparts.part IS NOT DISTINCT FROM nagg.part
       UNION ALL
       SELECT 'words' AS leg, part, CAST(n AS BIGINT) AS n FROM wagg""",
    ops=("dense", "nullbucket", "words"),
    headline=True,
)

def _trimmed_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run

    out = run(
        {
            "from": "lineitem",
            "groupby": ["l_returnflag"],
            "select": [{"name": "st", "value": "l_quantity", "aggregate": "stats", "middle": 0.8}],
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    # p90b (r9 session 2): the GROUPED bracketed exact percentile
    # (operators/quantiles.exact_percentile_grouped — sketch-bracket,
    # prove containment per group, broadcast-join, Column-side
    # rank-select) under the hard gate: per-returnflag p90 of
    # l_quantity must equal DuckDB quantile_cont exactly. The operator
    # is EAGER (its containment validation runs jobs at call time), so
    # the result — three (flag, p90) rows — is collected once per build
    # and re-injected as a literal frame.
    from mysql_to_s3_spark.operators.quantiles import exact_percentile_grouped
    from mysql_to_s3_spark.sources.registry import load_table

    p90_rows = [
        (r["l_returnflag"], float(r["p90b"]))
        for r in exact_percentile_grouped(
            load_table(spark, sf_dir, "lineitem"),
            ["l_returnflag"],
            "l_quantity",
            0.9,
            out_col="p90b",
        ).collect()
    ]
    p90 = spark.createDataFrame(p90_rows, "l_returnflag string, p90b double")
    return out.join(F.broadcast(p90), "l_returnflag").select(
        "l_returnflag",
        F.col("st.count").alias("cnt"),
        F.round(F.col("st.sum"), 6).alias("total"),
        F.col("st.min").alias("mn"),
        F.col("st.max").alias("mx"),
        F.round(F.col("st.avg"), 6).alias("av"),
        F.round(F.col("st.std"), 6).alias("sd"),
        F.round(F.col("st.median"), 6).alias("med"),
        F.round(F.col("p90b"), 6).alias("p90b"),
    )


_q(
    "agg_trimmed_stats",
    _trimmed_stats_spark,
    # Stats(middle=0.8): drop ceil(n*0.1) samples from each end of the
    # sorted group, aggregate the middle slice (windows.py:126-155)
    """WITH s AS (
         SELECT l_returnflag, list_sort(list(l_quantity)) AS l
         FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
       t AS (
         SELECT l_returnflag,
                l[(CAST(ceil(len(l) * 0.1) AS INT) + 1):(len(l) - CAST(ceil(len(l) * 0.1) AS INT))] AS m
         FROM s)
       SELECT t.l_returnflag,
              CAST(len(m) AS BIGINT) AS cnt,
              round(list_sum(m), 6) AS total,
              m[1] AS mn,
              m[-1] AS mx,
              round(list_avg(m), 6) AS av,
              round(sqrt(list_sum(list_transform(m, x -> x * x)) / len(m)
                         - list_avg(m) * list_avg(m)), 6) AS sd,
              round(CASE WHEN (len(m) - 1) % 2 = 0
                         THEN m[(len(m) - 1) // 2 + 1]
                         ELSE (m[(len(m) - 1) // 2 + 1] + m[(len(m) - 1) // 2 + 2]) / 2.0
                    END, 6) AS med,
              p.p90b
       FROM t JOIN (SELECT l_returnflag,
                           round(quantile_cont(l_quantity, 0.9), 6) AS p90b
                    FROM lineitem GROUP BY 1) p USING (l_returnflag)""",
)

_q(
    "window_percentile_partition",
    _rounded(
        {
            "from": "lineitem",
            "where": {"lt": {"l_orderkey": 500}},
            "window": [
                {
                    "name": "p50",
                    "value": "l_quantity",
                    "aggregate": "median",
                    "edges": ["l_orderkey"],
                }
            ],
            "select": ["l_orderkey", "l_linenumber", "l_quantity", "p50"],
            "sort": ["l_orderkey", "l_linenumber", "l_quantity"],
            "limit": 10000,
        },
        ["p50"],
    ),
    """SELECT l_orderkey, l_linenumber, l_quantity,
              round(quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_orderkey), 6) AS p50
       FROM lineitem WHERE l_orderkey < 500
       ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 10000""",
    headline=True,
)

def _edges_time_variants_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged time-domain driver row: `week` = fixed 7-day buckets
    anchored at the domain min (dense: every week appears even when
    empty), `month` = CALENDAR-month buckets (variable width — a month is
    not n seconds). Both legs emit (leg, bucket, n)."""
    from mysql_to_s3_spark.operators.executor import run

    week = run(
        {
            "from": "orders",
            "edges": [
                {
                    "name": "bucket",
                    "value": "o_orderdate",
                    "allowNulls": False,
                    "domain": {"type": "time", "min": "1995-03-01", "max": "1995-04-26", "interval": "week"},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("bucket", "n")
    month = run(
        {
            "from": "orders",
            "edges": [
                {
                    "name": "bucket",
                    "value": "o_orderdate",
                    "allowNulls": False,
                    "domain": {"type": "time", "min": "1995-01-01", "max": "1996-01-01", "interval": "month"},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("bucket", "n")
    return {"week": week, "month": month}


_q(
    "edges_time_week_dense",
    _edges_time_variants_spark,
    # plain TIMESTAMP arithmetic keeps DuckDB in the TZ-less type Spark's
    # NTZ column compares against
    """WITH agg AS (
         SELECT TIMESTAMP '1995-03-01'
                  + INTERVAL 1 SECOND * (604800 * CAST(floor(date_diff('second', TIMESTAMP '1995-03-01', o_orderdate) / 604800) AS BIGINT)) AS bucket,
                count(*) AS n
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-04-26'
         GROUP BY 1),
       parts AS (
         SELECT TIMESTAMP '1995-03-01' + INTERVAL 1 SECOND * (604800 * g.x) AS bucket
         FROM generate_series(0, 7) g(x)),
       months AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                                TIMESTAMP '1995-12-01',
                                                INTERVAL 1 MONTH)) AS bucket),
       magg AS (SELECT date_trunc('month', o_orderdate) AS bucket, count(*) AS n
                FROM orders
                WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
                GROUP BY 1)
       SELECT 'week' AS leg, parts.bucket AS bucket, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
       FROM parts LEFT JOIN agg USING (bucket)
       UNION ALL
       SELECT 'month' AS leg, months.bucket AS bucket, CAST(coalesce(magg.n, 0) AS BIGINT) AS n
       FROM months LEFT JOIN magg USING (bucket)""",
    ops=("week", "month"),
    headline=True,
)

_q(
    "edges_general_set_where",
    {
        "from": "orders",
        "edges": [
            {
                "name": "tier",
                "allowNulls": True,
                "domain": {
                    "type": "set",
                    "partitions": [
                        {"name": "big", "where": {"gte": {"o_totalprice": 200000}}},
                        {"name": "mid", "where": {"gte": {"o_totalprice": 100000}}},
                        {"name": "small", "where": {"gt": {"o_totalprice": 0}}},
                    ],
                },
            }
        ],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
    },
    # general set (per-part where, GeneralSetDecoder): FIRST matching part
    # claims the row; unmatched rows land in the null bucket
    """WITH agg AS (SELECT CASE WHEN o_totalprice >= 200000 THEN 'big'
                                WHEN o_totalprice >= 100000 THEN 'mid'
                                WHEN o_totalprice > 0 THEN 'small' END AS tier,
                           count(*) AS n
                    FROM orders GROUP BY 1),
            parts(tier) AS (VALUES ('big'), ('mid'), ('small'), (NULL))
       SELECT parts.tier AS tier, CAST(coalesce(agg.n, 0) AS BIGINT) AS n
       FROM parts LEFT JOIN agg ON parts.tier IS NOT DISTINCT FROM agg.tier""",
    headline=True,
)

def _edges_default_variants_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged default-domain driver row: `onedim` = discovered (capped +
    sorted) part set on one edge, `twodim` = dense CROSS PRODUCT of two
    discovered part sets (empty cells NULL). Legs emit
    (leg, flag, status, total); the one-dim leg has status NULL."""
    from mysql_to_s3_spark.operators.executor import run

    one = run(
        {
            "from": "lineitem",
            "edges": [{"name": "flag", "value": "l_returnflag", "allowNulls": False}],
            "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
            "limit": 1000,
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("flag", "total")
    two = run(
        {
            "from": "lineitem",
            "edges": [
                {"name": "flag", "value": "l_returnflag", "allowNulls": False},
                {"name": "status", "value": "l_linestatus", "allowNulls": False},
            ],
            "select": [{"name": "total", "value": "l_quantity", "aggregate": "sum"}],
            "limit": 1000,
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select("flag", "status", "total")
    # twodim first: it has every column, so it fixes the column order
    return {"twodim": two, "onedim": one}


_q(
    "edges_default_domain",
    _edges_default_variants_spark,
    """WITH f AS (SELECT DISTINCT l_returnflag AS flag FROM lineitem),
            s AS (SELECT DISTINCT l_linestatus AS status FROM lineitem),
            agg2 AS (SELECT l_returnflag AS flag, l_linestatus AS status,
                            sum(l_quantity) AS total
                     FROM lineitem GROUP BY 1, 2)
       SELECT 'onedim' AS leg, l_returnflag AS flag, CAST(NULL AS VARCHAR) AS status,
              sum(l_quantity) AS total
       FROM lineitem GROUP BY 2
       UNION ALL
       SELECT 'twodim' AS leg, f.flag AS flag, s.status AS status, agg2.total AS total
       FROM f CROSS JOIN s LEFT JOIN agg2 USING (flag, status)""",
    ops=("onedim", "twodim"),
    headline=True,
)

def _range_duration_hist_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + duration + span domains in one tagged driver row: a
    numeric [0,50)x10 histogram over l_quantity, a duration-domain
    histogram ([0, 5week) x week, duration-literal bounds) over each
    event's age since 2024-01-01, and an edge `range{min,max}` SPAN leg
    (row contributes to EVERY overlapped bucket via explode(sequence),
    never a cross join — the former edges_range_span entry, merged in
    round 4). All are the same dense fixed-width grid shape."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run

    rng = run(
        {
            "from": "lineitem",
            "edges": [
                {
                    "name": "bucket",
                    "value": "l_quantity",
                    "allowNulls": False,
                    "domain": {"type": "range", "min": 0, "max": 50, "interval": 10},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select(F.lit("range").alias("domain"), "bucket", "n")
    dur = run(
        {
            "from": "events",
            "edges": [
                {
                    "name": "bucket",
                    "value": {"sub": [{"unix": "ts"}, {"date": "2024-01-01"}]},
                    "allowNulls": False,
                    "domain": {"type": "duration", "min": 0, "max": "5week", "interval": "week"},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select(F.lit("duration").alias("domain"), "bucket", "n")
    span = run(
        {
            "from": "lineitem",
            "edges": [
                {
                    "name": "bucket",
                    "range": {"min": "l_quantity", "max": {"add": ["l_quantity", 15]}},
                    "allowNulls": False,
                    "domain": {"type": "range", "min": 0, "max": 60, "interval": 15},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        },
        spark=spark,
        sf_dir=sf_dir,
    ).select(F.lit("span").alias("domain"), "bucket", "n")
    return rng.unionByName(dur).unionByName(span)


_q(
    "edges_range_histogram",
    _range_duration_hist_spark,
    """WITH qb AS (SELECT unnest([0.0, 10.0, 20.0, 30.0, 40.0]) AS bucket),
            qagg AS (SELECT floor(l_quantity / 10) * 10 AS bucket, count(*) AS n
                     FROM lineitem WHERE l_quantity >= 0 AND l_quantity < 50 GROUP BY 1),
            db AS (SELECT unnest([0.0, 604800.0, 1209600.0, 1814400.0, 2419200.0]) AS bucket),
            dagg AS (SELECT floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 604800) * 604800 AS bucket,
                            count(*) AS n
                     FROM events
                     WHERE epoch(ts) - epoch(TIMESTAMP '2024-01-01') >= 0
                       AND epoch(ts) - epoch(TIMESTAMP '2024-01-01') < 3024000
                     GROUP BY 1)
       SELECT 'range' AS domain, CAST(qb.bucket AS DOUBLE) AS bucket,
              CAST(coalesce(qagg.n, 0) AS BIGINT) AS n
       FROM qb LEFT JOIN qagg USING (bucket)
       UNION ALL
       SELECT 'duration' AS domain, CAST(db.bucket AS DOUBLE) AS bucket,
              CAST(coalesce(dagg.n, 0) AS BIGINT) AS n
       FROM db LEFT JOIN dagg USING (bucket)
       UNION ALL
       SELECT 'span' AS domain, CAST(sb.bucket AS DOUBLE) AS bucket,
              CAST(coalesce(shits.n, 0) AS BIGINT) AS n
       FROM (SELECT unnest([0.0, 15.0, 30.0, 45.0]) AS bucket) sb
       LEFT JOIN (
         SELECT b.bucket, count(*) AS n
         FROM lineitem l JOIN (SELECT unnest([0.0, 15.0, 30.0, 45.0]) AS bucket) b
           ON floor(b.bucket / 15) >= greatest(floor(l.l_quantity / 15), 0)
          AND floor(b.bucket / 15) <= least(floor((l.l_quantity + 15) / 15 - 0.000000000001), 3)
         WHERE l.l_quantity + 15 > 0 AND l.l_quantity < 60
         GROUP BY 1) shits USING (bucket)""",
    ops=("range", "duration", "span"),
    headline=True,
)

# -- window clauses (§2.5) --

# NOTE on window sorts: (l_orderkey, l_linenumber) is NOT unique, and the
# running sum depends on tie order — the window sort must include every
# column the frame aggregates over (here l_quantity) so tied rows are
# interchangeable and the result multiset is engine-independent.
# Merged window driver row: running-sum frame + rownum sequence + trailing
# [-2,1) frame + `where` pre-filtered frame as four window clauses in one
# query (the former window_rownum_partition / window_trailing_frame /
# window_where_prefilter entries, consolidated into the window in round 4).
_q(
    "window_running_sum",
    {
        "from": "lineitem",
        "where": {"lt": {"l_orderkey": 2000}},
        "window": [
            {
                "name": "running_qty",
                "value": "l_quantity",
                "aggregate": "sum",
                "edges": ["l_orderkey"],
                "sort": ["l_linenumber", "l_quantity"],
                "range": {"min": None, "max": 1},
            },
            {"name": "seq", "edges": ["l_orderkey"], "sort": ["l_linenumber", "l_quantity"]},
            # JX range [min,max) over rownum offsets: -2..0 = 2 preceding..current
            {
                "name": "trail3",
                "value": "l_quantity",
                "aggregate": "sum",
                "edges": ["l_orderkey"],
                "sort": ["l_linenumber", "l_quantity"],
                "range": {"min": -2, "max": 1},
            },
            # window `where` pre-filters rows the frame aggregates (jx.py:984);
            # sort includes l_returnflag so tie rows are frame-interchangeable
            {
                "name": "a_qty",
                "value": "l_quantity",
                "aggregate": "sum",
                "edges": ["l_orderkey"],
                "sort": ["l_linenumber", "l_quantity", "l_returnflag"],
                "where": {"eq": {"l_returnflag": "A"}},
                "range": {"min": None, "max": 1},
            },
        ],
        "select": ["l_orderkey", "l_linenumber", "running_qty", "seq", "trail3", "a_qty"],
        "sort": ["l_orderkey", "l_linenumber"],
        "limit": 10000,
    },
    """SELECT l_orderkey, l_linenumber,
              sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
              row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) - 1 AS seq,
              sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS trail3,
              sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)
                  OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_quantity, l_returnflag
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_qty
       FROM lineitem WHERE l_orderkey < 2000
       ORDER BY l_orderkey, l_linenumber LIMIT 10000""",
    ops=("running_qty", "seq", "trail3", "a_qty"),
    headline=True,
)

# hosts the `between` prefix/suffix extraction (former setop_between_extract)
# alongside the lead/lag window — both run over the events table
_q(
    "window_lead_lag",
    {
        "from": "events",
        "window": [
            {
                "name": "prev_value",
                "value": {"rows": ["value", -1]},
                "edges": ["user_id"],
                "sort": ["ts", "event_id"],
            },
            # r8: the EDGE-LESS global window (reference global-sort
            # semantics, SURVEY §2.5 row 48) under the hard gate — the
            # bounded-row guard (windows._guard_global_window) admits the
            # frame after its limit-count, then the single-task
            # global rownum runs; event_id is unique, so the order is
            # total and the result engine-independent at any sf
            {"name": "gseq", "sort": ["event_id"]},
        ],
        "select": [
            "event_id",
            "prev_value",
            "gseq",
            {"name": "k_val", "value": {"between": "props", "prefix": '{"k": ', "suffix": "}"}},
        ],
        "sort": ["event_id"],
        "limit": 10000,
    },
    """SELECT event_id,
              lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
              row_number() OVER (ORDER BY event_id) - 1 AS gseq,
              CASE WHEN regexp_matches(props, '\\{"k": (.*?)\\}')
                   THEN regexp_extract(props, '\\{"k": (.*?)\\}', 1) END AS k_val
       FROM events ORDER BY event_id LIMIT 10000""",
    ops=("prev_value", "k_val"),
    verify=("gseq",),
    headline=True,
)

# -- nested-table addressing (from: "fact.items"; §2.1 from + §2.3 joins) --

_q(
    "nested_table_from",
    _nested_from,
    """SELECT sum(l_quantity) AS total FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)""",
    headline=True,
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (dedup / similarity / text / multimodal).
# Oracle SQL is GENERATED from the same module constants the Spark operators
# use, so both sides compute identical heuristics.


def _sql_words(col: str) -> str:
    return f"regexp_extract_all({col}, '\\w+')"


# word-blocklist vocab for the text_stats `blockword_frac` column —
# drawn from the corpus vocabulary so the fraction takes many distinct
# values at sf0.01 (the operator lowercases; 'SLOW' here binds that)
_BLOCK_WORDS = ("SLOW", "spam", "big")


def _sql_stop_hits(col: str, vocab: tuple[str, ...]) -> str:
    return _sql_stop_hits_list(_sql_words(col), vocab)


def _sql_stop_hits_list(ws: str, vocab: tuple[str, ...]) -> str:
    """Vocab-hit count over a PRE-BOUND words list — bind the list via
    LATERAL first: DuckDB does not CSE a words expression repeated
    inside lambdas, and the re-derivation is the difference between
    0.06 s and 67 s at sf0.01 for the top-bigram column alone."""
    lst = ", ".join(f"'{w}'" for w in vocab)
    return (
        f"coalesce(list_sum(list_transform({ws}, "
        f"w -> CASE WHEN list_contains([{lst}], lower(w)) THEN 1 ELSE 0 END)), 0)"
    )


def _sql_dup_part(parts: str, text: str) -> tuple[str, str]:
    """DuckDB replicas of gopher_repetition's dup line/para signals over
    a (pre-bound) non-empty parts list: (dup fraction, dup char
    fraction). The oracle keeps the O(L^2) distinct x filter form for
    clarity — the Spark side is the O(L log L) sorted fold."""
    frac = f"""CASE WHEN len({parts}) > 0
          THEN round(1.0 - len(list_distinct({parts}))::DOUBLE / len({parts}), 6)
          ELSE 0.0 END"""
    chars = f"""CASE WHEN length({text}) > 0
          THEN round(least(coalesce(list_sum(list_transform(list_distinct({parts}),
                 p -> (len(list_filter({parts}, x -> x = p)) - 1) * length(p))), 0)::DOUBLE
               / length({text}), 1.0), 6)
          ELSE 0.0 END"""
    return frac, chars


def _sql_ngrams(ws: str, n: int) -> str:
    """DuckDB replica of text.word_ngrams over a pre-bound words list."""
    return (
        f"[array_to_string(list_slice({ws}, i, i + {n - 1}), ' ') "
        f"FOR i IN range(1, len({ws}) - {n - 2})]"
    )


def _sql_top_ngram_chars(ng: str, mx: str) -> str:
    """Chars covered by the most frequent n-gram (ties -> widest)."""
    return f"""coalesce(list_max(list_transform(list_distinct({ng}),
        g -> CASE WHEN len(list_filter({ng}, x -> x = g)) = {mx}
                  THEN {mx} * length(g) ELSE 0 END)), 0)"""


def _sql_dup_ngram_chars(ng: str) -> str:
    """Chars in ALL occurrences of duplicated n-grams (count x length)."""
    return f"""coalesce(list_sum(list_transform(list_distinct({ng}),
        g -> CASE WHEN len(list_filter({ng}, x -> x = g)) >= 2
                  THEN len(list_filter({ng}, x -> x = g)) * length(g) ELSE 0 END)), 0)"""


def _text_stats_sql() -> str:
    from mysql_to_s3_spark.operators.text import LANG_PROFILES, TOKEN_RE

    # every text-words signal reads the LATERAL-bound `tw` (and the
    # top-bigram its bound `tbg`): with the words expression inlined,
    # DuckDB re-derives the regexp inside each lambda ELEMENT and the
    # top-bigram column alone cost 67 s at sf0.01 (bound: 0.06 s) —
    # the r9 "unmaterialized-HOF pathology" that kept this oracle out
    # of the sf0.1 ratio re-time (tools/bench_oracle.py)
    stop = _sql_stop_hits_list("tw", LANG_PROFILES["en"])
    # r9s3: the complete Gopher repetition family over synth2 — a
    # repetition-rich doc built from the corpus text by doc_id
    # arithmetic (dup lines when d%2=0, a 1-3x repeated 10-word segment
    # per d%3, a duplicated paragraph when d%5=0) so every signal takes
    # many distinct values; the Spark side builds the IDENTICAL string
    dup_line_frac, dup_line_chars = _sql_dup_part("ls", "synth2")
    dup_para_frac, dup_para_chars = _sql_dup_part("ps", "synth2")
    cfrac = lambda num: (  # noqa: E731
        f"CASE WHEN length(synth2) > 0 THEN "
        f"round(least(({num})::DOUBLE / length(synth2), 1.0), 6) ELSE 0.0 END"
    )
    top_cols = ",\n           ".join(
        f"{cfrac(_sql_top_ngram_chars(f'ng{n}', f'mx{n}'))} AS top_{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    dup_cols = ",\n           ".join(
        f"{cfrac(_sql_dup_ngram_chars(f'ng{n}'))} AS dup_{n}gram_char_frac"
        for n in (5, 6, 7, 8, 9, 10)
    )
    ng_binds = ",\n         ".join(
        f"LATERAL (SELECT {_sql_ngrams('w2', n)} AS ng{n}) _ng{n}"
        for n in range(2, 11)
    )
    mx_binds = ",\n         ".join(
        f"""LATERAL (SELECT coalesce(list_max(list_transform(list_distinct(ng{n}),
              g -> len(list_filter(ng{n}, x -> x = g)))), 0) AS mx{n}) _mx{n}"""
        for n in (2, 3, 4)
    )
    return f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
           len(tw) AS n_words,
           round(CASE WHEN len(tw) > 0
                 THEN coalesce(list_sum(list_transform(tw, w -> length(w))), 0)::DOUBLE
                      / len(tw) ELSE 0.0 END, 6) AS avg_word_len,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[\\w\\s]', '', 'g'))::DOUBLE / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN len(tw) > 0
                 THEN {stop}::DOUBLE / len(tw) ELSE 0.0 END, 6) AS stopword_ratio,
           round(CASE WHEN len(tw) > 0
                 THEN 1.0 - len(list_distinct(tw))::DOUBLE / len(tw)
                 ELSE 0.0 END, 6) AS dup_word_frac,
           round(CASE WHEN len(tw) > 1
                 THEN list_max(list_transform(list_distinct(tbg),
                        d -> len(list_filter(tbg, x -> x = d))))::DOUBLE / (len(tw) - 1)
                 ELSE 0.0 END, 6) AS top_bigram_frac,
           round(CASE WHEN len(sw) > 0
                 THEN (len(regexp_extract_all(synth, '#'))
                       + len(regexp_extract_all(synth, '\\.\\.\\.'))
                       + len(regexp_extract_all(synth, '…')))::DOUBLE / len(sw)
                 ELSE 0.0 END, 6) AS symbol_word_ratio,
           round(len(list_filter(string_split(synth, chr(10)),
                     l -> regexp_matches(ltrim(l), '^([-*•]|[0-9]+\\.)\\s')))::DOUBLE
                 / len(string_split(synth, chr(10))), 6) AS bullet_line_frac,
           round(len(list_filter(string_split(synth, chr(10)),
                     l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE
                 / len(string_split(synth, chr(10))), 6) AS ellipsis_line_frac,
           round(CASE WHEN len(sw) > 0
                 THEN len(list_filter(sw, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                      / len(sw) ELSE 0.0 END, 6) AS alpha_word_frac,
           round(CASE WHEN len(tw) > 0
                 THEN {_sql_stop_hits_list('tw', tuple(w.lower() for w in _BLOCK_WORDS))}::DOUBLE
                      / len(tw) ELSE 0.0 END, 6) AS blockword_frac,
           {dup_line_frac} AS dup_line_frac,
           {dup_line_chars} AS dup_line_char_frac,
           {dup_para_frac} AS dup_para_frac,
           {dup_para_chars} AS dup_para_char_frac,
           {top_cols},
           {dup_cols},
           round(len(list_filter(l3, l -> regexp_matches(rtrim(l), '[.!?]["'']?$')))::DOUBLE
                 / len(l3), 6) AS c4_term_line_frac,
           round(len(list_filter(l3, l -> len(regexp_extract_all(l, '\\w+')) < 3))::DOUBLE
                 / len(l3), 6) AS c4_short_line_frac,
           CAST(len(regexp_extract_all(synth3, '[.!?]')) AS BIGINT) AS c4_sentences,
           CAST(CASE WHEN contains(synth3, '{{') THEN 1 ELSE 0 END
                + CASE WHEN contains(lower(synth3), 'lorem ipsum') THEN 2 ELSE 0 END
                + CASE WHEN len(list_filter(l3,
                        l -> len(list_filter(regexp_extract_all(l, '\\w+'),
                                             w -> lower(w) = 'javascript')) > 0)) > 0
                       THEN 4 ELSE 0 END AS BIGINT) AS c4_flags,
           md5(coalesce(array_to_string(list_filter(l3,
                 l -> regexp_matches(rtrim(l), '[.!?]["'']?$')
                      AND len(regexp_extract_all(l, '\\w+')) >= 3
                      AND len(list_filter(regexp_extract_all(l, '\\w+'),
                                          w -> lower(w) = 'javascript')) = 0),
               chr(10)), '')) AS c4_clean_md5,
           {_SQL_FP} AS fp
    FROM (SELECT *,
                 text || chr(10)
                 || CASE WHEN doc_id % 3 = 0 THEN '- item' ELSE 'plain line' END
                 || chr(10)
                 || CASE WHEN doc_id % 2 = 0 THEN 'trail...' ELSE 'trail' END
                 || chr(10)
                 || CASE WHEN doc_id % 4 = 0 THEN '# t4g 42' ELSE 'only words here' END
                   AS synth
          FROM documents),
         LATERAL (SELECT {_sql_words('text')} AS tw) _tw,
         LATERAL (SELECT list_transform(range(1, greatest(len(tw) - 1, 0) + 1),
                    i -> tw[i] || ' ' || tw[i + 1]) AS tbg) _tbg,
         LATERAL (SELECT {_sql_words('synth')} AS sw) _w,
         LATERAL (SELECT array_to_string(list_slice(tw, 1, 10), ' ')
                    AS seg) _sg,
         LATERAL (SELECT CASE doc_id % 3 WHEN 0 THEN seg
                           WHEN 1 THEN seg || ' ' || seg
                           ELSE seg || ' ' || seg || ' ' || seg END AS rep,
                         'dup line ' || (doc_id % 4) AS dupl) _rp,
         LATERAL (SELECT text || chr(10) || dupl || chr(10)
                         || CASE WHEN doc_id % 2 = 0 THEN dupl
                                 ELSE 'uniq ' || doc_id END
                         || chr(10) || chr(10) || rep
                         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || rep
                                 ELSE '' END AS synth2) _s2,
         LATERAL (SELECT {_sql_words('synth2')} AS w2,
                         list_filter(string_split(synth2, chr(10)), x -> x != '') AS ls,
                         list_filter(string_split(synth2, chr(10) || chr(10)),
                                     x -> x != '') AS ps) _w2,
         LATERAL (SELECT synth || chr(10)
                         || CASE WHEN doc_id % 7 = 0
                                 THEN 'the javascript menu loads fine.'
                                 ELSE 'the simple menu loads fine.' END
                         || chr(10)
                         || CASE WHEN doc_id % 5 = 0 THEN 'code {{ block'
                                 WHEN doc_id % 11 = 0
                                 THEN 'more lorem ipsum filler here.'
                                 ELSE 'plain closing sentence here.' END
                    AS synth3) _s3,
         LATERAL (SELECT string_split(synth3, chr(10)) AS l3) _l3,
         {ng_binds},
         {mx_binds}"""


def _langid_case_expr() -> str:
    """DuckDB CASE expression mirroring operators.text.language_id."""
    from mysql_to_s3_spark.operators.text import LANG_PROFILES

    langs = list(LANG_PROFILES)
    scores = {
        lang: (
            f"len(list_intersect(list_distinct(list_transform({_sql_words('text')}, w -> lower(w))), "
            f"[{', '.join(repr(w) for w in prof)}]))"
        )
        for lang, prof in LANG_PROFILES.items()
    }
    cases = []
    for lang in langs:
        i = langs.index(lang)
        conds = [f"{scores[lang]} > 0"]
        conds += [f"{scores[lang]} > {scores[o]}" for o in langs[:i]]
        conds += [f"{scores[lang]} >= {scores[o]}" for o in langs[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"CASE {' '.join(cases)} ELSE 'und' END"


_SQL_FP = "substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)"

# exact char-5-shingle sets + all-pairs Jaccard (oracle side only — the
# Spark side uses the shared-shingle equi-join / LSH, never all-pairs)
def _sql_shingles(k: int) -> str:
    """DuckDB replica of operators.dedup.shingles: distinct char
    k-shingles, whole text as the single shingle when len(text) < k
    (range end = len - k + 2, floored at 2 so position 1 always emits)."""
    return (
        f"list_distinct([substr(text, i, {k}) "
        f"FOR i IN range(1, greatest(length(text) - {k - 2}, 2))])"
    )


_SQL_SHINGLES = _sql_shingles(5)

_SQL_JACCARD_PAIRS = f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents)
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.9"""


def _sql_dot(a: str, b: str, dim: int = 64) -> str:
    return f"list_sum(list_transform(range(1, {dim + 1}), i -> ({a}[i]::DOUBLE) * ({b}[i]::DOUBLE)))"


def _sql_cosine(a: str, b: str) -> str:
    # zero-norm -> 0.0 (NOT NaN), matching dedup.cosine's guard — the
    # engine and its oracle must agree on padding/zero vectors even
    # though the current fixtures contain none
    denom = f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"
    return f"(CASE WHEN {denom} = 0 THEN 0.0 ELSE {_sql_dot(a, b)} / {denom} END)"


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    lst = ", ".join(repr(x) for x in plane)
    return f"list_sum(list_transform(range(1, {len(plane) + 1}), i -> ({vec}[i]::DOUBLE) * ([{lst}][i])))"


def _ann_sql() -> str:
    """Tagged two-leg oracle: `probe0` = exact-bucket ANN, `probe1` =
    multi-probe (all buckets within hamming distance 1 of the query's
    sign pattern — SQL-side as a per-bit mismatch count <= 1, the exact
    set the Spark side enumerates as an IN-filter)."""
    from mysql_to_s3_spark.operators.similarity import hyperplanes

    planes = hyperplanes()
    n = len(planes)
    bucket = "(" + " || ".join(
        f"CASE WHEN {_sql_plane_dot('e.embedding', p)} > 0 THEN '1' ELSE '0' END" for p in planes
    ) + ")"
    q_bucket = "(" + " || ".join(
        f"CASE WHEN {_sql_plane_dot('q.qe', p)} > 0 THEN '1' ELSE '0' END" for p in planes
    ) + ")"
    ham = (
        f"list_sum(list_transform(range(1, {n + 1}), "
        f"i -> CASE WHEN substr(eb, i, 1) = substr(qb, i, 1) THEN 0 ELSE 1 END))"
    )
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, round({_sql_cosine('e.embedding', 'q.qe')}, 6) AS cos,
                  {bucket} AS eb, {q_bucket} AS qb
           FROM embeddings e, q),
         p0 AS (SELECT 'probe0' AS leg, vec_id, cos FROM scored WHERE eb = qb
                ORDER BY cos DESC, vec_id LIMIT 10),
         p1 AS (SELECT 'probe1' AS leg, vec_id, cos FROM scored WHERE {ham} <= 1
                ORDER BY cos DESC, vec_id LIMIT 10),
         ex AS (SELECT 'exact' AS leg, vec_id, cos FROM scored WHERE vec_id != 0
                ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT * FROM ex UNION ALL SELECT * FROM p0 UNION ALL SELECT * FROM p1"""


def _text_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # also hosts the normalized-text fingerprint column (former
    # text_fingerprint entry — same per-doc Column algebra, one scan)
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.text import (
        fingerprint,
        repetition_stats,
        text_stats,
        word_bigrams,
    )
    from mysql_to_s3_spark.sources.registry import load_table, spread

    from mysql_to_s3_spark.operators.text import gopher_stats

    docs = spread(load_table(spark, sf_dir, "documents"))
    # r10: bind words(text) ONCE for the whole row — HOF expressions are
    # codegen-fallback, so Catalyst never CSEs them across output
    # columns, and the unbound form evaluated regexp_extract_all(text)
    # 20x per row (plan-counted, plans/r10/text_stats_before.txt); a
    # multi-referenced non-cheap alias survives CollapseProject as a
    # real project boundary, so every consumer reads the same array
    from mysql_to_s3_spark.operators.text import words as _words

    docs = docs.withColumn("__wt__", _words(F.col("text")))
    # materialize the bigram array once (the nested top-bigram HOF
    # references it per outer element — the O(len^3) trap, see
    # repetition_stats docstring), built FROM the bound word array:
    # word_bigrams' own lambda reads the array twice per element, so an
    # unbound form re-ran words(text) O(len) times per row (r10 advice)
    docs = docs.withColumn("__bg__", word_bigrams(F.col("text"), ws=F.col("__wt__")))
    st = text_stats(F.col("text"), ws=F.col("__wt__"))
    # + Gopher-style repetition legs (dup_word_frac, top_bigram_frac)
    rep = repetition_stats(F.col("text"), bg=F.col("__bg__"), ws=F.col("__wt__"))
    # r9 session 2: the remaining Gopher table-A1 shape rules
    # (text.gopher_stats) over a SYNTHESIZED multi-line doc — the
    # corpus text is single-line and symbol-free, so bullets, ellipsis
    # endings, symbols, and non-alpha words are injected by doc_id
    # arithmetic (same construction in the oracle SQL); every ratio
    # takes several distinct values across the corpus, binding line
    # splitting, the bullet/ellipsis anchors, and the alpha-word filter
    d = F.col("doc_id")
    synth = F.concat_ws(
        "\n",
        F.col("text"),
        F.when(d % 3 == 0, F.lit("- item")).otherwise(F.lit("plain line")),
        F.when(d % 2 == 0, F.lit("trail...")).otherwise(F.lit("trail")),
        F.when(d % 4 == 0, F.lit("# t4g 42")).otherwise(F.lit("only words here")),
    )
    # r10: bind the synth doc AND its word/line arrays once (the
    # unbound form re-ran words(concat_ws..) 8x and split(concat_ws..)
    # 6x per row — plan-counted); gopher_stats reads the bound arrays
    docs = docs.withColumn("__synth__", synth)
    docs = docs.withColumn("__wsyn__", _words(F.col("__synth__"))).withColumn(
        "__lsyn__", F.split(F.col("__synth__"), "\n")
    )
    gop = gopher_stats(
        F.col("__synth__"), ws=F.col("__wsyn__"), lines=F.col("__lsyn__")
    )
    # r9s3: the COMPLETE Gopher repetition family (text.gopher_repetition)
    # over synth2 — repetition injected by doc_id arithmetic (dup lines
    # when d%2=0, a 1-3x repeated 10-word segment per d%3, a duplicated
    # paragraph when d%5=0); the oracle SQL constructs the identical
    # string, so the hash binds line/paragraph splitting, the n-gram
    # windows, the mode tie-break, and the overlap cap
    from mysql_to_s3_spark.operators.text import gopher_repetition, words

    seg = F.array_join(F.slice(F.col("__wt__"), 1, 10), " ")
    docs = docs.withColumn("__seg__", seg)
    sg = F.col("__seg__")
    docs = docs.withColumn(
        "__rep__",
        F.when(d % 3 == 0, sg)
        .when(d % 3 == 1, F.concat_ws(" ", sg, sg))
        .otherwise(F.concat_ws(" ", sg, sg, sg)),
    ).withColumn("__dupl__", F.concat(F.lit("dup line "), (d % 4).cast("string")))
    docs = docs.withColumn(
        "__synth2__",
        F.concat(
            F.col("text"), F.lit("\n"), F.col("__dupl__"), F.lit("\n"),
            F.when(d % 2 == 0, F.col("__dupl__")).otherwise(
                F.concat(F.lit("uniq "), d.cast("string"))
            ),
            F.lit("\n\n"), F.col("__rep__"),
            F.when(d % 5 == 0, F.concat(F.lit("\n\n"), F.col("__rep__"))).otherwise(
                F.lit("")
            ),
        ),
    ).withColumn("__ws2__", words(F.col("__synth2__")))
    rep2 = gopher_repetition(F.col("__synth2__"), ws=F.col("__ws2__"))
    from mysql_to_s3_spark.operators.text import blockword_frac

    # r10: the C4 rule family (text.c4_stats + c4_line_clean) over
    # synth3 = synth + two deterministic closing lines that make every
    # rule fire somewhere: a javascript-word line on d%7 (terminal,
    # >=3 words — removable ONLY by the js rule), and a brace /
    # lorem-ipsum / plain terminal line by d%5 / d%11. The flags pack
    # as a bitmask; c4_clean_md5 binds the full line-clean REWRITE
    # (keep = terminal-punct AND >=3 words AND no 'javascript' word).
    from mysql_to_s3_spark.operators.text import c4_line_clean, c4_stats

    jsline = F.when(d % 7 == 0, F.lit("the javascript menu loads fine.")).otherwise(
        F.lit("the simple menu loads fine.")
    )
    closing = (
        F.when(d % 5 == 0, F.lit("code { block"))
        .when(d % 11 == 0, F.lit("more lorem ipsum filler here."))
        .otherwise(F.lit("plain closing sentence here."))
    )
    docs = docs.withColumn(
        "__synth3__", F.concat_ws("\n", F.col("__synth__"), jsline, closing)
    )
    # bind the synth3 line array once for c4_stats + c4_line_clean
    # (the unbound form split __synth3__ 8x per row — plan-counted)
    docs = docs.withColumn("__l3__", F.split(F.col("__synth3__"), "\n"))
    c4 = c4_stats(F.col("__synth3__"), lines=F.col("__l3__"))
    c4_flags = (
        c4["c4_has_brace"].cast("bigint")
        + c4["c4_has_lorem"].cast("bigint") * 2
        + c4["c4_has_js_line"].cast("bigint") * 4
    )

    return docs.select(
        F.col("doc_id"),
        *[c.alias(n) for n, c in st.items()],
        *[c.alias(n) for n, c in rep.items()],
        *[F.round(c, 6).alias(n) for n, c in gop.items()],
        F.round(
            blockword_frac(F.col("text"), _BLOCK_WORDS, ws=F.col("__wt__")), 6
        ).alias("blockword_frac"),
        *[F.round(c, 6).alias(n) for n, c in rep2.items()],
        F.round(c4["c4_term_line_frac"], 6).alias("c4_term_line_frac"),
        F.round(c4["c4_short_line_frac"], 6).alias("c4_short_line_frac"),
        c4["c4_sentences"].alias("c4_sentences"),
        c4_flags.alias("c4_flags"),
        F.md5(c4_line_clean(F.col("__synth3__"), lines=F.col("__l3__"))).alias(
            "c4_clean_md5"
        ),
        fingerprint(F.col("text")).alias("fp"),
    )


def _dedup_exact_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged 2-leg exact-dedup row (r9):

    - `batch`: operators/dedup.exact_dedup — one row per distinct
      normalized-text fingerprint with the min-id keeper and cluster
      size, vs the md5 GROUP BY oracle (the r1-r8 row unchanged).
    - `stream` (r9): the STREAMING analog
      (streaming/stream_extract.stream_exact_dedup,
      dropDuplicatesWithinWatermark on the same fingerprint) under the
      hard gate — a real availableNow drain IN-ROW over a 3-chunk
      replay of the documents corpus (event time synthesized as
      2024-01-01 + doc_id seconds; lateness horizon wider than that
      span so no state can evict mid-run). The leg binds the INVARIANT
      the operator guarantees: exactly ONE survivor per distinct
      fingerprint — the survivors' recomputed fingerprints, grouped,
      must cover every distinct fp with count 1 (a lost fp, a double
      emission, or a surviving duplicate each breaks the row hash).
      WHICH doc survives is arrival order within a micro-batch —
      Spark does not order rows inside a trigger, so the keeper
      identity is bound only in the batch leg.

    r9 session-2 legs — URL-level dedup (the RefinedWeb/CCNet first
    pass) under the hard gate via deterministic messy synthetic URLs
    (doc_id arithmetic picks the scheme case, www prefix, host case,
    default/explicit port, trailing slash, tracking params, param
    order, and fragment):

    - `url`:  per-doc canonical_url output for doc_id < 240 — the
      oracle constructs the EXPECTED canonical string closed-form, so
      any error in any normalization rule (fragment strip, scheme/host
      lowercase, www strip, default-port strip vs :8080 keep, tracking
      param drop, param sort, trailing-slash strip, '?'-drop when no
      params survive) breaks the row hash on that doc.
    - `urlk`: url_dedup groups over the same 240 docs — min-id keeper
      + re-crawl count per canonical url; collisions are built in
      (docs d and d+140 canonicalize equal whenever they share a
      source, and default-port docs collide with port-less docs),
      binding the keeper-min and grouping semantics, not just the
      string.
    - `surl` (r10): stream_url_dedup drained in-row over the messy
      docs + 20 unusable-address docs — one survivor per canonical
      url, every url-less doc kept (see the leg comment below).
    """
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.dedup import exact_dedup
    from mysql_to_s3_spark.operators.text import fingerprint
    from mysql_to_s3_spark.sources.registry import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    # r10: cache ONE (doc_id, fp) frame across the row's legs — the
    # normalize+md5 fingerprint is an O(doc length) regex pass over the
    # full corpus, and the batch, stream, and bloomf legs each consumed
    # it independently (3 full-corpus evaluations per action; measured
    # 35-47 executor-CPU-seconds warm at sf0.1). Caching a reduced
    # projection (never the bare scan — the CacheManager substitution
    # hazard) computes it once per action.
    fpf = docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).cache()
    batch = exact_dedup(fpf, fp_col="fp").select("fp", "keeper", "n_dupes")

    def _run_stream_dedup():
        import uuid as _uuid

        import pandas as pd

        from mysql_to_s3_spark.streaming.stream_extract import (
            read_parquet_stream,
            stream_exact_dedup,
        )

        pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
        pdf["ts"] = (
            pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf["doc_id"], unit="s")
        ).astype("datetime64[us]")
        pusher = pd.DataFrame(
            {
                "doc_id": [-1],
                "text": ["\x00__watermark_pusher__"],
                "ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]"),
            }
        )
        src = _write_stream_chunks(pdf, pusher, "dedup_stream_")
        schema = spark.read.parquet(src).schema
        out = stream_exact_dedup(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            "ts",
            text_col="text",
            lateness="365 days",
        )
        name = f"sdedup_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        return [
            int(r["doc_id"])
            for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
            if r["doc_id"] >= 0
        ]

    # messy synthetic URL, deterministic from (doc_id, source); the
    # canonical expectation is closed-form in the oracle SQL
    from mysql_to_s3_spark.operators.dedup import url_dedup
    from mysql_to_s3_spark.operators.text import canonical_url

    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://"))
    www = (
        F.when(d % 3 == 0, F.lit("WWW."))
        .when(d % 3 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    host = F.when(d % 4 == 0, F.concat(F.upper("source"), F.lit(".Example.COM"))).otherwise(
        F.concat(F.col("source"), F.lit(".example.com"))
    )
    port = (
        F.when((d % 5 == 0) & (d % 2 == 0), F.lit(":80"))
        .when((d % 5 == 0) & (d % 2 == 1), F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/a/b"), (d % 7).cast("string"), F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")))
    query = (
        F.when(d % 4 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .when(d % 4 == 1, F.lit("?b=2&a=1"))
        .when(d % 4 == 2, F.lit("?a=1&utm_campaign=y&fbclid=zz"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit(""))
    messy = docs.filter(d < 240).select(
        "doc_id", F.concat(scheme, www, host, port, path, query, frag).alias("url")
    )
    url_leg = messy.select(
        canonical_url(F.col("url")).alias("fp"), F.col("doc_id").alias("keeper")
    )
    urlk_leg = url_dedup(messy).select(F.col("url").alias("fp"), "keeper", "n_dupes")
    # r9s3 `urlf` leg: the RefinedWeb URL blocklist predicate under the
    # hard gate — fp = url_host (lowercase, port/www stripped), n_dupes
    # encodes TWO blocklist probes: +1 when the exact host is listed
    # (src3/src7 sources), +2 when a PARENT domain is (example.com —
    # true for every messy host, so a broken suffix chain flips the
    # whole column and breaks the row hash)
    from mysql_to_s3_spark.operators.text import url_blocked, url_host

    urlf_leg = messy.select(
        url_host(F.col("url")).alias("fp"),
        F.col("doc_id").alias("keeper"),
        (
            url_blocked(F.col("url"), ("src3.example.com", "src7.example.com"))
            .cast("bigint")
            + url_blocked(F.col("url"), ("example.com",)).cast("bigint") * 2
        ).alias("n_dupes"),
    )

    # r9s3 `bloomf` leg: the Bloom incremental-ingest screen under the
    # hard gate — bitmap built over the fps of the doc_id%3==0 third
    # (bloom_build is eager: it runs at build time), then EVERY doc's
    # might-contain decision rides the row hash. m=1024/k=3
    # at ~167 inserted fps gives a ~6% false-positive rate, so the leg
    # binds both directions: members always 1 (no false negatives) and
    # the specific collision pattern of the md5-prefix position spec.
    from mysql_to_s3_spark.operators.bloom import bloom_build, bloom_might_contain

    bm = bloom_build(fpf.filter(d % 3 == 0).select("fp"), "fp", 1024, 3)
    # fp read from the cached frame (computed once per action), so the
    # 3 bloom probes hash a materialized 16-char column, never the doc
    bloom_leg = fpf.select(
        "fp",
        d.alias("keeper"),
        bloom_might_contain(F.col("fp"), bm, 1024, 3).cast("bigint").alias("n_dupes"),
    )

    surv_ids = _run_stream_dedup()
    surv = spark.createDataFrame([(i,) for i in surv_ids], "doc_id bigint")
    stream = (
        fpf.join(F.broadcast(surv), "doc_id", "left_semi")
        .select("fp")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dupes"))
    )

    # r10 `surl` leg: stream_url_dedup (the streaming identity-dedup
    # front of prepare_corpus_stream) drained in-row. Input = the 240
    # messy-url docs PLUS 20 docs with UNUSABLE addresses (null / '' /
    # a fragment-only url whose canonical is blank) exercising the
    # stateless keep-all bypass. Binds the operator's two invariants:
    # exactly ONE survivor per distinct canonical url (fp = the
    # canonical, n_dupes = survivor count, 1 everywhere), and EVERY
    # url-less doc kept (one row per doc, fp = ''). WHICH doc survives
    # a canonical group is intra-batch arrival order, same as the
    # `stream` leg — keeper identity stays batch-leg-only (`urlk`).
    from mysql_to_s3_spark.operators.text import usable_url

    unusable = docs.filter((d >= 240) & (d < 260)).select(
        "doc_id",
        F.when(d % 3 == 0, F.lit(None).cast("string"))
        .when(d % 3 == 1, F.lit(""))
        .otherwise(F.lit("#frag"))
        .alias("url"),
    )
    stream_in = messy.unionByName(unusable)

    def _run_stream_url():
        import uuid as _uuid

        import pandas as pd

        from mysql_to_s3_spark.streaming.stream_extract import (
            read_parquet_stream,
            stream_url_dedup,
        )

        pdf = stream_in.orderBy("doc_id").toPandas()
        pdf["ts"] = (
            pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf["doc_id"], unit="s")
        ).astype("datetime64[us]")
        src = _write_stream_chunks(pdf, pdf.iloc[0:0], "url_stream_")
        schema = spark.read.parquet(src).schema
        out = stream_url_dedup(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            "ts",
            "url",
            lateness="365 days",
        )
        name = f"surl_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        return sorted(
            int(r["doc_id"]) for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
        )

    surl_ids = _run_stream_url()
    surl_surv = stream_in.join(
        F.broadcast(spark.createDataFrame([(i,) for i in surl_ids], "doc_id bigint")),
        "doc_id",
        "left_semi",
    )
    has_url = usable_url(F.col("url"))
    surl_u = (
        surl_surv.filter(has_url)
        .groupBy(canonical_url(F.col("url")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_dupes"))
    )
    surl_n = surl_surv.filter(~has_url).select(
        F.lit("").alias("fp"),
        F.col("doc_id").alias("keeper"),
        F.lit(1).cast("bigint").alias("n_dupes"),
    )
    return {
        "batch": batch,
        "stream": stream,
        "url": url_leg,
        "urlk": urlk_leg,
        "urlf": urlf_leg,
        "bloomf": bloom_leg,
        "surl": [surl_u, surl_n],
    }


def _dedup_ngram_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_to_s3_spark.operators.dedup import ngram_jaccard_pairs
    from mysql_to_s3_spark.sources.registry import load_table

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.9)


def _dedup_minhash_spark(spark: SparkSession, sf_dir: str) -> dict:
    """3-leg row: `pair` = the banded MinHash-LSH pair scan
    (candidates exact-verified, >= 0.9 Jaccard) vs the all-pairs exact
    oracle; `leak` = `split_leakage` over the same corpus carrying the
    driver hash-split — the post-split train/test leakage audit under
    the hard gate (same pair algebra + two label joins + the straddle
    filter, which the oracle replicates with hash_split_sql labels);
    `sflag` (r9) = the STREAMING near-dedup, drained end-to-end through
    its documented flag->adjudicate contract
    (streaming/stream_extract.stream_near_dedup_reconciled: bounded
    per-bucket signature state flags in-stream, foreachBatch re-verifies
    every flag with the batch-EXACT Jaccard before landing). The leg
    binds the DOC-LEVEL invariant: the distinct set of confirmed-dup
    docs must equal the exact oracle's set of docs having >= 0.9
    Jaccard with an EARLIER (smaller-id) doc. The confirmed PAIR set is
    deliberately not bound — the in-stream flag picks the best-estimate
    reference per bucket, so a >= 3-doc cluster yields a spanning chain
    rather than all pairs (confirmed pairs are a verified SUBSET of the
    exact pairs by construction; measured 24 of 28 at sf0.001)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.dedup import minhash_lsh_pairs
    from mysql_to_s3_spark.operators.sampling import hash_split
    from mysql_to_s3_spark.pipeline import split_leakage
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")

    def _run_stream_near():
        import atexit as _atexit
        import os as _os
        import shutil as _shutil
        import tempfile as _tempfile

        import pandas as pd

        from mysql_to_s3_spark.streaming.stream_extract import (
            read_parquet_stream,
            stream_near_dedup_reconciled,
        )

        # the documented ingest-scale shape: the signature is computed
        # ONCE batch-side and rides the staged files; the stream's
        # projection reduces to banding (sig_col=) — 25x cheaper than
        # re-expanding the 64 permutations per micro-batch
        from mysql_to_s3_spark.operators.dedup import (
            MINHASH_N,
            _base_hashes,
            _minhash_columns,
            shingles,
        )

        sig = F.array(*_minhash_columns(_base_hashes(shingles(F.col("text"))), MINHASH_N))
        # bounded drain window (doc_id < 500): the FULL corpus at the
        # driver's sf0.01 correctness gate, a fixed-cost verification
        # window at larger bench SFs — the per-(band,bucket) stateful
        # fold costs ~1-3 ms per active key per micro-batch, and 5,000
        # docs x 16 bands is pure fixed overhead the verify-tagged leg
        # has no reason to pay (the SCALE path for the full corpus is
        # the batch `pair` leg on this same row)
        pdf = (
            docs.filter(F.col("doc_id") < 500)
            .select("doc_id", "text", sig.alias("sig"))
            .orderBy("doc_id")
            .toPandas()
        )
        pdf["ts"] = (
            pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf["doc_id"], unit="s")
        ).astype("datetime64[us]")
        pusher = pd.DataFrame(
            {
                "doc_id": [-1],
                "text": ["\x00__watermark_pusher__"],
                "sig": [[0] * MINHASH_N],
                "ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]"),
            }
        )
        src = _write_stream_chunks(pdf, pusher, "neardup_stream_")
        out_root = _tempfile.mkdtemp(prefix="neardup_conf_")
        _atexit.register(_shutil.rmtree, out_root, ignore_errors=True)
        out_path = _os.path.join(out_root, "confirmed")
        schema = spark.read.parquet(src).schema
        # texts scoped to the drain window: every flaggable id is < 500,
        # and the per-micro-batch adjudication join re-shingles whatever
        # frame it is given — the full corpus would be re-shingled once
        # per batch for ids that cannot be flagged
        w = stream_near_dedup_reconciled(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            "ts",
            texts=docs.filter(F.col("doc_id") < 500).select("doc_id", "text"),
            out_path=out_path,
            threshold=0.9,
            lateness="365 days",
            sig_col="sig",
        )
        q = w.trigger(availableNow=True).start()
        _drain_available_now(q)
        return sorted(
            {
                int(r["doc_id"])
                for r in spark.read.parquet(out_path).select("doc_id").collect()
                if r["doc_id"] >= 0
            }
        )

    flagged = _run_stream_near()
    sflag = spark.createDataFrame([(i,) for i in flagged], "a bigint")
    # ONE cached pair scan feeds both legs (split_leakage's pairs=
    # hook): the branches' exchange subtrees differ (project vs label
    # join), so Spark's ReusedExchange cannot deduplicate them —
    # a cache can, and the pairs frame is a derived join output,
    # never a bare table scan (the CacheManager pushdown hazard)
    p = minhash_lsh_pairs(docs, threshold=0.9).cache()
    labeled = docs.withColumn(
        "split", hash_split(F.col("doc_id"), _SPLIT_FRACTIONS)
    )
    leak = split_leakage(labeled, threshold=0.9, pairs=p).select(
        "a", "b", "jaccard", "split_a", "split_b"
    )
    return {"pair": p.select("a", "b", "jaccard"), "leak": leak, "sflag": sflag}


def _dedup_simhash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_to_s3_spark.operators.dedup import simhash_pairs
    from mysql_to_s3_spark.sources.registry import load_table

    return simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


_SEM_PLANES_SEED = 562  # hyperplanes(dim=64, n=3) — 8 deterministic cells


def _dedup_embedding_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged two-leg embedding-dedup row. `pair` leg: the banded-LSH
    scale path (ONE band-key self-join, candidates-only verify); oracle =
    exact all-pairs SQL — (p=4, T=28) seeded planes deterministically
    cover every true pair at sf0.001/0.01/0.1 (measured; see
    similarity.embedding_dup_pairs_lsh docstring). `sem` leg (r6):
    SemDeDup drop decisions (similarity.semantic_dedup) under a
    deterministic 3-plane sign-bucket assignment so the oracle replicates
    the cells exactly; the within-cell pairwise + keep-least-centroid-
    similar semantics are the hash-verified surface (the trained-KMeans
    assignment is the production default, unit-tested)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.similarity import (
        _dot_lit,
        embedding_dup_pairs_lsh,
        hyperplanes,
        semantic_dedup,
    )
    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs_lsh(emb, threshold=0.45).select("a", "b", "cos")
    planes = hyperplanes(dim=64, n=3, seed=_SEM_PLANES_SEED)
    cell = None
    for i, p in enumerate(planes):
        bit = F.when(_dot_lit(F.col("embedding"), p) > 0, F.lit(2 ** (2 - i))).otherwise(F.lit(0))
        cell = bit if cell is None else cell + bit
    dropped = semantic_dedup(emb, threshold=0.45, cell_expr=cell).select(
        F.col("id").alias("a"),
        F.col("cell").cast("long").alias("b"),
        F.col("centroid_sim").alias("cos"),
    )
    return {"pair": pairs, "sem": dropped}


def _sem_dedup_sql() -> str:
    """DuckDB replica of the `sem` leg: same 3 seeded planes -> integer
    cell, per-cell mean centroid, 6dp-rounded cosines, drop x iff a
    within-cell duplicate y ranks keep-better ((csim, id) lexicographic
    ascending = kept preferentially)."""
    from mysql_to_s3_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim=64, n=3, seed=_SEM_PLANES_SEED)
    cell = " + ".join(
        f"(CASE WHEN {_sql_plane_dot('embedding', p)} > 0 THEN {2 ** (2 - i)} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    asn AS (SELECT vec_id, embedding, ({cell}) AS cell FROM embeddings),
    cent AS (SELECT cell, i, avg(embedding[i]::DOUBLE) AS m
             FROM asn CROSS JOIN range(1, 65) r(i) GROUP BY cell, i),
    centv AS (SELECT cell, list(m ORDER BY i) AS c FROM cent GROUP BY cell),
    cs AS (SELECT a.vec_id, a.cell, a.embedding,
                  round({_sql_cosine('a.embedding', 'cv.c')}, 6) AS csim
           FROM asn a JOIN centv cv USING (cell)),
    sem_drops AS (
      SELECT x.vec_id, x.cell, x.csim
      FROM cs x JOIN cs y ON y.cell = x.cell AND y.vec_id != x.vec_id
        AND round({_sql_cosine('x.embedding', 'y.embedding')}, 6) >= 0.45
        AND (y.csim < x.csim OR (y.csim = x.csim AND y.vec_id < x.vec_id))
      GROUP BY x.vec_id, x.cell, x.csim)"""


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]


def _similarity_ann_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged three-leg similarity row: brute-force exact top-k (former
    similarity_topk row — the recall baseline, TakeOrderedAndProject with
    0 exchanges) + exact-bucket probe + hamming-1 multi-probe (the recall
    knob) — the probes are partition-prunable bucket IN-filters."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.similarity import ann_topk, topk_cosine
    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return {
        "exact": topk_cosine(emb.filter(F.col("vec_id") != 0), qv, k=10).select("vec_id", "cos"),
        "probe0": ann_topk(emb, qv, k=10).select("vec_id", "cos"),
        "probe1": ann_topk(emb, qv, k=10, multiprobe=1).select("vec_id", "cos"),
    }


def _multimodal_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged multimodal row (r9: + four REAL-decode legs through the
    pure-numpy/stdlib codecs of operators/codecs.py):

    - `bytes`: the original byte-level feature path — media_table +
      binary_features (Arrow mapInPandas, length + md5 per payload).
    - `img`:   synth_image -> encode_bmp -> decode_image (the real
      24-bit BMP decoder) -> pixel sum + decoded WxH. The pixel
      formula ((doc_id + i) % 256 over the linear byte index) is
      closed-form in the oracle SQL, so ANY byte error in the encoder
      or decoder (stride padding, BGR swap, row flip) breaks the hash.
    - `wav`:   synth_audio -> encode_wav -> decode_audio (stdlib PCM
      WAV) -> sample sum + decoded sample rate.
    - `y4m`:   synth_video (3 + doc_id % 4 frames @ 10 fps) ->
      encode_y4m -> frame_sample(every_ms=100) (real YUV4MPEG2 frame
      seeks) -> summed pixels of ALL sampled frames + frame count.
    - `rsz`:   resize_image on the BMP payload (decode -> integer
      nearest-neighbor 16x12 -> 8x6 -> re-encode) -> decode -> pixel
      sum; the floor index map (y*2, x*2 source pixels) is replicated
      in SQL, binding the exact resize arithmetic.
    - `png` (r10): the same synth pixels through the stdlib-zlib PNG
      codec with per-doc scanline filter doc_id % 5 — all five filter
      reconstructions (None/Sub/Up/Average/Paeth) sit under the
      pixel-sum hash.

    The decode legs run on doc_id < 60 (fixed work at any sf) inside
    ONE Arrow mapInPandas stage — per-doc numpy kernels, zero shuffle;
    the synthetic payload builders live next to the codecs so tests
    and this oracle share one pixel/sample contract."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from mysql_to_s3_spark.operators.multimodal import binary_features, media_table
    from mysql_to_s3_spark.sources.registry import load_table, spread

    docs = load_table(spark, sf_dir, "documents")
    base = binary_features(media_table(spread(docs))).select("doc_id", "n_bytes", "digest")

    leg_schema = T.StructType(
        [
            T.StructField("leg", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("digest", T.StringType()),
        ]
    )

    def _media_legs(batches):
        import numpy as np
        import pandas as pd

        from mysql_to_s3_spark.operators import codecs, multimodal

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].astype(int):
                img = codecs.synth_image(d)  # 16x12x3
                bmp = codecs.encode_bmp(img)
                dec = multimodal.decode_image(bmp)
                rows.append(
                    ("img", d, int(dec.astype(np.int64).sum()), f"{dec.shape[1]}x{dec.shape[0]}")
                )
                # r10 `png` leg: the stdlib-zlib PNG codec, per-doc
                # scanline filter d % 5 — all five filter algebras sit
                # under the pixel-sum hash (a wrong Sub/Up/Average/
                # Paeth reconstruction anywhere shifts the sum)
                pdec = multimodal.decode_image(
                    codecs.encode_png(img, filter_type=d % 5)
                )
                rows.append(
                    (
                        "png",
                        d,
                        int(pdec.astype(np.int64).sum()),
                        f"{pdec.shape[1]}x{pdec.shape[0]}:f{d % 5}",
                    )
                )
                wav_samples, rate = multimodal.decode_audio(
                    codecs.encode_wav(codecs.synth_audio(d), 16_000)
                )
                rows.append(("wav", d, int(wav_samples.astype(np.int64).sum()), str(rate)))
                nf = 3 + d % 4
                y4m = codecs.encode_y4m(codecs.synth_video(d, nf), 10, 1)
                frames = multimodal.frame_sample(y4m, every_ms=100)
                rows.append(("y4m", d, int(frames.astype(np.int64).sum()), str(frames.shape[0])))
                rdec = multimodal.decode_image(multimodal.resize_image(bmp, 8, 6))
                rows.append(
                    ("rsz", d, int(rdec.astype(np.int64).sum()), f"{rdec.shape[1]}x{rdec.shape[0]}")
                )
            yield pd.DataFrame(rows, columns=["leg", "doc_id", "n_bytes", "digest"])

    media = (
        docs.filter(F.col("doc_id") < 60)
        .select(F.col("doc_id").cast("long"))
        .mapInPandas(_media_legs, leg_schema)
    )

    # r9 session 2 — crawl-ingest legs (same fixed 60-doc slice):
    #
    # - `warc`: REAL end-to-end WARC read. A .warc.gz fileset (one gzip
    #   member per record, per the spec) is written per build from
    #   the doc slice, then read back through
    #   sources/warc.read_warc — the distributed binaryFile +
    #   mapInPandas parser — binding record framing, multi-member gzip,
    #   HTTP status/header/body split, and charset decode to the
    #   closed-form oracle (md5 of status|url|body per doc).
    # - `html`: operators/text.html_to_text over a messy deterministic
    #   wrapper (script with a '<p>' INSIDE a JS string, style, comment,
    #   entities incl. the &amp;-last ordering, &nbsp;) — the oracle
    #   builds the expected visible text closed-form.
    # - `nfc`: operators/text.normalize_text (Arrow pandas_udf) over a
    #   decomposed construction (k combining acutes + U+212B ANGSTROM
    #   SIGN + a BEL control char) vs DuckDB's native nfc_normalize —
    #   composition, singleton mapping, and control-strip all bound.
    sixty = docs.filter(F.col("doc_id") < 60).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )

    def _write_warc_fixture():
        import atexit as _ax
        import os as _os
        import shutil as _sh
        import tempfile as _tf

        from mysql_to_s3_spark.sources.warc import (
            build_http_response,
            build_warc_record,
            write_warc_gz,
        )

        root = _tf.mkdtemp(prefix="warc_fixture_")
        _ax.register(_sh.rmtree, root, ignore_errors=True)
        rows = sorted(
            ((int(r["doc_id"]), r["text"]) for r in sixty.collect()), key=lambda t: t[0]
        )
        for fi in range(3):  # 3 files -> 3 parallel parse tasks
            recs = [
                build_warc_record(
                    build_http_response(t.encode("utf-8"), status=200),
                    url=f"http://w.example.com/d/{d}",
                )
                for d, t in rows[fi::3]
            ]
            with open(_os.path.join(root, f"part{fi}.warc.gz"), "wb") as fh:
                fh.write(write_warc_gz(recs))
        return root

    warc_dir = _write_warc_fixture()
    from mysql_to_s3_spark.sources.warc import read_warc

    wdf = read_warc(spark, warc_dir)
    warc_leg = wdf.select(
        F.regexp_extract("url", r"/d/(\d+)", 1).cast("long").alias("doc_id"),
        F.length("body").cast("long").alias("n_bytes"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("http_status").cast("string"),
                F.col("url"),
                F.decode(F.col("body"), "utf-8"),
            )
        ).alias("digest"),
    )

    from mysql_to_s3_spark.operators.text import html_to_text, normalize_text

    html = F.concat(
        F.lit(
            '<html><head><script type="text/javascript">var x = "<p>";</script>'
            "<style>p { color: red; }</style></head><body><h1>T&amp;T</h1><p>"
        ),
        F.col("text"),
        F.lit("</p>&nbsp;<div>tail&lt;end&gt;</div><!-- c --></body></html>"),
    )
    ext = html_to_text(html)
    html_leg = sixty.select(
        "doc_id",
        F.length(ext).cast("long").alias("n_bytes"),
        F.md5(ext).alias("digest"),
    )

    decomp = F.concat(
        F.repeat(F.lit("e\u0301"), (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit("\u212b\x07"),
    )
    norm = normalize_text(decomp)
    nfc_leg = sixty.select(
        "doc_id",
        F.length(norm).cast("long").alias("n_bytes"),
        F.md5(norm).alias("digest"),
    )

    return {
        "bytes": base,
        ("img", "png", "wav", "y4m", "rsz"): media,
        "warc": warc_leg,
        "html": html_leg,
        "nfc": nfc_leg,
    }


def _text_quality_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.lm import bigram_logprob, unigram_logprob
    from mysql_to_s3_spark.operators.sampling import hash_split
    from mysql_to_s3_spark.operators.text import language_id, quality_score
    from mysql_to_s3_spark.sources.registry import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    # hosts the language-ID leg (former text_langid row), the
    # deterministic train/val/test hash-split — shuffle-free per-doc
    # Column algebra over the same scan — and, since r6, the CCNet-style
    # unigram-LM perplexity leg (operators/lm.py, self-fit add-alpha
    # model, exact JVM join path; the zero-shuffle Arrow unigram_scorer
    # is unit-verified equal in tests/test_lm.py)

    # cached: the lm score frame feeds THREE consumers in this row (the
    # lm_logprob join, the ppl_bucket boundary agg, and the ppl_bucket
    # assignment join) — without the cache the explode+join+agg scoring
    # recomputes once per consumer. Safe to cache: an aggregated frame,
    # never a bare table scan (the CacheManager substitution hazard).
    lm = unigram_logprob(docs, id_col="doc_id", text_col="text").cache()
    lm2 = bigram_logprob(docs, id_col="doc_id", text_col="text")
    # cls_label (r7): the fastText-shaped classifier gate under the hard
    # oracle via a LEARNABLE-RULE contract — train in-row on a label the
    # oracle can derive (text contains the token 'dup'; no other vocab
    # word contains that substring), then emit the DISTRIBUTED
    # prediction for every doc. A perfectly predictive hashed feature
    # makes LBFGS separate the classes with wide margins (prediction
    # flips are outside any float-drift radius — the determinism
    # contract in tests/test_classifier.py), so one wrong prediction
    # anywhere in tokenize -> hashTF -> fit -> score breaks the hash.
    from mysql_to_s3_spark.operators.classifier import classify, train_text_classifier

    # text coalesced to '' on BOTH the training and scoring frames (the
    # bpe leg's convention): classify() null-guards to a NULL label while
    # the oracle CASE falls through to 'std' on NULL text — coalescing
    # keeps the two sides aligned if the corpus ever gains null-text docs
    # (an empty doc carries no hashed features, so the fit's intercept —
    # the majority class 'std' — decides, same as the oracle fallthrough)
    txt = F.coalesce(F.col("text"), F.lit(""))
    rule = F.when(
        F.lower(txt).contains("dup"), F.lit("dup")
    ).otherwise(F.lit("std"))
    # narrow the training frame: LBFGS pays one near-empty job per
    # iteration, so 50 iterations over 32 micro-partitions are dominated
    # by scheduler overhead (measured 29.8 s -> 13.5 s at sf0.1 with
    # predictions IDENTICAL — gradient-sum order shifts stay far inside
    # the wide separation margins). The count is size-derived
    # (classifier.fit_partitions, r11 — no local-scale literal): one
    # partition per 128 MB of the labeled projection, floor 4.
    # Training-frame-only; scoring stays wide.
    from mysql_to_s3_spark.operators.classifier import fit_partitions

    _train = docs.select(txt.alias("text"), rule.alias("label"))
    clf = train_text_classifier(
        _train.coalesce(fit_partitions(_train)),
        "label", n_features=1 << 14, max_iter=50,
    )
    cls = classify(
        docs.select("doc_id", txt.alias("text")), clf
    ).select("doc_id", "cls_label")
    # dsir (r8): DSIR importance weight — hashed-ngram log-likelihood
    # ratio of a target model (the en stratum) vs the source model (the
    # whole corpus), operators/dsir.py. Fully portable md5-bucket + log2
    # arithmetic, so the summed weight sits under the value-hash gate.
    from mysql_to_s3_spark.operators.dsir import dsir_logratio, dsir_topk, hashed_ngram_counts

    # cached (r9): the weight frame feeds TWO consumers — the dsir column
    # join and the dsir_top25 Gumbel selection
    dsir = dsir_logratio(
        docs.select("doc_id", "text"),
        hashed_ngram_counts(docs.filter(F.col("lang") == "en")),
        hashed_ngram_counts(docs),
    ).cache()
    # dsir_top25 (r9): the paper's Gumbel-top-k resample under the hard
    # gate. The sort key is built from the 6dp-ROUNDED weight (the dsir
    # leg proves round(w,6) is bit-equal cross-engine) plus the
    # content-stable md5-bucket Gumbel draw (integer-derived), so both
    # engines run identical IEEE arithmetic on identical doubles — the
    # selection boundary cannot drift. k=25 keeps both branches live at
    # every test sf.
    sel = dsir_topk(
        dsir.select("doc_id", F.round(F.col("dsir_logratio"), 6).alias("w6")),
        k=25,
        weight_col="w6",
    ).select("doc_id", F.lit(True).alias("dsir_top25"))
    # r10: bind the word array and its distinct-lowercased form once —
    # quality_score references the words ~5x and language_id's argmax
    # when-chain references the distinct array ~13x per row; unbound,
    # each reference re-runs the regex/distinct (HOFs are
    # codegen-fallback, no cross-reference CSE)
    from mysql_to_s3_spark.operators.text import words as _words

    base = (
        docs.withColumn("__qws__", _words(F.col("text")))
        .withColumn(
            "__dws__", F.array_distinct(F.transform(F.col("__qws__"), F.lower))
        )
        .select(
            F.col("doc_id"),
            quality_score(F.col("text"), ws=F.col("__qws__")).alias("quality"),
            language_id(F.col("text"), dws=F.col("__dws__")).alias("lang_guess"),
            hash_split(F.col("doc_id"), _SPLIT_FRACTIONS).alias("split"),
        )
    )
    # ppl_bucket (r8): CCNet's head/middle/tail split over the unigram-LM
    # scores — exact interpolated terciles of the ROUNDED score, so the
    # boundary arithmetic is bit-portable to the DuckDB oracle
    from mysql_to_s3_spark.operators.lm import perplexity_buckets

    pb = perplexity_buckets(lm).select("doc_id", "ppl_bucket")
    return (
        base.join(lm, "doc_id", "left")
        .join(lm2, "doc_id", "left")
        .join(cls, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .join(sel, "doc_id", "left")
        .join(pb, "doc_id", "left")
        .withColumn("lm_logprob", F.round(F.col("lm_logprob"), 6))
        .withColumn("lm2_logprob", F.round(F.col("lm2_logprob"), 6))
        .withColumn("dsir", F.round(F.col("dsir_logratio"), 6))
        .withColumn("dsir_top25", F.coalesce(F.col("dsir_top25"), F.lit(False)))
        .drop("dsir_logratio")
    )


_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _text_quality_sql() -> str:
    from mysql_to_s3_spark.operators.sampling import hash_split_sql
    from mysql_to_s3_spark.operators.text import LANG_PROFILES, QUALITY_WEIGHTS

    w = QUALITY_WEIGHTS
    stop = _sql_stop_hits("text", LANG_PROFILES["en"])
    nw = f"len({_sql_words('text')})"
    # RAW ratios (round only the final score) — mirrors quality_score
    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "length(regexp_replace(text, '[\\w\\s]', '', 'g'))::DOUBLE / length(text) "
        "ELSE 0.0 END"
    )
    stop_r = f"CASE WHEN {nw} > 0 THEN {stop}::DOUBLE / {nw} ELSE 0.0 END"
    len_ok = f"CASE WHEN {nw} >= 5 AND {nw} <= 5000 THEN 1.0 ELSE 0.0 END"
    punct_ok = f"greatest(0.0, 1.0 - {punct} * 4)"
    stop_ok = f"least(1.0, {stop_r} * 5)"
    return f"""
    SELECT doc_id,
           round({w['len']} * {len_ok} + {w['punct']} * {punct_ok} + {w['stop']} * {stop_ok}, 6) AS quality,
           {_langid_case_expr()} AS lang_guess,
           {hash_split_sql('doc_id', _SPLIT_FRACTIONS)} AS split
    FROM documents"""


def _text_quality_row_sql() -> str:
    """The driver row's oracle: the base quality/langid/split columns
    plus the unigram- and bigram-LM legs — DuckDB recomputes the
    identical self-fit add-alpha models (operators/lm.py docstring
    formulas: unigram T/V over token occurrences; bigram per-context
    totals C(prev) over BOS-prefixed consecutive pairs, V = distinct
    target tokens, alpha = 1) — and, r8, the DSIR importance weight
    (operators/dsir.py: hashed unigram+bigram buckets, target = the en
    stratum, source = the whole corpus, both add-alpha over the fixed
    bucket domain)."""
    from mysql_to_s3_spark.operators.dsir import dsir_logratio_sql

    return f"""
    WITH tl AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+|[^\\w\\s]') AS t
      FROM documents),
    toks AS (SELECT doc_id, unnest(t) AS w FROM tl),
    cnt AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
    st AS (SELECT sum(n)::DOUBLE AS tot, count(*)::DOUBLE AS v FROM cnt),
    lm AS (SELECT t.doc_id, avg(log2((c.n + 1.0) / (st.tot + 1.0 * (st.v + 1)))) AS lp
           FROM toks t JOIN cnt c USING (w) CROSS JOIN st GROUP BY t.doc_id),
    pairs AS (
      SELECT doc_id, list_prepend('<s>', t)[i] AS prev, t[i] AS w
      FROM tl, unnest(range(1, len(t) + 1)) AS r(i)),
    bi AS (SELECT prev, w, count(*) AS n FROM pairs GROUP BY prev, w),
    ctx AS (SELECT prev, sum(n) AS cn FROM bi GROUP BY prev),
    st2 AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM bi),
    lm2 AS (SELECT p.doc_id,
                   avg(log2((coalesce(b.n, 0) + 1.0) / (c.cn + 1.0 * (st2.v + 1)))) AS lp2
            FROM pairs p
            LEFT JOIN bi b ON p.prev = b.prev AND p.w = b.w
            JOIN ctx c ON p.prev = c.prev
            CROSS JOIN st2
            GROUP BY p.doc_id)
    SELECT q.*, round(lm.lp, 6) AS lm_logprob, round(lm2.lp2, 6) AS lm2_logprob,
           CASE WHEN lower(d.text) LIKE '%dup%' THEN 'dup' ELSE 'std' END AS cls_label,
           round(ds.dsir_logratio, 6) AS dsir,
           -- dsir_top25: Gumbel-top-k on round(w,6)/T + (-ln(-ln u)),
           -- u = (md5-bucket(id|'dsir') + 0.5)/1e6 — the identical IEEE
           -- arithmetic dsir_topk runs (operators/dsir.py:250)
           CASE WHEN ds.dsir_logratio IS NULL THEN FALSE
                ELSE row_number() OVER (
                       ORDER BY (round(ds.dsir_logratio, 6) / 1.0
                                 - ln(-ln((('0x' || substr(md5(d.doc_id::VARCHAR || '|dsir'), 1, 8))::BIGINT
                                           % 1000000 + 0.5) / 1000000.0))) DESC NULLS LAST,
                                d.doc_id ASC) <= 25
           END AS dsir_top25,
           CASE WHEN lm.lp IS NULL THEN NULL
                WHEN round(lm.lp, 6) <= bnd.b1 THEN 'tail'
                WHEN round(lm.lp, 6) <= bnd.b2 THEN 'middle'
                ELSE 'head' END AS ppl_bucket
    FROM ({_text_quality_sql()}) q
    JOIN documents d USING (doc_id)
    LEFT JOIN lm USING (doc_id) LEFT JOIN lm2 USING (doc_id)
    LEFT JOIN ({dsir_logratio_sql()}) ds USING (doc_id)
    CROSS JOIN (SELECT quantile_cont(round(lp, 6), 1.0/3) AS b1,
                       quantile_cont(round(lp, 6), 2.0/3) AS b2
                FROM lm WHERE lp IS NOT NULL) bnd"""


_q("text_stats", _text_stats_spark, _text_stats_sql(), headline=True)
# + lang_guess leg + unigram- and bigram-LM perplexity legs (r6)
_q(
    "text_quality",
    _text_quality_spark,
    _text_quality_row_sql(),
    ops=(
        "quality", "lang_guess", "split", "lm_logprob", "lm2_logprob", "cls_label",
        "dsir", "dsir_top25", "ppl_bucket",
    ),
    headline=True,
)


def _text_winnow_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.text import kgram_rolling_hashes, winnow_from_hashes
    from mysql_to_s3_spark.sources.registry import load_table, spread

    from mysql_to_s3_spark.operators.dedup import (
        duplicated_span_fraction,
        strip_boilerplate_lines,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    # materialize the O(n*k) hash array once; winnowing then references a
    # column, not an expression Catalyst would re-expand per window.
    # r11: the winnowed array itself is ALSO bound once (__fps__) — the
    # summary select references it 3x (size / element_at / aggregate),
    # and each unbound reference re-ran the O(n) window-min transform.
    hashed = docs.select("doc_id", kgram_rolling_hashes(F.col("text"), k=5).alias("__hs__"))
    base = hashed.withColumn(
        "__fps__", winnow_from_hashes(F.col("__hs__"), window=4)
    ).select(
        F.col("doc_id"),
        F.size("__fps__").alias("n_fp"),
        F.element_at(F.col("__fps__"), 1).alias("fp_min"),
        F.aggregate(
            F.col("__fps__"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("fp_sum"),
    )
    # r11 (verdict item 3): the REDUCED (id, start, key) window frame is
    # cached ONCE and feeds BOTH token-level legs (spanf + sp) — one
    # tokenize+window+md5 pass instead of two, and ~20 bytes + one
    # 32-char key per window in the cache. This is NOT the r9 reversal's
    # loser: that A/B cached the raw array<string> token frame (columnar
    # (de)serialization of two token arrays exceeded the regex
    # recompute, SCALE.md "Winnow row pooling reversal"); span_windows
    # is the reduced projection the legs actually shuffle. The bench
    # clears the cache before every timed action, so each action pays
    # the build exactly once.
    from mysql_to_s3_spark.operators.dedup import span_windows

    wins = span_windows(docs, k=5).cache()
    # leg: cross-doc duplicated-span fraction (Lee et al. exact-substring
    # signal, k=5 token windows, md5 span keys)
    spanf = duplicated_span_fraction(docs, k=5, min_docs=2, wins=wins)
    # leg: line-level boilerplate removal over a DERIVED multi-line view
    # (docs are single-line token streams, so "lines" = aligned 10-token
    # chunks — deterministic in both engines; planted near-dup docs share
    # aligned chunks, so the gate really fires on this corpus).
    # r11: the token array is bound as a COLUMN first — inline in the
    # chunk lambda it re-ran the tokenize regex once per 10-token chunk
    # (HOF bodies re-evaluate non-lambda subtrees per element).
    t = F.col("__blt__")
    nl = F.greatest(F.ceil(F.size(t) / F.lit(10.0)).cast("int"), F.lit(1))
    text2 = F.array_join(
        F.transform(
            F.sequence(F.lit(1), nl),
            lambda i: F.array_join(F.slice(t, (i - F.lit(1)) * F.lit(10) + F.lit(1), 10), " "),
        ),
        "\n",
    )
    bl_src = docs.withColumn(
        "__blt__",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+|[^\w\s]"), 0),
    ).select("doc_id", text2.alias("text"))
    bl = strip_boilerplate_lines(bl_src, max_docs=1).select(
        "doc_id",
        F.md5("clean_text").alias("bl_md5"),
        F.col("n_lines").alias("bl_lines"),
        F.col("n_dropped").alias("bl_dropped"),
    )
    # r8: the REWRITE half of exact-substring dedup — every non-keeper
    # occurrence of a cross-doc duplicated 5-token span stripped; the
    # md5 of the rebuilt text binds the keeper choice, the coverage
    # union, and the original-case reconstruction to the oracle
    from mysql_to_s3_spark.operators.dedup import strip_duplicated_spans

    sp = strip_duplicated_spans(docs, k=5, wins=wins).select(
        "doc_id",
        F.md5("clean_text").alias("sp_md5"),
        F.col("n_removed").alias("sp_removed"),
    )
    return base.join(spanf, "doc_id").join(bl, "doc_id").join(sp, "doc_id")


_q(
    "text_winnow_fingerprint",
    _text_winnow_spark,
    # winnowing (MOSS): portable polynomial k-gram rolling hash (k=5,
    # base=257 — bigint-exact, engine-independent), window-4 minima,
    # distinct+sorted; summarized as count/min/sum per doc
    """WITH h AS (
         SELECT doc_id,
                list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                  i -> ascii(text[i]) * 4362470401 + ascii(text[i+1]) * 16974593
                     + ascii(text[i+2]) * 66049 + ascii(text[i+3]) * 257 + ascii(text[i+4])) AS hs
         FROM documents),
       w AS (
         SELECT doc_id,
                list_sort(list_distinct(list_transform(range(1, greatest(len(hs) - 3, 0) + 1),
                  p -> list_min(hs[p:p+3])))) AS fps
         FROM h),
       tl AS (
         SELECT doc_id, regexp_extract_all(lower(text), '\\w+|[^\\w\\s]') AS t
         FROM documents),
       sp AS (
         SELECT doc_id, md5(list_aggregate(t[i:i+4], 'string_agg', chr(31))) AS s
         FROM tl, unnest(range(1, greatest(len(t) - 5 + 1, 0) + 1)) r(i)),
       pd AS (SELECT s, doc_id, count(*) AS w2 FROM sp GROUP BY s, doc_id),
       ff AS (SELECT *, count(*) OVER (PARTITION BY s) AS nd FROM pd),
       sr AS (SELECT doc_id, sum(w2) AS n_spans,
                     sum(CASE WHEN nd >= 2 THEN w2 ELSE 0 END) AS n_dup
              FROM ff GROUP BY doc_id),
       ln AS (
         SELECT doc_id, i AS pos,
                list_aggregate(t[(i-1)*10+1:i*10], 'string_agg', ' ') AS line
         FROM tl,
              unnest(range(1, greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1) + 1)) r(i)),
       lf AS (SELECT trim(line) AS tl_, count(DISTINCT doc_id) AS nd
              FROM ln WHERE trim(line) <> '' GROUP BY 1),
       lj AS (SELECT ln.doc_id, ln.pos, ln.line,
                     (trim(ln.line) = '' OR coalesce(lf.nd, 1) <= 1) AS keep
              FROM ln LEFT JOIN lf ON trim(ln.line) = lf.tl_),
       br AS (SELECT doc_id,
                     md5(coalesce(string_agg(CASE WHEN keep THEN line END,
                                             chr(10) ORDER BY pos), '')) AS bl_md5,
                     count(*) AS bl_lines,
                     sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS bl_dropped
              FROM lj GROUP BY doc_id),
       rtl AS (SELECT doc_id, regexp_extract_all(text, '\\w+|[^\\w\\s]') AS rt
               FROM documents),
       sw AS (SELECT doc_id, i AS start,
                     md5(list_aggregate(t[i:i+4], 'string_agg', chr(31))) AS s
              FROM tl, unnest(range(1, greatest(len(t) - 5 + 1, 0) + 1)) r(i)),
       sk AS (SELECT s, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper
              FROM sw GROUP BY s),
       cov AS (SELECT DISTINCT sw.doc_id, u.p
               FROM sw JOIN sk USING (s), unnest(range(sw.start, sw.start + 5)) u(p)
               WHERE sk.nd >= 2 AND sw.doc_id != sk.keeper),
       stk AS (SELECT rtl.doc_id, i AS pos, rt[i] AS tok
               FROM rtl, unnest(range(1, len(rt) + 1)) r(i)),
       sc AS (SELECT stk.doc_id,
                     coalesce(string_agg(CASE WHEN cov.p IS NULL THEN tok END,
                                         ' ' ORDER BY pos), '') AS ctext,
                     count(*) FILTER (WHERE cov.p IS NOT NULL) AS nrem
              FROM stk LEFT JOIN cov
                ON stk.doc_id = cov.doc_id AND stk.pos = cov.p
              GROUP BY stk.doc_id)
       SELECT w.doc_id,
              CAST(len(fps) AS INT) AS n_fp,
              fps[1] AS fp_min,
              CAST(list_sum(fps) AS BIGINT) AS fp_sum,
              CAST(coalesce(sr.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(sr.n_dup, 0) AS BIGINT) AS n_dup_spans,
              CASE WHEN sr.n_spans > 0 THEN round(sr.n_dup / sr.n_spans, 6) END AS dup_frac,
              br.bl_md5,
              CAST(br.bl_lines AS BIGINT) AS bl_lines,
              CAST(br.bl_dropped AS BIGINT) AS bl_dropped,
              md5(coalesce(sc.ctext, '')) AS sp_md5,
              CAST(coalesce(sc.nrem, 0) AS BIGINT) AS sp_removed
       FROM w JOIN sr USING (doc_id) JOIN br USING (doc_id)
       LEFT JOIN sc USING (doc_id)""",
    ops=("fingerprint", "span", "boilerplate", "span_strip"),
    headline=True,
)
_q(
    "dedup_exact",
    _dedup_exact_spark,
    # stream leg: exactly ONE survivor per distinct fingerprint (keeper
    # identity is batch-leg-only; see _dedup_exact_spark docstring)
    # url/urlk legs: the EXPECTED canonical form of the deterministic
    # messy synth URL, closed-form from doc_id arithmetic (default
    # ports and tracking params vanish, params sort, :8080 survives)
    f"""WITH d AS (
          SELECT {_SQL_FP} AS fp, min(doc_id) AS keeper, count(*) AS n
          FROM documents GROUP BY 1),
        fps AS (SELECT doc_id, {_SQL_FP} AS fp FROM documents),
        ins AS (
          SELECT DISTINCT unnest([
            ('0x' || substr(md5(fp || ':0'), 1, 15))::BIGINT % 1024,
            ('0x' || substr(md5(fp || ':1'), 1, 15))::BIGINT % 1024,
            ('0x' || substr(md5(fp || ':2'), 1, 15))::BIGINT % 1024]) AS pos
          FROM fps WHERE doc_id % 3 = 0),
        curl AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END
                 || lower(source) || '.example.com'
                 || CASE WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END
                 || '/a/b' || CAST(doc_id % 7 AS VARCHAR)
                 || CASE WHEN doc_id % 4 IN (0, 1) THEN '?a=1&b=2'
                         WHEN doc_id % 4 = 2 THEN '?a=1' ELSE '' END AS cu
          FROM documents WHERE doc_id < 240)
        SELECT 'batch' AS leg, fp, keeper, n AS n_dupes FROM d
        UNION ALL
        SELECT 'stream' AS leg, fp, NULL::BIGINT AS keeper,
               CAST(1 AS BIGINT) AS n_dupes
        FROM d
        UNION ALL
        SELECT 'url' AS leg, cu AS fp, doc_id AS keeper,
               NULL::BIGINT AS n_dupes
        FROM curl
        UNION ALL
        SELECT 'urlk' AS leg, cu AS fp, min(doc_id) AS keeper,
               count(*) AS n_dupes
        FROM curl GROUP BY cu
        UNION ALL
        SELECT 'urlf' AS leg, lower(source) || '.example.com' AS fp,
               doc_id AS keeper,
               CASE WHEN lower(source) IN ('src3', 'src7') THEN 3
                    ELSE 2 END::BIGINT AS n_dupes
        FROM documents WHERE doc_id < 240
        UNION ALL
        SELECT 'bloomf' AS leg, fp, doc_id AS keeper,
               CASE WHEN ('0x' || substr(md5(fp || ':0'), 1, 15))::BIGINT % 1024 IN (SELECT pos FROM ins)
                     AND ('0x' || substr(md5(fp || ':1'), 1, 15))::BIGINT % 1024 IN (SELECT pos FROM ins)
                     AND ('0x' || substr(md5(fp || ':2'), 1, 15))::BIGINT % 1024 IN (SELECT pos FROM ins)
                    THEN 1 ELSE 0 END::BIGINT AS n_dupes
        FROM fps
        UNION ALL
        -- surl: streaming url-dedup — one survivor per canonical url,
        -- every unusable-address doc (240 <= id < 260) kept untouched
        SELECT 'surl' AS leg, cu AS fp, NULL::BIGINT AS keeper,
               CAST(1 AS BIGINT) AS n_dupes
        FROM (SELECT DISTINCT cu FROM curl)
        UNION ALL
        SELECT 'surl' AS leg, '' AS fp, doc_id AS keeper,
               CAST(1 AS BIGINT) AS n_dupes
        FROM documents WHERE doc_id >= 240 AND doc_id < 260""",
    ops=("batch", "url", "urlk", "urlf", "bloomf"),
    verify=("stream", "surl"),
    headline=True,
)
_q("dedup_ngram_jaccard", _dedup_ngram_spark, _SQL_JACCARD_PAIRS)
# minhash verifies candidates with exact Jaccard, so it matches the exact
# oracle up to the LSH miss probability ((1-j^4)^16 ~= 4e-8 at j=0.9);
# the r7 `leak` leg is split_leakage over the same corpus — the exact
# pair set joined to hash-split labels and filtered to straddlers
def _dedup_minhash_oracle() -> str:
    from mysql_to_s3_spark.operators.sampling import hash_split_sql

    split = hash_split_sql("doc_id", _SPLIT_FRACTIONS)
    return f"""
      SELECT 'pair' AS leg, a, b, jaccard,
             CAST(NULL AS VARCHAR) AS split_a, CAST(NULL AS VARCHAR) AS split_b
      FROM ({_SQL_JACCARD_PAIRS})
      UNION ALL
      SELECT 'leak', p.a, p.b, p.jaccard, sa.split, sb.split
      FROM ({_SQL_JACCARD_PAIRS}) p
      JOIN (SELECT doc_id, {split} AS split FROM documents) sa ON p.a = sa.doc_id
      JOIN (SELECT doc_id, {split} AS split FROM documents) sb ON p.b = sb.doc_id
      WHERE sa.split != sb.split
      UNION ALL
      -- sflag: docs the reconciled near-dedup STREAM confirms as dups ==
      -- docs with an exact >= 0.9 pair to a smaller-id (earlier) doc,
      -- within the bounded doc_id < 500 drain window (== the whole
      -- corpus at the sf0.01 correctness gate)
      SELECT 'sflag', d.b, NULL::BIGINT, NULL::DOUBLE,
             NULL::VARCHAR, NULL::VARCHAR
      FROM (SELECT DISTINCT b FROM ({_SQL_JACCARD_PAIRS})
            WHERE a < 500 AND b < 500) d"""


_q(
    "dedup_minhash_lsh",
    _dedup_minhash_spark,
    _dedup_minhash_oracle(),
    ops=("pair", "leak"),
    verify=("sflag",),
    headline=True,
)


def _dedup_cc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact ngram-Jaccard pairs -> distributed
    connected components (min-label + pointer jumping,
    operators/components.py) -> per-doc (component, n_members).
    Pairs alone under-delete (A~B, B~C, A!~C still means keep one of
    {A,B,C}); this is the operator that closes that gap."""
    from mysql_to_s3_spark.operators.components import component_summary
    from mysql_to_s3_spark.operators.dedup import ngram_jaccard_pairs
    from mysql_to_s3_spark.sources.registry import load_table

    pairs = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.9)
    return component_summary(pairs)


# oracle: transitive closure by recursive CTE over the SAME exact-Jaccard
# pair set; component = min reachable id (symmetric edges make every node
# self-reachable), n_members = nodes sharing the component
_SQL_CC_COMPONENTS = f"""
    WITH RECURSIVE sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents),
    pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
                    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.9),
    edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)
    SELECT c.doc_id, c.component, n.n_members
    FROM comp c
    JOIN (SELECT component, count(*) AS n_members FROM comp GROUP BY component) n
      USING (component)"""

_q("dedup_cluster_components", _dedup_cc_spark, _SQL_CC_COMPONENTS, headline=True)
def _simhash_sql() -> str:
    """DuckDB replica of operators.dedup.simhash_pairs: the token hash is
    the PORTABLE int(md5(w)[:15], 16) (see dedup.token_hash), so the
    signature, pigeonhole chunks, and hamming verify all reproduce
    bit-for-bit."""
    from mysql_to_s3_spark.operators.dedup import simhash_bits

    bits = simhash_bits()
    n_chunks, width = 4, 16  # max_hamming=3 -> 4 chunks of 64//4 bits
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(regexp_extract_all(text, '\\w+'))) AS w
      FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN range({bits}) r(i)
      GROUP BY doc_id, i
    ),
    sh AS (
      SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, simhash, c, (simhash >> (c*{width})::INT) & {(1 << width) - 1} AS cv
      FROM sh CROSS JOIN range({n_chunks}) rc(c)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS ha, y.simhash AS hb
      FROM chunks x JOIN chunks y ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3"""


_q("dedup_simhash", _dedup_simhash_spark, _simhash_sql())
_q(
    "dedup_embedding_cosine",
    _dedup_embedding_spark,
    f"""WITH {_sem_dedup_sql()}
        SELECT 'pair' AS leg, a.vec_id AS a, b.vec_id AS b,
               round({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= 0.45
        UNION ALL
        SELECT 'sem' AS leg, vec_id AS a, cell::BIGINT AS b, csim AS cos
        FROM sem_drops""",
    ops=("pair", "sem"),
)
_SQL_EXACT_TOPK = f"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, round({_sql_cosine('e.embedding', 'q.qe')}, 6) AS cos
        FROM embeddings e, q WHERE e.vec_id != 0
        ORDER BY cos DESC, e.vec_id LIMIT 10"""

_q(
    "similarity_ann_lsh",
    _similarity_ann_spark,
    _ann_sql(),
    ops=("probe0", "probe1"),
    verify=("exact",),
    headline=True,
)


def _decontam_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged 2-leg decontamination row:

    - `pair`: cross-corpus decontamination (operators/decontam.py):
      screen the documents corpus against a deterministic benchmark
      subset (doc_id % 7 == 0, doc_id < 3500) at 50% shingle
      containment. (The former standalone similarity_topk row became
      the `exact` leg of similarity_ann_lsh to free this driver slot.)
    - `sdec` (r9): the STREAMING screen
      (streaming/stream_extract.stream_decontaminate — a stateless
      mapInPandas closure over the collected eval suite, no watermark,
      no state store) drained in-row over a 3-chunk replay; the
      surviving doc set must be EXACTLY the complement of the pair
      leg's train_id set (same threshold, same self-pair exclusion).
    """
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.decontam import contamination_pairs
    from mysql_to_s3_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    # FIXED-SIZE benchmark (<=500 docs at any sf): eval suites do not grow
    # with the training corpus, and the operator's linearity depends on
    # that — a bench side proportional to the corpus makes the shingle
    # join quadratic (measured 375 s at sf1 with bench = corpus/7 vs
    # linear with this fixed window; SCALE.md "decontamination")
    bench = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 3500))
    # k=13 (~2-3 words): published decontam recipes use LONG n-grams so
    # shingles are rare — that is what keeps the shared-shingle join
    # sparse (df_bench per shingle ~1) AND what makes a hit meaningful
    # broadcast=True: the bench frame IS a fixed-size eval suite (the
    # operator's documented fast path) — skips the per-build guard job.
    # Cached: the row's three bench actions each re-ran the containment
    # join (~6 s at sf0.1) for an output of a few dozen pairs.
    pairs = (
        contamination_pairs(docs, bench, threshold=0.5, k=13, broadcast=True)
        .select("train_id", "bench_id", "overlap", "overlap_frac")
        .cache()
    )

    def _run_stream_decontam():
        import uuid as _uuid

        import pandas as pd

        from mysql_to_s3_spark.streaming.stream_extract import (
            read_parquet_stream,
            stream_decontaminate,
        )

        bench_rows = [
            (int(r["doc_id"]), r["text"])
            for r in bench.select("doc_id", "text").collect()
        ]
        pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
        src = _write_stream_chunks(pdf, pdf.iloc[0:0], "decontam_stream_")
        schema = spark.read.parquet(src).schema
        out = stream_decontaminate(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            bench_rows,
            threshold=0.5,
            k=13,
        )
        name = f"sdec_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        return sorted(
            int(r["doc_id"]) for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
        )

    kept = _run_stream_decontam()
    sdec = spark.createDataFrame([(i,) for i in kept], "train_id bigint")
    return {"pair": pairs, "sdec": sdec}


_SQL_SHINGLES_13 = _sql_shingles(13)

_SQL_DECONTAM = f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES_13} AS s FROM documents),
    b AS (SELECT doc_id AS bench_id, s AS bs FROM sh WHERE doc_id % 7 = 0 AND doc_id < 3500),
    p AS (
      SELECT t.doc_id AS train_id, b.bench_id,
             CAST(len(list_intersect(t.s, b.bs)) AS BIGINT) AS overlap,
             round(len(list_intersect(t.s, b.bs))::DOUBLE / len(b.bs), 6) AS overlap_frac
      FROM sh t JOIN b ON t.doc_id != b.bench_id
      WHERE round(len(list_intersect(t.s, b.bs))::DOUBLE / len(b.bs), 6) >= 0.5)
    SELECT 'pair' AS leg, train_id, bench_id, overlap, overlap_frac FROM p
    UNION ALL
    -- sdec: the streaming screen keeps exactly the non-contaminated docs
    SELECT 'sdec', doc_id, NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE
    FROM documents WHERE doc_id NOT IN (SELECT train_id FROM p)"""

_q(
    "text_decontaminate",
    _decontam_spark,
    _SQL_DECONTAM,
    ops=("pair",),
    verify=("sdec",),
    headline=True,
)


def _drain_available_now(q, timeout_secs: int = 300) -> None:
    """Block until an availableNow drain TERMINATES, or fail loudly.

    ``awaitTermination(t)`` returns False on timeout without stopping
    the query; ignoring that on a loaded host would read a PARTIAL
    memory sink into the leg and surface as a baffling oracle hash
    mismatch. Stop the straggler and raise — a retried leg beats a
    silently wrong one."""
    if not q.awaitTermination(timeout_secs):
        q.stop()
        raise TimeoutError(
            f"availableNow drain did not terminate within {timeout_secs}s; "
            "partial sink discarded — rerun the leg (loaded host?)"
        )


def _write_stream_chunks(pdf, pusher, prefix: str, n_chunks: int = 3) -> str:
    """Stage a pandas frame as an availableNow file-stream source: write
    ``pdf`` as ``n_chunks`` parquet files (row order preserved — callers
    pre-sort by event time so the file sequence replays the corpus in
    ts order) plus a final watermark-pusher file, with strictly
    increasing mtimes so ``maxFilesPerTrigger=1`` reads them as ordered
    micro-batches (the r8 counters-leg drain protocol). ``pusher=None``
    skips the pusher file — for stateless foreachBatch sinks an empty
    trailing micro-batch is not harmless (an empty shard write has no
    schema to manifest), and no watermark needs pushing. Returns the
    source dir; the temp root is registered for atexit cleanup."""
    import atexit as _atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    root = _tempfile.mkdtemp(prefix=prefix)
    _atexit.register(_shutil.rmtree, root, ignore_errors=True)
    src = _os.path.join(root, "src")
    _os.makedirs(src)
    n = len(pdf)
    cuts = [n * i // n_chunks for i in range(n_chunks + 1)]
    t0 = None
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        p = f"{src}/c{i:02d}.parquet"
        pdf.iloc[a:b].to_parquet(p)
        t0 = t0 if t0 is not None else _os.path.getmtime(p)
        _os.utime(p, (t0 + 10 * i, t0 + 10 * i))
    if pusher is not None:
        p = f"{src}/zz_pusher.parquet"
        pusher.to_parquet(p)
        _os.utime(p, (t0 + 10 * n_chunks + 10, t0 + 10 * n_chunks + 10))
    return src


def _similarity_ivf_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged 3-leg quantized-ANN driver row, every leg checked against
    the EXACT top-k SQL oracle:

    - `ivf`: probe breadth (nprobe=12 of 16 cells) is sized so the
      probed cells deterministically contain the entire true top-10 on
      this corpus (verified at cpus=4 and 32 — seeded KMeans is
      partition-stable here).
    - `pq`: product-quantization ADC scan (m=8 subspaces x 16 codes —
      32x vector compression) -> shortlist=200 -> exact cosine re-rank;
      the shortlist deterministically contains the true top-10 here
      (verified at cpus 8 and 32, sf0.001 and sf0.01).
    - `ivfpq`: the PERSISTED composition (the standard IVFADC layout) —
      write the index to a temp dir IN-ROW (vectors parquet partitioned
      by coarse cell + both sidecars, the typed_json_roundtrip temp-dir
      pattern), then search it via ``ivfpq_search_index``: partition
      pruning to the probed cells x column pruning to (id, codes) for
      the ADC pass, exact re-rank after. Same knobs as the in-memory
      legs, so containment composes: the probed cells hold the true
      top-10 (ivf leg's guarantee) and restricting the ADC ranking to
      those cells only improves the true top-10's shortlist ranks.

    Honest regime note: the synthetic embeddings are isotropic — the
    worst case for both quantizers (cosine neighbors spread across
    cells; ADC distance noise is maximal), so the probe/shortlist knobs
    sit high. On real clustered embeddings the operating points are
    nprobe ~2-4 of sqrt(n) cells and shortlist ~100 of millions, same
    code paths."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.similarity import (
        ivf_fit,
        ivf_topk,
        ivfpq_search_index,
        ivfpq_write_index,
        pq_fit,
        pq_topk,
    )
    from mysql_to_s3_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    base = emb.filter(F.col("vec_id") != 0)
    centroids = ivf_fit(emb, n_cells=16)
    books = pq_fit(emb, m=8, k=16, max_iter=10)
    ivf = ivf_topk(base, qv, centroids, k=10, nprobe=12).select("vec_id", "cos")
    pq = pq_topk(base, qv, books, k=10, shortlist=200).select("vec_id", "cos")
    # persisted leg: write the index to a temp dir, then run the
    # doubly-pruned search round-trip against it. mkdtemp dirs outlive
    # the process, so the dir is registered for removal at exit — else
    # every session leaves a full copy of the embeddings table in /tmp
    import atexit

    idx = tempfile.mkdtemp(prefix="ivfpq_idx_")
    atexit.register(shutil.rmtree, idx, ignore_errors=True)
    shutil.rmtree(idx, ignore_errors=True)
    ivfpq_write_index(base, centroids, books, idx)
    ivfpq = ivfpq_search_index(
        spark, idx, qv, k=10, nprobe=12, shortlist=200
    ).select("vec_id", "cos")
    # `knn` leg (r8): the multi-query EXACT top-k join
    # (similarity.knn_join) — 20 query vectors against the rest of the
    # table, k=5, ranked on the rounded cosine so selection is
    # engine-portable; the hash binds every (query, rank) neighbor pair
    from mysql_to_s3_spark.operators.similarity import knn_join

    knn = knn_join(
        emb.filter(F.col("vec_id") < 20),
        emb.filter(F.col("vec_id") >= 20),
        k=5,
    ).select("vec_id", "cos", F.col("q_id").alias("qid"))
    # `ivfb` leg (r9s3): the BATCHED persisted-IVF search
    # (similarity.ivf_search_index_batch) — the same 20 queries against
    # the persisted index, probing ALL 16 cells so the result equals the
    # exact top-5 BY CONSTRUCTION (not by containment luck — these
    # isotropic embeddings miss at any nprobe < n_cells): the hash then
    # binds the per-cell query routing, the Arrow GEMM cosines, the
    # cross-partition union, and the (cos desc, id asc) ranking. The
    # probe-SELECTION math is bound separately by the unit test against
    # `_nearest_cells`. Note the persisted index holds vec_id != 0, so
    # queries 1..19 legitimately retrieve themselves at cos 1.0 — the
    # oracle replicates exactly that corpus.
    from mysql_to_s3_spark.operators.similarity import ivf_search_index_batch

    ivfb = ivf_search_index_batch(
        spark, idx, emb.filter(F.col("vec_id") < 20), k=5, nprobe=16
    ).select("vec_id", "cos", F.col("q_id").alias("qid"))
    return {"ivf": ivf, "pq": pq, "ivfpq": ivfpq, "knn": knn, "ivfb": ivfb}


_q(
    "similarity_ivf",
    _similarity_ivf_spark,
    f"""WITH ex AS ({_SQL_EXACT_TOPK})
        SELECT 'ivf' AS leg, vec_id, cos, CAST(NULL AS BIGINT) AS qid FROM ex
        UNION ALL
        SELECT 'pq' AS leg, vec_id, cos, CAST(NULL AS BIGINT) AS qid FROM ex
        UNION ALL
        SELECT 'ivfpq' AS leg, vec_id, cos, CAST(NULL AS BIGINT) AS qid FROM ex
        UNION ALL
        SELECT 'knn' AS leg, vec_id, cos, qid FROM (
          SELECT e.vec_id,
                 round({_sql_cosine('e.embedding', 'q.embedding')}, 6) AS cos,
                 q.vec_id AS qid
          FROM embeddings q, embeddings e
          WHERE q.vec_id < 20 AND e.vec_id >= 20
          QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY round({_sql_cosine('e.embedding', 'q.embedding')}, 6) DESC,
                     e.vec_id) <= 5)
        UNION ALL
        SELECT 'ivfb' AS leg, vec_id, cos, qid FROM (
          SELECT e.vec_id,
                 round({_sql_cosine('e.embedding', 'q.embedding')}, 6) AS cos,
                 q.vec_id AS qid
          FROM embeddings q, embeddings e
          WHERE q.vec_id < 20 AND e.vec_id != 0
          QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY round({_sql_cosine('e.embedding', 'q.embedding')}, 6) DESC,
                     e.vec_id) <= 5)""",
    ops=("ivf", "pq", "ivfpq", "knn", "ivfb"),
    headline=True,
)
_q(
    "multimodal_features",
    _multimodal_spark,
    # the decode legs' closed forms mirror operators/codecs.py's synth
    # builders: img pixel i = (doc_id+i)%256 over 16*12*3=576 bytes; wav
    # sample t = ((7*doc_id+13*t)%2048)-1024 over 256 samples; y4m frame
    # f byte i = (doc_id+97*f+i)%256 over 8*6*3=144 bytes, 3+doc_id%4
    # frames; rsz = nearest-neighbor floor map (src y*2, x*2), linear
    # source index ((y*2)*16 + x*2)*3 + c
    """SELECT 'bytes' AS leg, doc_id,
              octet_length(encode(text)) AS n_bytes, md5(text) AS digest
       FROM documents
       UNION ALL
       SELECT 'img' AS leg, d.doc_id,
              CAST(SUM((d.doc_id + r.i) % 256) AS BIGINT) AS n_bytes,
              '16x12' AS digest
       FROM documents d CROSS JOIN range(576) r(i)
       WHERE d.doc_id < 60 GROUP BY d.doc_id
       UNION ALL
       -- png (r10): same pixels through the stdlib-zlib PNG codec,
       -- scanline filter doc_id % 5 — decode must reproduce the exact
       -- synth pixels whatever filter encoded them
       SELECT 'png' AS leg, d.doc_id,
              CAST(SUM((d.doc_id + r.i) % 256) AS BIGINT) AS n_bytes,
              '16x12:f' || CAST(d.doc_id % 5 AS VARCHAR) AS digest
       FROM documents d CROSS JOIN range(576) r(i)
       WHERE d.doc_id < 60 GROUP BY d.doc_id
       UNION ALL
       SELECT 'wav' AS leg, d.doc_id,
              CAST(SUM(((d.doc_id * 7 + r.i * 13) % 2048) - 1024) AS BIGINT) AS n_bytes,
              '16000' AS digest
       FROM documents d CROSS JOIN range(256) r(i)
       WHERE d.doc_id < 60 GROUP BY d.doc_id
       UNION ALL
       SELECT 'y4m' AS leg, d.doc_id,
              CAST(SUM((d.doc_id + 97 * f.f + r.i) % 256) AS BIGINT) AS n_bytes,
              CAST(3 + d.doc_id % 4 AS VARCHAR) AS digest
       FROM documents d CROSS JOIN range(6) f(f) CROSS JOIN range(144) r(i)
       WHERE d.doc_id < 60 AND f.f < 3 + d.doc_id % 4 GROUP BY d.doc_id
       UNION ALL
       SELECT 'rsz' AS leg, d.doc_id,
              CAST(SUM((d.doc_id + ((y.y * 2) * 16 + x.x * 2) * 3 + c.c) % 256) AS BIGINT)
                AS n_bytes,
              '8x6' AS digest
       FROM documents d CROSS JOIN range(6) y(y) CROSS JOIN range(8) x(x)
            CROSS JOIN range(3) c(c)
       WHERE d.doc_id < 60 GROUP BY d.doc_id
       UNION ALL
       -- warc: the read-back record must carry status 200, the synth
       -- url, and the exact utf-8 body bytes
       SELECT 'warc' AS leg, doc_id,
              octet_length(encode(text)) AS n_bytes,
              md5('200|http://w.example.com/d/' || doc_id || '|' || text) AS digest
       FROM documents WHERE doc_id < 60
       UNION ALL
       -- html: expected visible text of the messy wrapper, closed-form
       SELECT 'html' AS leg, doc_id,
              length(trim(regexp_replace('T&T ' || text || ' tail<end>',
                                         '\\s+', ' ', 'g'))) AS n_bytes,
              md5(trim(regexp_replace('T&T ' || text || ' tail<end>',
                                      '\\s+', ' ', 'g'))) AS digest
       FROM documents WHERE doc_id < 60
       UNION ALL
       -- nfc: DuckDB's native normalizer over the same decomposed
       -- construction (no BEL char here: the kernel must strip it)
       SELECT 'nfc' AS leg, doc_id,
              length(nfc_normalize(repeat('e' || chr(769), CAST(doc_id % 5 + 1 AS INT))
                     || chr(8491))) AS n_bytes,
              md5(nfc_normalize(repeat('e' || chr(769), CAST(doc_id % 5 + 1 AS INT))
                  || chr(8491))) AS digest
       FROM documents WHERE doc_id < 60""",
    ops=("bytes", "img", "png", "wav", "y4m", "rsz", "warc", "html", "nfc"),
    headline=True,
)


# ---------------------------------------------------------------------------
# snowflake extract pipeline (the reference's namesake), exercised on the
# TPC-H tables: orders fact + customer many-to-one dim + lineitem
# one-to-many children, then flattened back to scalars the oracle can check.


def _snowflake_denorm_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged multi-leg snowflake row (r6: + the §3.1 extract lifecycle
    under the hard gate — previously unit/golden-only):

    - `doc`:    doc_frame denormalization, flattened to oracle scalars.
    - `ext`:    a FULL config-driven extract run in-row (sources/
                extract.py run(), reference mysql_to_s3/extract.py:40):
                keyset batches of 25 on o_orderkey, per-batch JSON-lines
                written to a temp destination, read back and parsed.
                Verifies per-doc: the assembled doc's scalars survive
                the sink (incl. the scrub single-child collapse on
                1-item orders) AND the etl lineage id equals the
                SQL-computed batch key '0.<floor(rank/25)>' — keyset
                pagination provably partitions the fact with no misses
                or duplicates.
    - `resume`: run() again against the written checkpoint — must
                extract 0 new batches (extract.py:94-110 [start_point,
                first_value] contract).
    - `notify`: the per-batch SQS-analog hook fired exactly
                ceil(n/25) times (extract.py:244-251).
    - `ref`:    reference_only=['customer.c_name'] inlining (reference
                snowflake_schema.py reference columns): the dim struct
                prunes to exactly {id, reference col} — n_items carries
                the surviving field COUNT (must be 2) and cname the
                inlined reference value.

    r8 legs — the keyed-lookup utilities (operators/index.py; reference
    mysql_to_s3/extract.py:193-198 id-batch restriction and
    vendor/mo_collections/{index,unique_index}.py structures) move from
    unit-only to the hard gate:

    - `semi`:   semi_join_ids broadcast-LeftSemi batch restriction —
                one row per surviving order (per-row binding: a missed
                or extra id anywhere breaks the hash) for the batch
                {k < 100 : k % 3 == 0}.
    - `hidx`:   hash_index over lineitem keyed by l_orderkey — n_items
                = member count, cname = the comma-joined l_linenumber
                list in sort order (binds member CONTENT and ORDER,
                not just counts).
    - `uniqf`:  unique_index(fail_on_dup=False) first-member-per-key —
                n_items = the kept row's l_linenumber (min over the
                sorted struct), total_qty = that same row's quantity
                (binds WHICH row was kept).
    - `uniq_ok`/`uniq_dup` (summary): the fail-loudly contract as
                bounded-contract values — row count surviving the
                unique check on a key that IS unique, and 1 iff the
                deliberately duplicated frame raised. The eager checks
                run at build time."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F
    import pyspark.sql.types as T

    from mysql_to_s3_spark.sources.extract import Extract, ExtractConfig
    from mysql_to_s3_spark.sources.registry import load_table
    from mysql_to_s3_spark.sources.snowflake import (
        Relation,
        SnowflakeConfig,
        TableMeta,
        build_plan,
        doc_frame,
    )

    # ONE cached scan of each FACT-SIDE input across the doc/ext/ref legs
    # (every leg works on order keys < 100, so the cached frames carry
    # that filter — keep it in sync with the ids=range(100) below).
    # Caching the PRE-FILTERED frame, not the bare scan, is load-bearing:
    # Spark's CacheManager substitutes a cached plan into ANY query whose
    # subtree matches it, so caching a bare full-table scan here would
    # silently replace other queries' parquet scans session-wide and
    # destroy their filter/column pushdown (observed: the pushdown plan
    # assertions in tests/test_plans.py fail when this row runs first).
    # customer stays uncached — its keys are unbounded and it is a small
    # broadcast dim anyway.
    tables = {
        "orders": load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100).cache(),
        "customer": load_table(spark, sf_dir, "customer"),
        "lineitem": load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100).cache(),
    }
    meta = [
        TableMeta("orders", tables["orders"].columns, ["o_orderkey"]),
        TableMeta("customer", tables["customer"].columns, ["c_custkey"]),
        TableMeta("lineitem", tables["lineitem"].columns, ["l_orderkey", "l_linenumber"]),
    ]
    rels = [
        Relation("orders_cust", "orders", ["o_custkey"], "customer", ["c_custkey"]),
        Relation("items_order", "lineitem", ["l_orderkey"], "orders", ["o_orderkey"]),
    ]
    cfg = SnowflakeConfig(fact_table="orders")
    plan = build_plan(meta, rels, cfg)

    schema = T.StructType(
        [
            T.StructField("okey", T.LongType()),
            T.StructField("cname", T.StringType()),
            T.StructField("n_items", T.LongType()),
            T.StructField("total_qty", T.DoubleType()),
            T.StructField("etl_key", T.StringType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    docs = doc_frame(tables, plan, cfg, ids=list(range(100)))
    items = F.col("orders.lineitem")
    doc_leg = docs.select(
        F.col("__id__").cast("bigint").alias("okey"),
        F.col("orders.o_custkey.c_name").alias("cname"),
        F.when(items.isNull(), F.lit(0)).otherwise(F.size(items)).cast("bigint").alias("n_items"),
        F.round(
            F.aggregate(items, F.lit(0.0), lambda acc, it: acc + it["l_quantity"]), 6
        ).alias("total_qty"),
    )

    # the full Extract.run() lifecycle, into a temp dir removed at exit
    import atexit

    root = _tempfile.mkdtemp(prefix="extract_run_")
    atexit.register(_shutil.rmtree, root, ignore_errors=True)
    out_dir = _os.path.join(root, "out")
    etabs = dict(tables)
    etabs["orders"] = tables["orders"].filter(F.col("o_orderkey") < 100)
    notes: list[dict] = []
    ex = Extract(
        etabs,
        plan,
        cfg,
        ExtractConfig(
            field="o_orderkey",
            start=0,
            batch=25,
            destination=out_dir,
            last=_os.path.join(root, "checkpoint.json"),
            key_format="a.b",
            source_name="orders",
        ),
    )
    ex.run(notify=notes.append)
    n_notify = len(notes)
    n_resumed = len(ex.run())  # checkpoint present: must write nothing

    def parse_ext(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for v in pdf["value"]:
                w = _json.loads(v)
                d = w["orders"]
                li = d.get("lineitem")
                if li is None:
                    n_it, qty = 0, None
                elif isinstance(li, list):
                    n_it, qty = len(li), float(sum(x["l_quantity"] for x in li))
                else:  # scrub collapsed a single child to its dict
                    n_it, qty = 1, float(li["l_quantity"])
                cust = d.get("o_custkey")
                rows.append(
                    {
                        "okey": d["o_orderkey"],
                        "cname": cust.get("c_name") if isinstance(cust, dict) else None,
                        "n_items": n_it,
                        "total_qty": round(qty, 6) if qty is not None else None,
                        "etl_key": w["etl"]["id"],
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    ext = spark.read.text(f"{out_dir}/*").mapInPandas(parse_ext, schema)

    cfg_ref = SnowflakeConfig(fact_table="orders", reference_only=["customer.c_name"])
    plan_ref = build_plan(meta, rels, cfg_ref)
    rdocs = doc_frame(tables, plan_ref, cfg_ref, ids=list(range(100)))
    ref_width = len(rdocs.schema["orders"].dataType["o_custkey"].dataType.fields)
    ref_leg = rdocs.select(
        F.col("__id__").cast("bigint").alias("okey"),
        F.col("orders.o_custkey.c_name").alias("cname"),
        F.lit(ref_width).cast("bigint").alias("n_items"),
    )

    from mysql_to_s3_spark.operators.index import (
        IndexError_,
        hash_index,
        semi_join_ids,
        unique_index,
    )

    # `semi`: the id-batch LeftSemi over the cached orders scan
    batch_ids = [k for k in range(100) if k % 3 == 0]
    semi_leg = semi_join_ids(tables["orders"], batch_ids, "o_orderkey").select(
        F.col("o_orderkey").cast("bigint").alias("okey"),
    )

    # `hidx` + `uniqf` share one projected child frame off the cached scan
    li = tables["lineitem"].select("l_orderkey", "l_linenumber", "l_quantity")
    hidx_leg = hash_index(li, ["l_orderkey"]).select(
        F.col("l_orderkey").cast("bigint").alias("okey"),
        # members are sort_array'd on (l_linenumber, l_quantity) structs,
        # so the projected linenumber list is already in key order
        F.array_join(
            F.transform(F.col("members"), lambda m: m["l_linenumber"].cast("string")),
            ",",
        ).alias("cname"),
        F.col("n_members").cast("bigint").alias("n_items"),
    )
    uniqf_leg = unique_index(li, ["l_orderkey"], fail_on_dup=False).select(
        F.col("l_orderkey").cast("bigint").alias("okey"),
        F.col("l_linenumber").cast("bigint").alias("n_items"),
        F.round(F.col("l_quantity"), 6).cast("double").alias("total_qty"),
    )

    n_uniq_ok = unique_index(tables["orders"], ["o_orderkey"]).count()
    try:
        unique_index(tables["orders"].unionByName(tables["orders"]), ["o_orderkey"])
        uniq_raised = 0
    except IndexError_:
        uniq_raised = 1

    summary = spark.createDataFrame(
        [
            ("resume", n_resumed),
            ("notify", n_notify),
            ("uniq_ok", n_uniq_ok),
            ("uniq_dup", uniq_raised),
        ],
        "leg string, n_items bigint",
    )
    return {
        "doc": doc_leg,
        "ext": ext,
        "ref": ref_leg,
        "semi": semi_leg,
        "hidx": hidx_leg,
        "uniqf": uniqf_leg,
        ("resume", "notify", "uniq_ok", "uniq_dup"): summary,
    }


_q(
    "snowflake_denormalize",
    _snowflake_denorm_spark,
    """WITH o AS (SELECT * FROM orders WHERE o_orderkey < 100),
            k AS (SELECT o_orderkey,
                         CAST(floor((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) / 25)
                              AS BIGINT) AS b1
                  FROM o),
            base AS (
              SELECT o.o_orderkey AS okey,
                     c.c_name AS cname,
                     (SELECT count(*) FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey) AS n_items,
                     (SELECT round(sum(l.l_quantity), 6) FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey) AS total_qty
              FROM o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
       SELECT 'doc' AS leg, okey, cname, n_items, total_qty,
              CAST(NULL AS VARCHAR) AS etl_key FROM base
       UNION ALL
       SELECT 'ext', base.okey, base.cname, base.n_items, base.total_qty,
              '0.' || CAST(k.b1 AS VARCHAR)
       FROM base JOIN k ON k.o_orderkey = base.okey
       UNION ALL
       SELECT 'ref', base.okey, base.cname, 2, NULL, NULL FROM base
       UNION ALL
       SELECT 'semi', o_orderkey, NULL, NULL, NULL, NULL
       FROM o WHERE o_orderkey % 3 = 0
       UNION ALL
       SELECT 'hidx', l_orderkey,
              string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber),
              CAST(count(*) AS BIGINT), NULL, NULL
       FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey
       UNION ALL
       SELECT 'uniqf', l_orderkey, NULL,
              CAST(min(l_linenumber) AS BIGINT),
              CAST(round((min(struct_pack(ln := l_linenumber, q := l_quantity))).q, 6)
                   AS DOUBLE), NULL
       FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey
       UNION ALL
       SELECT 'resume', NULL, NULL, 0, NULL, NULL
       UNION ALL
       SELECT 'notify', NULL, NULL,
              CAST(ceil((SELECT count(*) FROM o) / 25.0) AS BIGINT), NULL, NULL
       UNION ALL
       SELECT 'uniq_ok', NULL, NULL, (SELECT CAST(count(*) AS BIGINT) FROM o),
              NULL, NULL
       UNION ALL
       SELECT 'uniq_dup', NULL, NULL, 1, NULL, NULL
       ORDER BY leg, okey""",
    ops=("doc", "semi", "hidx", "uniqf"),
    verify=("ext", "ref", "resume", "notify", "uniq_ok", "uniq_dup"),
    headline=True,
)


# ---------------------------------------------------------------------------
# §2.6 expression-op coverage: casts/is_*, multivalue first/last, leaves
# select. (The former narrow variants — regex, null semantics, coalesce
# ""-skip, row-wise n-ary, from_unix, basic.* prims, get, offset — were
# strict subsets of the merged setop_string_ops / setop_arithmetic /
# setop_dates_unix driver rows and were consolidated away in round 4 so
# every registered semantic sits inside the driver's 50-entry window.)

_q(
    "setop_casts",
    {
        "from": "orders",
        "select": [
            {"name": "ok", "value": "o_orderkey"},
            {"name": "int_price", "value": {"integer": "o_totalprice"}},
            {"name": "num_key", "value": {"number": {"string": "o_orderkey"}}},
            {"name": "str_key", "value": {"string": "o_orderkey"}},
            {"name": "bool_lit", "value": {"boolean": {"literal": "T"}}},
            {"name": "is_num_price", "value": {"is_number": "o_totalprice"}},
            {"name": "is_int_key", "value": {"is_integer": "o_orderkey"}},
            {"name": "is_int_price", "value": {"is_integer": "o_totalprice"}},
            {"name": "is_str_status", "value": {"is_string": "o_orderstatus"}},
        ],
        "sort": ["o_orderkey"],
        "limit": 500,
    },
    # integer() truncates toward zero (double->long cast), unlike DuckDB's
    # rounding BIGINT cast — trunc() first
    """SELECT o_orderkey AS ok,
              CAST(trunc(o_totalprice) AS BIGINT) AS int_price,
              CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) AS num_key,
              CAST(o_orderkey AS VARCHAR) AS str_key,
              TRUE AS bool_lit,
              TRUE AS is_num_price,
              TRUE AS is_int_key,
              FALSE AS is_int_price,
              TRUE AS is_str_status
       FROM orders ORDER BY o_orderkey LIMIT 500""",
)





_q(
    "setop_first_last_multivalue",
    {
        "from": "documents",
        "select": [
            {"name": "doc_id", "value": "doc_id"},
            {"name": "first_word", "value": {"first": {"split": ["text", " "]}}},
            {"name": "last_word", "value": {"last": {"split": ["text", " "]}}},
        ],
        "sort": ["doc_id"],
        "limit": 1000,
    },
    """SELECT doc_id,
              list_extract(string_split(text, ' '), 1) AS first_word,
              list_extract(string_split(text, ' '), len(string_split(text, ' '))) AS last_word
       FROM documents ORDER BY doc_id LIMIT 1000""",
)





def _leaves_select_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select "info.*" expands a struct's leaves with dotted names
    (executor._select_columns leaves path)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        "o_orderkey", F.struct("o_totalprice", "o_orderstatus").alias("info")
    )
    q = {
        "from": "fact",
        "select": ["o_orderkey", "info.*"],
        "sort": ["o_orderkey"],
        "limit": 500,
    }
    return run(q, spark=spark, containers={"fact": fact})


_q(
    "setop_leaves_select",
    _leaves_select_spark,
    """SELECT o_orderkey,
              o_totalprice AS "info.o_totalprice",
              o_orderstatus AS "info.o_orderstatus"
       FROM orders ORDER BY o_orderkey LIMIT 500""",
)

# -- §2.4 aggregate widening: per-group union / count_distinct / percentile --

def _group_union_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged grouped-aggregate driver row: union (emitted as a '|'-joined
    string — array cells hash differently between Spark/Arrow and
    DuckDB/numpy, the r02 agg_union_set lesson), count_distinct, median,
    percentile, and std per group."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run

    q = {
        "from": "lineitem",
        "groupby": ["l_returnflag"],
        "select": [
            {"name": "statuses", "value": "l_linestatus", "aggregate": "union"},
            {"name": "n_status", "value": "l_linestatus", "aggregate": "count_distinct"},
            {"name": "med_qty", "value": "l_quantity", "aggregate": "median"},
            {"name": "p90_price", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9},
            {"name": "sd_disc", "value": "l_discount", "aggregate": "std"},
            # per-select `default` on aggregates (§2.4): all-missing input
            # -> default, partially-present input -> real aggregate
            {"name": "f_qty_sum", "value": {"when": {"eq": {"l_linestatus": "F"}}, "then": "l_quantity"}, "aggregate": "sum"},
            {"name": "never_sum", "value": {"when": {"gt": {"l_quantity": 9999}}, "then": "l_quantity"}, "aggregate": "sum", "default": -1},
        ],
    }
    df = run(q, spark=spark, sf_dir=sf_dir)
    df = df.withColumn("statuses", F.concat_ws("|", F.col("statuses")))
    for c in ("med_qty", "p90_price", "sd_disc"):
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


_q(
    "agg_group_union",
    _group_union_spark,
    """SELECT l_returnflag,
              array_to_string(list_sort(list(DISTINCT l_linestatus)), '|') AS statuses,
              count(DISTINCT l_linestatus) AS n_status,
              round(median(l_quantity), 6) AS med_qty,
              round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
              round(stddev_pop(l_discount), 6) AS sd_disc,
              sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS f_qty_sum,
              CAST(coalesce(sum(CASE WHEN l_quantity > 9999 THEN l_quantity END), -1) AS DOUBLE) AS never_sum
       FROM lineitem GROUP BY 1""",
)


# groupby_null_key_kept: merged into groupby_expr_bucket's `nullkey` leg
# in round 6 (same groupby family, one driver slot — the advised
# consolidation pattern); the freed slot hosts pipeline_prepare.

# -- §2.7 edge range {min,max} span: merged into edges_range_histogram's
# 'span' leg in round 4 (same dense-grid family, one driver slot) --


# -- LLM-pipeline: document chunking + token-budget sequence packing --


# Fixed merge list for the `bpe` leg's cross-engine token counts: the
# DuckDB oracle re-applies these by sequential REPLACE over a
# delimiter-wrapped symbol string ('|sym|' per symbol), which is
# provably equivalent to BPE rank-order encoding BECAUSE the list obeys
# the training-order invariant (every component is a single char or the
# product of a strictly earlier merge — so a later merge can never
# create a new occurrence of an earlier pair) and REPLACE's
# left-to-right non-overlapping scan IS the merge loop's
# all-occurrences pass. Chains deliberately: table/agg/row/key collapse
# to one token; (o,r)+(s,or) exercise product-of-product ranks.
_BPE_FIXED_MERGES = (
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e</w>"),
    ("a", "g"), ("ag", "g</w>"),
    ("r", "o"), ("ro", "w</w>"),
    ("o", "r"), ("s", "or"),
    ("k", "e"), ("ke", "y</w>"),
)
_BPE_N_MERGES = 64  # well under the corpus' 93-merge pair space at every sf


def _chunk_pack_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged training-data-shaping driver row (operators/packing.py +
    sampling.py + bpe.py): `chunk` = sliding 64-token windows with
    8-token overlap (per-chunk md5 content witness), `pack` =
    deterministic offset packing of whole docs into 2048-token sequences
    over 16 portable hash buckets, `shuffle` (r5) = content-stable
    epoch-3 global shuffle into 8 shards — key1 = doc_id, key2 = the
    doc's position in its shard, n_items carries the shard id, so the
    hash compare binds the ENTIRE permutation. Harmonized schema
    (leg, key1, key2, n_tokens, n_items, content_hash, fill_frac).

    BPE legs (r7) — the tokenizer under the hard oracle gate:

    - `bpe` (per doc): n_tokens = the doc's token count under the FIXED
      `_BPE_FIXED_MERGES` list, applied by the real distributed Arrow
      encode path and replicated in DuckDB by the REPLACE chain (an
      independent implementation of the same algebra — one wrong merge
      order, missed occurrence, or end-of-word fusion breaks the hash);
      content_hash = md5 of the TRAINED-model encode⊕decode round trip,
      vs the oracle's directly-computed word stream (binds train +
      encode + the </w> wire format together); n_items = the regex
      word count (oracle-computed, anchors the tokenization itself).
    - `bpe_first` (summary): the trained model's FIRST merge as
      'a b' vs the oracle's weighted argmax adjacent symbol pair
      (count DESC, pair ASC — the training loop's exact tie rule),
      plus merge count == n_merges (the pair space never exhausts
      here) and coverage == 1.0 (max_words uncapped).

    The train (one word-count shuffle + a vocabulary-sized collect +
    the driver merge loop) runs once per build."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.bpe import (
        END_OF_WORD,
        BpeModel,
        bpe_encode,
        bpe_train,
    )
    from mysql_to_s3_spark.operators.packing import chunk_documents, pack_stats
    from mysql_to_s3_spark.operators.sampling import epoch_shuffle
    from mysql_to_s3_spark.operators.text import TOKEN_RE
    from mysql_to_s3_spark.sources.registry import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))

    model = bpe_train(docs, n_merges=_BPE_N_MERGES)
    fixed = BpeModel(merges=_BPE_FIXED_MERGES, coverage=1.0)
    base = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    enc = bpe_encode(bpe_encode(base, model, out_col="__tt__"), fixed, out_col="__tf__")
    decoded = F.rtrim(
        F.replace(F.concat_ws("", F.col("__tt__")), F.lit(END_OF_WORD), F.lit(" "))
    )
    bpe = enc.select(
        F.col("doc_id").cast("bigint").alias("key1"),
        F.size("__tf__").cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0))
        .cast("bigint")
        .alias("n_items"),
        F.md5(decoded).alias("content_hash"),
    )
    # shard-receipt leg (r7): the full write -> manifest -> verify ->
    # read-back lifecycle IN-ROW (the typed_json_roundtrip temp-dir
    # pattern). The per-bucket receipt rows come from _shard_stats_frame
    # over the COMMITTED files, so the oracle hash binds the packer, the
    # dynamic-partition JSON writer, the read-back schema, and the
    # portable md5-prefix sig at once; fill_frac carries the
    # verify_shards verdict (1.0 == manifest matches the re-read, the
    # bounded-contract TRUE the oracle emits as a literal).
    import atexit
    import shutil
    import tempfile

    from mysql_to_s3_spark.pipeline import (
        _shard_stats_frame,
        verify_shards,
        write_training_shards,
    )

    # the temp dir is registered for cleanup at exit
    sdir = tempfile.mkdtemp(prefix="shard_receipt_")
    atexit.register(shutil.rmtree, sdir, ignore_errors=True)
    write_training_shards(docs, sdir, budget=2048, n_buckets=8, manifest=True)
    ok = 0.0 if verify_shards(spark, sdir) else 1.0
    shard = _shard_stats_frame(spark, sdir).select(
        F.col("bucket").cast("bigint").alias("key1"),
        F.col("n_seqs").cast("bigint").alias("key2"),
        F.col("tokens_total").cast("bigint").alias("n_tokens"),
        F.col("n_docs").cast("bigint").alias("n_items"),
        F.col("sig").alias("content_hash"),
        F.lit(ok).alias("fill_frac"),
    )

    # sshard (r10): the STREAMING shard writer under the hard gate —
    # stream_write_training_shards drained availableNow over a 3-chunk
    # doc_id-ordered replay (no pusher: the sink is stateless). Each
    # micro-batch packs independently into batch=<epoch>/bucket=*/ with
    # its own manifest; the leg binds every per-(batch, bucket) receipt
    # (n_docs, n_seqs, tokens_total, the portable md5-prefix sig) PLUS
    # the per-batch verify_shards verdict to an oracle that re-packs
    # each deterministic corpus third through shard_receipt_sql — a
    # wrong batch boundary, a cross-batch sequence, a mis-bucketed doc,
    # or one flipped payload byte all break the row hash.
    def _run_stream_shards():
        import os as _os
        import tempfile as _tempfile

        from mysql_to_s3_spark.pipeline import stream_write_training_shards

        pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
        src = _write_stream_chunks(pdf, None, "shard_stream_")
        out_root = _tempfile.mkdtemp(prefix="shard_stream_out_")
        atexit.register(shutil.rmtree, out_root, ignore_errors=True)
        out = _os.path.join(out_root, "shards")
        schema = spark.read.parquet(src).schema
        from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

        q = stream_write_training_shards(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            out,
            budget=2048,
            n_buckets=8,
            manifest=True,
            checkpoint=_os.path.join(out_root, "ckpt"),
            available_now=True,
        )
        _drain_available_now(q)
        rows = []
        for b in range(3):
            bdir = f"{out}/batch={b}"
            verdict = 1.0 if not verify_shards(spark, bdir) else 0.0
            for r in _shard_stats_frame(spark, bdir).collect():
                rows.append(
                    (
                        b * 8 + int(r["bucket"]),
                        int(r["n_seqs"]),
                        int(r["tokens_total"]),
                        int(r["n_docs"]),
                        r["sig"],
                        verdict,
                    )
                )
        return rows

    sshard_rows = _run_stream_shards()
    sshard = spark.createDataFrame(
        sshard_rows,
        "key1 bigint, key2 bigint, n_tokens bigint, n_items bigint, "
        "content_hash string, fill_frac double",
    )
    a0, b0 = model.merges[0]
    a1, b1 = model.merges[1]
    first = spark.createDataFrame(
        [("bpe_first", len(model.merges), f"{a0} {b0}", float(model.coverage)),
         ("bpe_second", None, f"{a1} {b1}", None)],
        "leg string, n_tokens bigint, content_hash string, fill_frac double",
    )
    chunk = chunk_documents(docs, max_tokens=64, overlap=8).select(
        F.col("doc_id").cast("bigint").alias("key1"),
        F.col("chunk_idx").alias("key2"),
        "n_tokens",
        F.lit(1).cast("bigint").alias("n_items"),
        "content_hash",
    )
    pack = pack_stats(docs, budget=2048, n_buckets=16).select(
        F.col("bucket").cast("bigint").alias("key1"),
        F.col("seq_no").alias("key2"),
        F.col("tokens_total").alias("n_tokens"),
        F.col("n_docs").alias("n_items"),
        "fill_frac",
    )
    shuf = epoch_shuffle(docs, epoch=3, n_shards=8).select(
        F.col("doc_id").cast("bigint").alias("key1"),
        F.col("pos").cast("bigint").alias("key2"),
        F.col("shard").cast("bigint").alias("n_items"),
    )
    # repeat leg (r7): the UP-sampling mixture at 2.45 epochs — two
    # full copies of every doc plus a deterministic per-(id, copy)
    # fractional third, each (doc, copy) a hashed row vs the exact
    # repeat_epochs_sql replica
    from mysql_to_s3_spark.operators.sampling import repeat_epochs

    rep = repeat_epochs(docs, 2.45).select(
        F.col("doc_id").cast("bigint").alias("key1"),
        F.col("epoch_copy").cast("bigint").alias("key2"),
    )
    # dcap (r9 session 2): the per-domain/source cap
    # (sampling.sample_per_key — "at most N docs per domain", the
    # RefinedWeb-style diversity valve) under the hard gate: the kept
    # (doc_id, source) set for n=5 per source must equal the oracle's
    # identical salted-md5 ranking (one wrong bucket, tie-break, or an
    # off-by-one in the rank cut changes the kept set)
    from mysql_to_s3_spark.operators.sampling import sample_per_key

    dcap = sample_per_key(docs, ["source"], n=5).select(
        F.col("doc_id").cast("bigint").alias("key1"),
        F.col("source").alias("content_hash"),
    )
    return {
        "chunk": chunk,
        "pack": pack,
        "shuffle": shuf,
        "repeat": rep,
        "bpe": bpe,
        ("bpe_first", "bpe_second"): first,
        "shard": shard,
        "sshard": sshard,
        "dcap": dcap,
    }


def _bpe_oracle_sql() -> str:
    """DuckDB replica of the `bpe`/`bpe_first`/`bpe_second` legs:
    symbolize each token as '|c1||c2||...||cL</w>|', re-apply the fixed
    merges as a REPLACE chain (token count = |'|'| / 2), md5 the direct
    word stream, and recompute the training loop's first TWO merges —
    the second by applying the first to the symbolized vocabulary and
    recounting adjacent pairs from scratch, which is exactly what the
    trainer's incremental scan(-1)/scan(+1) update must equal. Both
    argmaxes use the exact tie rule (count DESC, pair ASC)."""
    from mysql_to_s3_spark.operators.bpe import END_OF_WORD
    from mysql_to_s3_spark.operators.text import TOKEN_RE

    toks = f"regexp_extract_all(lower(coalesce(text, '')), '{TOKEN_RE}')"
    sym = (
        "'|' || array_to_string(regexp_extract_all(t, '.'), '||') "
        f"|| '{END_OF_WORD}|'"
    )
    s = f"array_to_string(list_transform({toks}, t -> {sym}), ' ')"
    for a, b in _BPE_FIXED_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    wsym = (
        "'|' || array_to_string(regexp_extract_all(word, '.'), '||') "
        f"|| '{END_OF_WORD}|'"
    )

    def _pairs(sym_expr: str) -> str:
        # weighted adjacent symbol pairs of a '|sym|'-wrapped vocabulary
        return f"""
          SELECT ls[i] AS pa, ls[i + 1] AS pb, n FROM (
            SELECT n, ls, unnest(range(1, len(ls))) AS i
            FROM (SELECT n, string_split(trim({sym_expr}, '|'), '||') AS ls
                  FROM wsym)
            WHERE len(ls) >= 2)"""

    merged = (
        "replace(sym, '|' || fm.pa || '||' || fm.pb || '|', "
        "'|' || fm.pa || fm.pb || '|')"
    )
    return f"""
      SELECT 'bpe' AS leg, CAST(doc_id AS BIGINT) AS key1,
             CAST(NULL AS BIGINT) AS key2,
             CAST((length(s) - length(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tokens,
             n_words AS n_items, md5(wstream) AS content_hash,
             CAST(NULL AS DOUBLE) AS fill_frac
      FROM (SELECT doc_id, {s} AS s,
                   array_to_string({toks}, ' ') AS wstream,
                   CAST(len({toks}) AS BIGINT) AS n_words
            FROM documents)
      UNION ALL
      SELECT 'bpe_' || which, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             nt, CAST(NULL AS BIGINT), ch, ff
      FROM (
        WITH wc AS (SELECT w AS word, count(*) AS n
                    FROM (SELECT unnest(regexp_extract_all(lower(text),
                                        '{TOKEN_RE}')) AS w
                          FROM documents)
                    GROUP BY 1),
        wsym AS (SELECT word, n, {wsym} AS sym FROM wc),
        fm AS (SELECT pa, pb FROM ({_pairs("sym")})
               GROUP BY pa, pb ORDER BY sum(n) DESC, pa ASC, pb ASC LIMIT 1),
        wsym2 AS (SELECT w.n, {merged} AS sym2 FROM wsym w CROSS JOIN fm),
        sm AS (SELECT pa, pb FROM (
                 SELECT ls[i] AS pa, ls[i + 1] AS pb, n FROM (
                   SELECT n, ls, unnest(range(1, len(ls))) AS i
                   FROM (SELECT n, string_split(trim(sym2, '|'), '||') AS ls
                         FROM wsym2)
                   WHERE len(ls) >= 2))
               GROUP BY pa, pb ORDER BY sum(n) DESC, pa ASC, pb ASC LIMIT 1)
        SELECT 'first' AS which, CAST({_BPE_N_MERGES} AS BIGINT) AS nt,
               pa || ' ' || pb AS ch, 1.0 AS ff FROM fm
        UNION ALL
        SELECT 'second', CAST(NULL AS BIGINT), pa || ' ' || pb,
               CAST(NULL AS DOUBLE) FROM sm)"""


def _chunk_pack_oracle() -> str:
    from mysql_to_s3_spark.operators.packing import chunk_documents_sql, pack_stats_sql
    from mysql_to_s3_spark.operators.sampling import epoch_shuffle_sql

    from mysql_to_s3_spark.operators.sampling import repeat_epochs_sql, sample_per_key_sql
    from mysql_to_s3_spark.pipeline import shard_receipt_sql

    dcap = sample_per_key_sql("documents", ["source"], n=5)
    chunk = chunk_documents_sql("documents", max_tokens=64, overlap=8)
    pack = pack_stats_sql("documents", budget=2048, n_buckets=16)
    shuf = epoch_shuffle_sql("documents", epoch=3, n_shards=8)
    rep = repeat_epochs_sql("documents", 2.45)
    shard_receipt = shard_receipt_sql("documents", budget=2048, n_buckets=8)
    # sshard: one receipt set per micro-batch — the staged replay cuts
    # the doc_id-ordered corpus at n*i//3 (the _write_stream_chunks
    # boundary arithmetic), and each third re-packs independently
    sshard_batches = "\n      UNION ALL\n".join(
        f"""      SELECT 'sshard' AS leg, {b} * 8 + bucket AS key1,
             n_seqs AS key2, tokens_total AS n_tokens, n_docs AS n_items,
             sig AS content_hash, 1.0 AS fill_frac
      FROM ({shard_receipt_sql(
          f'''(SELECT doc_id, text FROM
               (SELECT doc_id, text,
                       row_number() OVER (ORDER BY doc_id) - 1 AS r,
                       count(*) OVER () AS n
                FROM documents)
               WHERE r >= n * {b} // 3 AND r < n * {b + 1} // 3)''',
          budget=2048, n_buckets=8)})"""
        for b in range(3)
    )
    return f"""
      SELECT 'chunk' AS leg, CAST(doc_id AS BIGINT) AS key1, chunk_idx AS key2,
             n_tokens, CAST(1 AS BIGINT) AS n_items, content_hash,
             CAST(NULL AS DOUBLE) AS fill_frac
      FROM ({chunk})
      UNION ALL
      SELECT 'pack' AS leg, bucket AS key1, seq_no AS key2,
             tokens_total AS n_tokens, n_docs AS n_items,
             CAST(NULL AS VARCHAR) AS content_hash, fill_frac
      FROM ({pack})
      UNION ALL
      SELECT 'shuffle' AS leg, CAST(doc_id AS BIGINT) AS key1,
             CAST(pos AS BIGINT) AS key2, CAST(NULL AS BIGINT) AS n_tokens,
             CAST(shard AS BIGINT) AS n_items,
             CAST(NULL AS VARCHAR) AS content_hash, CAST(NULL AS DOUBLE) AS fill_frac
      FROM ({shuf})
      UNION ALL
      SELECT 'repeat' AS leg, CAST(doc_id AS BIGINT) AS key1,
             CAST(epoch_copy AS BIGINT) AS key2,
             CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS n_items,
             CAST(NULL AS VARCHAR) AS content_hash, CAST(NULL AS DOUBLE) AS fill_frac
      FROM ({rep})
      UNION ALL
      {_bpe_oracle_sql()}
      UNION ALL
      SELECT 'shard' AS leg, bucket AS key1, n_seqs AS key2,
             tokens_total AS n_tokens, n_docs AS n_items,
             sig AS content_hash, 1.0 AS fill_frac
      FROM ({shard_receipt})
      UNION ALL
{sshard_batches}
      UNION ALL
      SELECT 'dcap' AS leg, CAST(doc_id AS BIGINT) AS key1,
             CAST(NULL AS BIGINT) AS key2, CAST(NULL AS BIGINT) AS n_tokens,
             CAST(NULL AS BIGINT) AS n_items, source AS content_hash,
             CAST(NULL AS DOUBLE) AS fill_frac
      FROM ({dcap})"""


_q(
    "text_chunk_pack",
    _chunk_pack_spark,
    _chunk_pack_oracle(),
    ops=("chunk", "pack", "shuffle", "bpe", "repeat", "dcap"),
    verify=("bpe_first", "bpe_second", "shard", "sshard"),
    headline=True,
)


# -- flagship corpus-pipeline composition (pipeline.prepare_corpus) --

_PIPE_CFG = dict(
    min_quality=0.75,
    languages=("en",),
    exact=True,
    near_dup="ngram",
    near_threshold=0.9,
    decontam_threshold=0.8,
)


def _pipeline_prepare_spark(spark: SparkSession, sf_dir: str) -> dict:
    """End-to-end `prepare_corpus` (pipeline.py) as a 2-leg driver row —
    the flagship composition under the hard oracle:

    - `kept`:   every surviving doc with its deterministic split label —
                quality gate (>=0.75) -> language gate (en) -> exact
                dedup -> ngram near-dup cluster removal (0.9 Jaccard,
                min-id keeper) -> benchmark decontamination (0.8
                containment vs the text_decontaminate bench subset) ->
                hash split. Binds every stage: one wrongly-dropped or
                wrongly-kept doc anywhere breaks the hash.
    - `funnel`: per-stage surviving-row counts (the PreparedCorpus.funnel
                diagnostic, built lazily here), vs the oracle's counts of
                the same CTE chain.
    - `sprep` (r10): the STREAMING composition — prepare_corpus_stream
                with the streaming-compatible subset of the same config
                (quality -> language -> stream exact dedup -> stream
                decontaminate -> split; near-dup is refused by design in
                the streaming form, so it is absent from BOTH sides of
                this leg) drained availableNow in-row over a 3-chunk
                ts-ordered replay of the corpus. Binds the surviving
                FINGERPRINT set (one row per fp, count 1): a doc wrongly
                gated, a lost fp, a surviving duplicate, or a wrong
                decontam decision anywhere in the composed stream breaks
                the hash. Fp-level, not id-level, because WHICH copy of
                an equal-fp pair survives stream dedup is intra-batch
                arrival order (same caveat as dedup_exact's `stream`
                leg; all equal-fp docs in the testdata carry byte-equal
                raw text, so every downstream gate decision is
                fp-deterministic — would a dup group ever straddle bench
                membership, the self-pair exclusion could diverge, which
                is a property of the data, not the operator).

    The oracle replicates each stage from the SAME module constants the
    operators use (quality/langid exprs, fp, char-5 shingles, recursive-
    CTE components, containment, hash_split_sql). The Spark side screens
    with hashed (xxhash64) shingles — identical pair decisions to the
    oracle's string shingles barring ~1e-12 64-bit collisions."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.pipeline import CorpusConfig, prepare_corpus
    from mysql_to_s3_spark.sources.registry import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    bench = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 3500))
    cfg = CorpusConfig(splits=_SPLIT_FRACTIONS, **_PIPE_CFG)
    # prepare_corpus is EAGER at build time: the near-dup
    # connected-components rounds run driver-side actions before the
    # row's plan exists (6-10 s warm at sf0.1)
    prep = prepare_corpus(docs, cfg, bench=bench)
    # cache the two expensive boundaries: without this, the near-dup
    # pair join + components run once per leg that contains them (kept +
    # 3 funnel counts) and decontam 3x. Spark's CacheManager substitutes
    # the cached plan as a SUBTREE of every downstream leg, so caching
    # the stage frames accelerates legs built before this loop ran.
    # The cached frames are doc-survivor sets (corpus-linear, tiny).
    for name, sdf in prep.stages:
        if name in ("near_dedup", "decontam"):
            sdf.cache()
    kept = prep.docs.select(
        F.col("doc_id").cast("bigint").alias("key"),
        F.col("split").alias("tag"),
        F.lit(1).cast("bigint").alias("n"),
    )
    funnel = [
        sdf.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(i).cast("bigint").alias("key"), F.lit(name).alias("tag"), "n"
        )
        for i, (name, sdf) in enumerate(prep.stages)
    ]

    def _run_stream_prep():
        import uuid as _uuid

        import pandas as pd

        from mysql_to_s3_spark.pipeline import prepare_corpus_stream
        from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

        bench_rows = [
            (int(r["doc_id"]), r["text"])
            for r in bench.select("doc_id", "text").collect()
        ]
        pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
        pdf["ts"] = (
            pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf["doc_id"], unit="s")
        ).astype("datetime64[us]")
        src = _write_stream_chunks(pdf, pdf.iloc[0:0], "prep_stream_")
        schema = spark.read.parquet(src).schema
        scfg = CorpusConfig(
            min_quality=_PIPE_CFG["min_quality"],
            languages=_PIPE_CFG["languages"],
            exact=_PIPE_CFG["exact"],
            decontam_threshold=_PIPE_CFG["decontam_threshold"],
            splits=_SPLIT_FRACTIONS,
        )
        out = prepare_corpus_stream(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            scfg,
            ts_col="ts",
            bench_rows=bench_rows,
            lateness="365 days",
        )
        name = f"sprep_{_uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        return sorted(
            int(r["doc_id"]) for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
        )

    sprep_ids = _run_stream_prep()
    from mysql_to_s3_spark.operators.text import fingerprint as _fp

    sprep = (
        docs.join(
            F.broadcast(
                spark.createDataFrame([(i,) for i in sprep_ids], "doc_id bigint")
            ),
            "doc_id",
            "left_semi",
        )
        .groupBy(_fp(F.col("text")).alias("tag"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return {"kept": kept, "funnel": funnel, "sprep": sprep}


def _pipeline_prepare_oracle() -> str:
    from mysql_to_s3_spark.operators.sampling import hash_split_sql

    jac = (
        "round(len(list_intersect(a.s, b.s))::DOUBLE / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)"
    )
    q = _PIPE_CFG
    return f"""
    WITH RECURSIVE
    tq AS ({_text_quality_sql()}),
    q1 AS (SELECT d.doc_id, d.text FROM documents d JOIN tq USING (doc_id)
           WHERE tq.quality >= {q["min_quality"]}),
    q2 AS (SELECT q1.* FROM q1 JOIN tq USING (doc_id)
           WHERE tq.lang_guess IN ('{q["languages"][0]}')),
    ded AS (SELECT doc_id, text FROM
              (SELECT *, min(doc_id) OVER (PARTITION BY {_SQL_FP}) AS keeper FROM q2)
            WHERE doc_id = keeper),
    sh AS (SELECT doc_id, {_sql_shingles(5)} AS s FROM ded),
    ndpairs AS (SELECT a.doc_id AS a, b.doc_id AS b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE {jac} >= {q["near_threshold"]}),
    edges AS (SELECT a AS u, b AS v FROM ndpairs UNION SELECT b, a FROM ndpairs),
    reach(u, v) AS (SELECT u, v FROM edges
                    UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
    nd AS (SELECT * FROM ded WHERE doc_id NOT IN
             (SELECT doc_id FROM comp WHERE doc_id != component)),
    bsh AS (SELECT doc_id AS bench_id, {_sql_shingles(5)} AS bs FROM documents
            WHERE doc_id % 7 = 0 AND doc_id < 3500),
    contam AS (SELECT DISTINCT t.doc_id
               FROM (SELECT doc_id, s FROM sh WHERE doc_id IN (SELECT doc_id FROM nd)) t
               JOIN bsh b ON t.doc_id != b.bench_id
               WHERE round(len(list_intersect(t.s, b.bs))::DOUBLE / len(b.bs), 6)
                     >= {q["decontam_threshold"]}),
    kept AS (SELECT doc_id FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    -- sprep: the streaming composition has no near-dup stage, so the
    -- decontam screen runs over the exact-dedup survivors (ded), and
    -- the binding is the surviving fingerprint set (see the Spark-side
    -- docstring for why fp-level, not id-level)
    sded AS (SELECT doc_id, text, {_SQL_FP} AS fp FROM ded),
    scontam AS (SELECT DISTINCT t.doc_id
                FROM (SELECT doc_id, {_sql_shingles(5)} AS s FROM sded) t
                JOIN bsh b ON t.doc_id != b.bench_id
                WHERE round(len(list_intersect(t.s, b.bs))::DOUBLE / len(b.bs), 6)
                      >= {q["decontam_threshold"]})
    SELECT 'kept' AS leg, doc_id AS key,
           {hash_split_sql("doc_id", _SPLIT_FRACTIONS)} AS tag, CAST(1 AS BIGINT) AS n
    FROM kept
    UNION ALL SELECT 'funnel', 0, 'input',      count(*) FROM documents
    UNION ALL SELECT 'funnel', 1, 'quality',    count(*) FROM q1
    UNION ALL SELECT 'funnel', 2, 'language',   count(*) FROM q2
    UNION ALL SELECT 'funnel', 3, 'exact_dedup', count(*) FROM ded
    UNION ALL SELECT 'funnel', 4, 'near_dedup', count(*) FROM nd
    UNION ALL SELECT 'funnel', 5, 'decontam',   count(*) FROM kept
    UNION ALL SELECT 'funnel', 6, 'split',      count(*) FROM kept
    UNION ALL
    SELECT 'sprep', NULL::BIGINT, fp, CAST(1 AS BIGINT)
    FROM sded WHERE doc_id NOT IN (SELECT doc_id FROM scontam)"""


_q(
    "pipeline_prepare",
    _pipeline_prepare_spark,
    _pipeline_prepare_oracle(),
    ops=("kept", "funnel"),
    verify=("sprep",),
    headline=True,
)

# -- update / delete / ingest --


def _update_delete_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.sources.ingest import delete_rows, update_container
    from mysql_to_s3_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    li = update_container(
        li,
        {"set": {"l_quantity": {"add": ["l_quantity", 100]}}, "where": {"eq": {"l_returnflag": "A"}}},
    )
    li = delete_rows(li, {"gt": {"l_quantity": 140}})
    q = {
        "from": "updated",
        "groupby": ["l_returnflag"],
        "select": [
            {"name": "total", "value": "l_quantity", "aggregate": "sum"},
            {"name": "n", "value": ".", "aggregate": "count"},
        ],
    }
    return run(q, spark=spark, containers={"updated": li})


_q(
    "update_delete_container",
    _update_delete_spark,
    """WITH u AS (SELECT l_returnflag,
                         CASE WHEN l_returnflag = 'A' THEN l_quantity + 100
                              ELSE l_quantity END AS q
                  FROM lineitem)
       SELECT l_returnflag, sum(q) AS total, count(*) AS n
       FROM u WHERE NOT q > 140 GROUP BY 1""",
)


def _agg_one_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`one` aggregate (windows.py:76-101): asserts single-valuedness per
    group — n_name is functionally dependent on n_nationkey via the join,
    so `one` succeeds; a multi-valued group would raise. Also hosts the
    first/last/list aggregate driver coverage: first/last over the same
    functionally-dependent column (deterministic regardless of partition
    order), list emitted sorted + '|'-joined (collect order is partition-
    dependent and arrays hash engine-differently)."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run
    from mysql_to_s3_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left"
    ).select("c_custkey", "c_nationkey", "n_name", "c_acctbal")
    df = run(
        {
            "from": "t",
            "groupby": ["c_nationkey"],
            "select": [
                {"name": "nation_name", "value": "n_name", "aggregate": "one"},
                {"name": "first_name", "value": "n_name", "aggregate": "first"},
                {"name": "last_name", "value": "n_name", "aggregate": "last"},
                {"name": "members", "value": "c_custkey", "aggregate": "list"},
                {"name": "n", "value": ".", "aggregate": "count"},
                # per-select `default` (executor._agg_column): max over a
                # conditional that is null for every row in SOME groups
                # (9900 sits near the acctbal ceiling: ~half the groups fire the default at sf0.01) — those groups
                # must emit -1, not null (reference Column.aggregate
                # default semantics)
                {
                    "name": "top_bal",
                    "value": {"when": {"gt": {"c_acctbal": 9900}}, "then": "c_acctbal"},
                    "aggregate": "max",
                    "default": -1,
                },
            ],
        },
        spark=spark,
        containers={"t": joined},
    )
    return df.withColumn("members", F.concat_ws("|", F.sort_array(F.col("members"))))


_q(
    "agg_one_single_valued",
    _agg_one_spark,
    """SELECT c.c_nationkey, any_value(n.n_name) AS nation_name,
              any_value(n.n_name) AS first_name, any_value(n.n_name) AS last_name,
              array_to_string(list_sort(list(c.c_custkey)), '|') AS members,
              count(*) AS n,
              COALESCE(max(CASE WHEN c.c_acctbal > 9900 THEN c.c_acctbal END), -1)
                  AS top_bal
       FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY 1""",
)


def _ingest_widening_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening lattice: int+float -> number; +string -> string;
    scalar+array -> array(widened); field union across docs."""
    from mysql_to_s3_spark.sources.ingest import ingest_docs

    from pyspark.sql import functions as F

    docs = [
        {"id": 1, "a": 1, "b": True, "tags": "x"},
        {"id": 2, "a": 2.5, "c": "hello"},
        {"id": 3, "a": 7, "b": False, "tags": ["y", "z"]},
    ]
    df = ingest_docs(spark, docs).select("id", "a", "b", "c", "tags")
    # array cells hash differently between Spark/Arrow and DuckDB/numpy
    # (the r02 agg_union_set lesson) — emit the widened array as a
    # representation-free joined string, keeping NULL distinct from [].
    return df.withColumn(
        "tags", F.when(F.col("tags").isNotNull(), F.concat_ws("|", F.col("tags")))
    )


_q(
    "ingest_type_widening",
    _ingest_widening_spark,
    # a widens integer->number; tags widens scalar->array(string)
    # decimal literals in VALUES fetch as Decimal; a is a widened NUMBER
    # (double) on the Spark side. tags joined to a string on both sides.
    """SELECT id, CAST(a AS DOUBLE) AS a, b, c,
              array_to_string(tags, '|') AS tags
       FROM (VALUES
         (1, 1.0, TRUE,  CAST(NULL AS VARCHAR), ['x']),
         (2, 2.5, NULL,  'hello',               CAST(NULL AS VARCHAR[])),
         (3, 7.0, FALSE, NULL,                  ['y', 'z'])
       ) AS t(id, a, b, c, tags)""",
)

# -- format shaping round-trips (list2table/list2cube, convert.py:156,174):
# shape driver-side, rebuild a DataFrame so the oracle can verify layout --


def _format_table_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged 3-leg result-shaping driver row (r5 merge of the former
    format_cube_2d row — same format-roundtrip family, one driver slot;
    the multi-leg pattern of edges_range_histogram). `table` =
    list2table header/data round-trip; `cube1d` = 1-D cube with parts
    re-emitted in declaration order and data['n'] a coordinate-indexed
    vector; `cube2d` = 2-D cube with data['n'] a (edge0, edge1) matrix.
    All flattened to (leg, k1, k2, n); table's n-key is k1/k2 the group
    keys, cube1d has k2 NULL."""
    from mysql_to_s3_spark.plans.formats import run_formatted

    shaped = run_formatted(
        {
            "from": "lineitem",
            "groupby": ["l_returnflag", "l_linestatus"],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "format": "table",
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    assert shaped["meta"]["format"] == "table"
    assert shaped["header"] == ["l_returnflag", "l_linestatus", "n"]
    rows = [("table", r[0], r[1], r[2]) for r in shaped["data"]]
    one = run_formatted(
        {
            "from": "customer",
            "edges": [
                {
                    "name": "seg",
                    "value": "c_mktsegment",
                    "allowNulls": False,
                    "domain": {"type": "set", "partitions": ["BUILDING", "AUTOMOBILE", "MACHINERY"]},
                }
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "format": "cube",
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    assert one["meta"]["format"] == "cube"
    segs = [p["value"] for p in one["edges"][0]["domain"]["partitions"]]
    rows += [("cube1d", s, None, one["data"]["n"][i]) for i, s in enumerate(segs)]
    two = run_formatted(
        {
            "from": "lineitem",
            "edges": [
                {
                    "name": "rf",
                    "value": "l_returnflag",
                    "allowNulls": False,
                    "domain": {"type": "set", "partitions": ["A", "N", "R"]},
                },
                {
                    "name": "ls",
                    "value": "l_linestatus",
                    "allowNulls": False,
                    "domain": {"type": "set", "partitions": ["F", "O"]},
                },
            ],
            "select": [{"name": "n", "value": ".", "aggregate": "count"}],
            "format": "cube",
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    rfs = [p["value"] for p in two["edges"][0]["domain"]["partitions"]]
    lss = [p["value"] for p in two["edges"][1]["domain"]["partitions"]]
    rows += [
        ("cube2d", rf, ls, two["data"]["n"][i][j])
        for i, rf in enumerate(rfs)
        for j, ls in enumerate(lss)
    ]
    return spark.createDataFrame(rows, "leg string, k1 string, k2 string, n bigint")


_q(
    "format_table_roundtrip",
    _format_table_spark,
    """WITH agg AS (SELECT l_returnflag AS k1, l_linestatus AS k2, count(*) AS n
                    FROM lineitem
                    WHERE l_returnflag IN ('A','N','R') AND l_linestatus IN ('F','O')
                    GROUP BY 1, 2),
            dense AS (SELECT k1, k2 FROM (VALUES ('A'),('N'),('R')) r(k1)
                      CROSS JOIN (VALUES ('F'),('O')) l(k2))
       SELECT 'table' AS leg, l_returnflag AS k1, l_linestatus AS k2, count(*) AS n
       FROM lineitem GROUP BY 2, 3
       UNION ALL
       SELECT 'cube1d' AS leg, c_mktsegment AS k1, CAST(NULL AS VARCHAR) AS k2,
              count(*) AS n
       FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
       GROUP BY 2
       UNION ALL
       SELECT 'cube2d' AS leg, dense.k1 AS k1, dense.k2 AS k2,
              CAST(coalesce(agg.n, 0) AS BIGINT) AS n
       FROM dense LEFT JOIN agg USING (k1, k2)""",
    ops=("table", "cube1d", "cube2d"),
)


def _counters_batch_keys_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Incremental-batch counter chain (reference counter.py:20,36,59) as
    distributed columns, two tagged legs: `day` = day tumbling bucket x
    500-row sub-batch over events (tiebroken by event_id so the row order
    is total); `month` = CALENDAR-month buckets x 400 over orders
    (DurationCounter with a month duration keeps months separate from
    seconds, counter.py:67-79 + mo_times).

    `stream` leg (r8): the STREAMING analog under the hard gate — a real
    Structured Streaming query (stream_batch_counts: watermarked
    event-time day windows) drains the events table availableNow from
    ts-ordered chunk files plus a far-future watermark pusher. Append
    mode emits exactly the finalized real buckets (the pusher's own
    window never finalizes, so it self-excludes), and the driver hash
    binds each bucket's id, its per-bucket COUNT, and its MIN event time
    to the batch SQL — the first oracle-gated row for the streaming
    path (previously property-tested only). The drain runs once per
    build."""
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sources.registry import load_table
    from mysql_to_s3_spark.streaming.counters import batch_key_columns

    events = load_table(spark, sf_dir, "events")
    day = batch_key_columns(
        events, "ts", start="2024-01-01", batch_spec=["day", 500], tiebreak_cols=["event_id"]
    ).select(
        F.col("event_id").alias("id"),
        F.col("__batch0__").alias("batch0"),
        F.col("__batch1__").alias("batch1"),
        F.col("__batch2__").cast("bigint").alias("batch2"),
    )
    orders = load_table(spark, sf_dir, "orders")
    month = batch_key_columns(
        orders, "o_orderdate", start="1995-01-01", batch_spec=["month", 400], tiebreak_cols=["o_orderkey"]
    ).select(
        F.col("o_orderkey").alias("id"),
        F.col("__batch0__").alias("batch0"),
        F.col("__batch1__").alias("batch1"),
        F.col("__batch2__").cast("bigint").alias("batch2"),
    )

    import atexit as _atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    _DAY_START_EPOCH = 1_704_067_200  # 2024-01-01 UTC (the day-leg start)

    def _run_stream_counts():
        import pandas as pd

        from mysql_to_s3_spark.streaming.stream_extract import (
            read_parquet_stream,
            stream_batch_counts,
        )

        root = _tempfile.mkdtemp(prefix="counters_stream_")
        _atexit.register(_shutil.rmtree, root, ignore_errors=True)
        src = _os.path.join(root, "src")
        _os.makedirs(src)
        pdf = events.select("event_id", "ts").orderBy("ts", "event_id").toPandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        n = len(pdf)
        cuts = [0, n // 3, 2 * n // 3, n]
        t0 = None
        # ts-ordered chunks: with lateness 0s nothing can arrive behind
        # the watermark, so the drained counts are exactly the batch ones
        for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
            p = f"{src}/c{i:02d}.parquet"
            pdf.iloc[a:b].to_parquet(p)
            t0 = t0 if t0 is not None else _os.path.getmtime(p)
            _os.utime(p, (t0 + 10 * i, t0 + 10 * i))
        pusher = pd.DataFrame(
            {"event_id": [-1],
             "ts": pd.to_datetime(["2030-01-01"]).astype("datetime64[us]")}
        )
        p = f"{src}/zz_pusher.parquet"
        pusher.to_parquet(p)
        _os.utime(p, (t0 + 40, t0 + 40))

        schema = spark.read.parquet(src).schema
        sdf = read_parquet_stream(spark, src, schema, max_files_per_trigger=1)
        counts = stream_batch_counts(sdf, "ts", "day")
        name = f"counters_stream_{_uuid.uuid4().hex[:8]}"
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_available_now(q)
        rows = spark.sql(
            f"""SELECT CAST(floor((CAST(bucket_start AS DOUBLE) - {_DAY_START_EPOCH})
                             / 86400) AS BIGINT) AS b0,
                       CAST(floor(CAST(first_ts AS DOUBLE)) AS BIGINT) AS ft,
                       CAST(n AS BIGINT) AS n
                FROM {name}"""
        ).collect()
        return [(int(r["b0"]), int(r["ft"]), int(r["n"])) for r in rows]

    srows = _run_stream_counts()
    stream_leg = spark.createDataFrame(srows, "batch0 bigint, batch1 bigint, batch2 bigint")
    return {"day": day, "month": month, "stream": stream_leg}


_q(
    "counters_batch_keys",
    _counters_batch_keys_spark,
    # month leg: calendar months elapsed since the month-floored start
    # (start is a month boundary, so boundary-count == full-months-elapsed)
    """
    WITH b AS (
      SELECT event_id, ts,
             CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400) AS BIGINT) AS b0,
             row_number() OVER (
               PARTITION BY CAST(floor((epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400) AS BIGINT)
               ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ),
    mb AS (
      SELECT o_orderkey, o_orderdate,
             CAST(datediff('month', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS b0
      FROM orders
    ), mr AS (
      SELECT o_orderkey, b0,
             row_number() OVER (PARTITION BY b0 ORDER BY o_orderdate, o_orderkey) - 1 AS rn
      FROM mb
    )
    SELECT 'day' AS leg, event_id AS id,
           b0 AS batch0,
           CAST(floor(rn / 500) AS BIGINT) AS batch1,
           CAST(rn % 500 AS BIGINT) AS batch2
    FROM b
    UNION ALL
    SELECT 'month' AS leg, o_orderkey AS id, b0 AS batch0,
           CAST(floor(rn / 400) AS BIGINT) AS batch1,
           CAST(rn % 400 AS BIGINT) AS batch2
    FROM mr
    UNION ALL
    SELECT 'stream' AS leg, NULL AS id, b0 AS batch0,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS batch1,
           CAST(count(*) AS BIGINT) AS batch2
    FROM b GROUP BY b0""",
    ops=("day", "month", "stream"),
    headline=True,
)


_q(
    "setop_from_subquery",
    {
        "from": {
            "from": "lineitem",
            "groupby": ["l_orderkey"],
            "select": [{"name": "qty", "value": "l_quantity", "aggregate": "sum"}],
        },
        "where": {"gte": {"qty": 300}},
        "select": ["l_orderkey", "qty"],
        "sort": ["l_orderkey"],
        "limit": 10000,
    },
    """SELECT l_orderkey, qty FROM (
         SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem GROUP BY 1)
       WHERE qty >= 300 ORDER BY l_orderkey LIMIT 10000""",
)


def _window_trimmed_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.executor import run

    out = run(
        {
            "from": "lineitem",
            "where": {"lt": {"l_orderkey": 300}},
            "window": [
                {
                    "name": "st",
                    "value": "l_quantity",
                    "aggregate": "stats",
                    "middle": 0.6,
                    "edges": ["l_orderkey"],
                }
            ],
            "select": ["l_orderkey", "l_linenumber", "l_quantity", "st"],
            "sort": ["l_orderkey", "l_linenumber", "l_quantity"],
            "limit": 10000,
        },
        spark=spark,
        sf_dir=sf_dir,
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("st.count").alias("tcnt"),
        F.round(F.col("st.avg"), 6).alias("tav"),
        F.round(F.col("st.median"), 6).alias("tmed"),
    )


_q(
    "window_trimmed_stats",
    _window_trimmed_spark,
    # per-partition trimmed stats: drop ceil(n*0.2) from each end of the
    # sorted partition samples, aggregate the middle slice
    """WITH g AS (
         SELECT l_orderkey, list_sort(list(l_quantity)) AS l
         FROM lineitem WHERE l_orderkey < 300 GROUP BY 1),
       t AS (
         SELECT l_orderkey,
                CASE WHEN 2 * CAST(ceil(len(l) * 0.2) AS INT) < len(l)
                     THEN l[(CAST(ceil(len(l) * 0.2) AS INT) + 1):(len(l) - CAST(ceil(len(l) * 0.2) AS INT))]
                     ELSE [] END AS m
         FROM g)
       SELECT li.l_orderkey, li.l_linenumber, li.l_quantity,
              CAST(len(m) AS BIGINT) AS tcnt,
              round(list_avg(m), 6) AS tav,
              round(CASE WHEN len(m) = 0 THEN NULL
                         WHEN (len(m) - 1) % 2 = 0 THEN m[(len(m) - 1) // 2 + 1]
                         ELSE (m[(len(m) - 1) // 2 + 1] + m[(len(m) - 1) // 2 + 2]) / 2.0
                    END, 6) AS tmed
       FROM lineitem li JOIN t USING (l_orderkey)
       WHERE li.l_orderkey < 300
       ORDER BY li.l_orderkey, li.l_linenumber, li.l_quantity LIMIT 10000""",
)


def _typed_json_roundtrip_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged 2-leg sink round-trip row — both legs write through a
    distributed mapInPandas sink to a temp dir IN-ROW, read the lines
    back, and emit scalars under the driver's value compare:

    - `typed`: ES typed-JSON wire format (sinks/typed_json.py) —
      encode -> decode, scalar fields compared verbatim.
    - `jsonl` (r6): the plain JSON-lines extract sink
      (sinks/json_sink.py — the reference's S3 document path,
      extract.py:240-242 / elasticsearch.py:939-986 parity). The leg
      hard-verifies the scrub semantics cross-engine: null AND ""
      both drop their key (`xs` null exactly when the oracle CASE
      says so), a 1-element array collapses to its scalar while a
      2-element array stays a list (`shape` == 'str/list2'), a
      whole-valued float is minimized to an int on the wire (`xl`),
      and the etl lineage envelope survives verbatim (`etl_id`).
    - `esbulk_a` / `esbulk_d` (r6): the ES `_bulk` NDJSON body
      (sinks/es_bulk.py write_bulk_lines — reference
      elasticsearch.py:281-321). One bulk body written in-row, read
      back line-by-line: every action line's `_id` lands in
      `esbulk_a` (the multiset must equal the order keys — each doc
      got exactly one action line) and every typed doc line untypes
      back to its scalars in `esbulk_d`."""
    import atexit as _ax
    import json as _json
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from mysql_to_s3_spark.sinks.json_sink import etl_envelope, write_json_lines
    from mysql_to_s3_spark.sinks.typed_json import untyped, write_typed_json_lines
    from mysql_to_s3_spark.sources.registry import load_table

    def _tmpdir(prefix: str) -> str:
        # per-invocation sink dirs: registered for cleanup so repeated
        # bench iterations never accumulate under /tmp
        d = tempfile.mkdtemp(prefix=prefix)
        _ax.register(_sh.rmtree, d, ignore_errors=True)
        return d

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)

    # --- typed leg -------------------------------------------------------
    df = orders.select(
        F.struct(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        ).alias("fact")
    )
    out = _tmpdir("typed_json_")
    write_typed_json_lines(df, out, "fact")

    def parse_typed(batches):
        import pandas as pd

        for pdf in batches:
            docs = [untyped(_json.loads(v)) for v in pdf["value"]]
            yield pd.DataFrame(
                {
                    "ok": [d["ok"] for d in docs],
                    "status": [d["status"] for d in docs],
                    "price": [d["price"] for d in docs],
                }
            )

    typed = spark.read.text(out).mapInPandas(
        parse_typed, "ok bigint, status string, price double"
    )

    # --- jsonl leg: scrub + collapse + minimize + etl envelope -----------
    jdf = orders.select(
        F.struct(
            F.col("o_orderkey").alias("ok"),
            # null (ok%3=0) and "" (ok%3=1) must BOTH scrub to key-absent
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string"))
            .when(F.col("o_orderkey") % 3 == 1, F.lit(""))
            .otherwise(F.col("o_orderstatus"))
            .alias("cmt"),
            F.array(F.col("o_orderpriority")).alias("tags"),
            F.array(F.col("o_orderpriority"), F.col("o_orderstatus")).alias("tags2"),
            # whole-valued double -> wire int (mo_json minimal numbers)
            F.floor(F.col("o_totalprice")).cast("double").alias("xi"),
        ).alias("fact")
    )
    jout = _tmpdir("jsonl_sink_")
    write_json_lines(
        jdf, jout, "fact", etl=etl_envelope(7, source={"table": "orders"})
    )

    def parse_jsonl(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for v in pdf["value"]:
                w = _json.loads(v)
                d = w["fact"]
                t, t2, xi = d.get("tags"), d.get("tags2"), d.get("xi")
                rows.append(
                    {
                        "ok": d["ok"],
                        "xs": d.get("cmt"),
                        "shape": (
                            ("str" if isinstance(t, str) else type(t).__name__)
                            + "/"
                            + (
                                f"list{len(t2)}"
                                if isinstance(t2, list)
                                else type(t2).__name__
                            )
                        ),
                        # the wire must carry an int, not 1234.0
                        "xl": xi if isinstance(xi, int) else None,
                        "etl_id": w["etl"]["id"],
                    }
                )
            yield pd.DataFrame(rows, columns=["ok", "xs", "shape", "xl", "etl_id"])

    jsonl = spark.read.text(jout).mapInPandas(
        parse_jsonl, "ok bigint, xs string, shape string, xl bigint, etl_id bigint"
    )

    # --- esbulk legs: action/doc NDJSON pairs ----------------------------
    from mysql_to_s3_spark.sinks.es_bulk import write_bulk_lines

    bdf = orders.select(
        F.struct(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        ).alias("fact"),
        F.col("o_orderkey").alias("__id__"),
    )
    bout = _tmpdir("es_bulk_")
    write_bulk_lines(bdf, bout, "fact", typed=True)

    def parse_bulk(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for v in pdf["value"]:
                d = _json.loads(v)
                if set(d) == {"index"}:  # action line
                    rows.append(
                        {"leg": "esbulk_a", "ok": d["index"]["_id"]}
                    )
                else:
                    u = untyped(d)
                    rows.append(
                        {
                            "leg": "esbulk_d",
                            "ok": u["ok"],
                            "status": u["status"],
                            "price": u["price"],
                        }
                    )
            yield pd.DataFrame(rows, columns=["leg", "ok", "status", "price"])

    esbulk = spark.read.text(bout).mapInPandas(
        parse_bulk, "leg string, ok bigint, status string, price double"
    )
    return {"typed": typed, "jsonl": jsonl, ("esbulk_a", "esbulk_d"): esbulk}


_q(
    "typed_json_roundtrip",
    _typed_json_roundtrip_spark,
    """SELECT 'typed' AS leg, o_orderkey AS ok, o_orderstatus AS status,
              o_totalprice AS price, CAST(NULL AS VARCHAR) AS xs,
              CAST(NULL AS VARCHAR) AS shape, CAST(NULL AS BIGINT) AS xl,
              CAST(NULL AS BIGINT) AS etl_id
       FROM orders WHERE o_orderkey < 100
       UNION ALL
       SELECT 'jsonl', o_orderkey, NULL, NULL,
              CASE WHEN o_orderkey % 3 <= 1 THEN NULL ELSE o_orderstatus END,
              'str/list2', CAST(floor(o_totalprice) AS BIGINT), 7
       FROM orders WHERE o_orderkey < 100
       UNION ALL
       SELECT 'esbulk_a', o_orderkey, NULL, NULL, NULL, NULL, NULL, NULL
       FROM orders WHERE o_orderkey < 100
       UNION ALL
       SELECT 'esbulk_d', o_orderkey, o_orderstatus, o_totalprice,
              NULL, NULL, NULL, NULL
       FROM orders WHERE o_orderkey < 100
       ORDER BY leg, ok""",
    ops=("typed", "jsonl", "esbulk_a", "esbulk_d"),
    headline=True,
)


def _temporal_events_spark(spark: SparkSession, sf_dir: str) -> dict:
    """Tagged 5-leg temporal-analytics row over the events table —
    beyond-reference operators (operators/joins.py, sessions.py), a
    HARD driver row since r5 (slot freed by the format_table/cube merge):

    - `asof`:   per purchase, latest prior signup value (ASOF JOIN;
                deterministic under (user_id, ts) quote ties via
                quote_tiebreak='sv', mirrored by a max() pre-agg in the
                DuckDB oracle)
    - `asoff`:  the FORWARD direction (r6): per purchase, the earliest
                following signup value — DuckDB's ASOF JOIN with the
                inequality flipped (`p.ts <= q.ts`)
    - `asofn`:  the NEAREST direction (r7): whichever of the two is
                closer in time, ties to backward (the pandas
                merge_asof convention) — the oracle takes the
                least-distance of its own backward/forward ASOF
                matches with a strict `<` on the forward side
    - `asoft`:  backward with a 2-day TOLERANCE (r7): the match nulls
                out when it is farther than the tolerance on its own
                side — the oracle CASEs the same inclusive bound onto
                its backward ASOF match (the 2-day horizon keeps ~60%
                of matches at this corpus, so both branches are live)
    - `range`:  each event resolved into its session interval
    - `sess`:   per-session rollup (start/end/n_events)
    - `funnel`: per-user greedy signup->click->purchase timestamps
    - `fwin`:   time-boxed funnel (funnel_within, 3 days) — converted +
                earliest completing start, vs a triple-self-join EXISTS
                oracle
    - `sasof` (r9): the STREAMING backward as-of join
                (operators/joins.stream_asof_join) under the hard gate —
                a real availableNow drain IN-ROW over a 3-chunk replay
                of the events corpus, its emitted (probe, asof_ts,
                value) rows bound to the SAME DuckDB ASOF oracle as the
                batch `asof` leg (plus the match timestamp, which the
                batch leg doesn't expose). Quotes are pre-aggregated to
                max(value) per (user, ts) so fold-order ties cannot
                occur (the batch leg's quote_tiebreak, applied upstream).
    - `sfun` (r9): the STREAMING greedy funnel
                (operators/sessions.stream_funnel) under the hard gate —
                drained the same way; each completed funnel's THREE step
                timestamps bind to the batch funnel oracle (t1/t2 carry
                steps 1 and 3; x carries step 2 as exact epoch-µs).
    - `ssess` (r9): STREAMING sessionization
                (operators/sessions.stream_session_stats — the native
                session_window aggregate) drained over the same staged
                replay; every finalized session's (start, last-event,
                n_events) binds to the batch `sess` oracle. Boundary
                note: the native window SPLITS at an exactly-gap-sized
                step where the batch op merges — no µs-resolution event
                pair in this corpus sits on that knife edge (verified at
                all three SFs by the hash itself).
    - `sfwdt` / `snear` (r9): the tolerance-bounded streaming as-of
                directions (operators/joins.stream_asof_join_forward,
                direction=forward|nearest, 2-day tolerance) over the
                same staged source — earliest-following-in-horizon /
                closer-of-the-two-ties-backward, each bound to a DuckDB
                replica that CASEs the same horizon onto its own
                backward/forward ASOF matches.
    - `sfwin` (r9): the time-boxed streaming funnel
                (operators/sessions.stream_funnel_within, 3 days) —
                earliest completing start per converted user, the batch
                `fwin` oracle's converted branch.
    - `srange` (r9): the NATIVE stream-stream interval join
                (operators/joins.stream_interval_join) — the events
                stream joined to a staged session-intervals stream,
                bound to the batch `range` containment oracle. With
                these, EVERY streaming temporal operator (backward/
                forward/nearest as-of, interval join, greedy and
                time-boxed funnels, sessions) is under the hard gate.

    Drain determinism: both streams run with a lateness HORIZON wider
    than the corpus' 30-day span and a far-future watermark pusher, so
    no state can fold or expire mid-run — every key buffers its whole
    history and folds ONCE, in event-time order, at the final timeout
    flush. That makes the drained output independent of within-batch
    arrival order (the property the operators' hypothesis suites check
    under random permutations — here it makes the oracle hash exact).
    The drain runs once per build.

    All batch legs read ONE cached scan of the events table instead of
    five parquet scans.
    """
    from pyspark.sql import functions as F

    from mysql_to_s3_spark.operators.joins import interval_join
    from mysql_to_s3_spark.operators.sessions import funnel, funnel_within, session_stats
    from mysql_to_s3_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").cache()
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    quote = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("sv")
    )
    # r10 optimization (guide §2.4): the four directional as-of legs
    # differ only in sort order / tolerance arithmetic, so they are
    # computed in ONE union+window pass (1 Exchange + 2 window sorts +
    # an explode) instead of four independent union+window plans (4
    # Exchanges, 5 sorts). Leg-for-leg row equality with the four
    # separate asof_join calls is pinned by tests/test_joins.py.
    from mysql_to_s3_spark.operators.joins import asof_join_multi

    asof4 = asof_join_multi(
        probe,
        quote,
        by=["user_id"],
        value_cols=["sv"],
        quote_tiebreak="sv",
        specs=[
            ("asof", "backward", None),
            ("asoff", "forward", None),
            ("asofn", "nearest", None),
            ("asoft", "backward", "2 days"),
        ],
    ).cache().select(
        F.col("leg"),
        F.col("event_id").alias("a"),
        F.col("user_id").alias("b"),
        F.col("ts").alias("t1"),
        F.col("sv").cast("double").alias("x"),
    )
    # cached (r10): sess feeds THREE consumers (the sess leg, the
    # interval-join probe resolution, and the srange stream staging) —
    # one window pass instead of three
    sess = session_stats(ev, by=["user_id"], gap="30 minutes").cache()
    rng = interval_join(
        ev.select("event_id", "user_id", "ts"),
        sess.select(
            "user_id",
            F.col("session_start").alias("start"),
            F.col("session_end").alias("end"),
            F.col("session_seq").alias("sq"),
        ),
        by=["user_id"],
        value_cols=["sq"],
        granularity_secs=1800,
    ).select(
        F.col("event_id").alias("a"),
        F.col("sq").alias("b"),
        F.col("ts").alias("t1"),
    )
    sessrow = sess.select(
        F.col("user_id").alias("a"),
        F.col("session_seq").alias("b"),
        F.col("session_start").alias("t1"),
        F.col("session_end").alias("t2"),
        F.col("n_events").cast("double").alias("x"),
    )
    fn = funnel(
        ev,
        by=["user_id"],
        steps=[F.col("event_type") == t for t in ("signup", "click", "purchase")],
    ).select(
        F.col("user_id").alias("a"),
        F.col("step_1_ts").alias("t1"),
        F.col("step_3_ts").alias("t2"),
        F.col("converted").cast("double").alias("x"),
    )
    fw = funnel_within(
        ev,
        by=["user_id"],
        steps=[F.col("event_type") == t for t in ("signup", "click", "purchase")],
        within="3 days",
    ).select(
        F.col("user_id").alias("a"),
        F.col("start_ts").alias("t1"),
        F.col("converted").cast("double").alias("x"),
    )
    def _run_stream_temporal():
        import uuid as _uuid

        import pandas as pd

        from mysql_to_s3_spark.operators.joins import stream_asof_join
        from mysql_to_s3_spark.operators.sessions import stream_funnel
        from mysql_to_s3_spark.streaming.stream_extract import read_parquet_stream

        _PUSHER_UID = -(10**9)
        lateness = "120 days"  # > the 30-day corpus span: buffer-then-flush
        pdf = (
            ev.select("event_id", "user_id", "ts", "event_type", "value")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pusher_ts = pd.to_datetime(["2030-01-01"]).astype("datetime64[us]")

        # --- sasof: probes = purchases (carrying event_id), quotes =
        # max(value) per (user, ts) signup — the batch leg's
        # quote_tiebreak='sv' applied UPSTREAM so equal-ts fold ties
        # cannot occur and the drain is arrival-order-independent
        pur = pdf[pdf.event_type == "purchase"][["event_id", "user_id", "ts"]].copy()
        pur["etype"] = "p"
        pur["sv"] = float("nan")
        qm = (
            pdf[pdf.event_type == "signup"]
            .groupby(["user_id", "ts"], as_index=False)["value"]
            .max()
            .rename(columns={"value": "sv"})
        )
        qm["event_id"] = -1
        qm["etype"] = "q"
        cols = ["event_id", "user_id", "ts", "etype", "sv"]
        asrc_pdf = (
            pd.concat([pur[cols], qm[cols]], ignore_index=True)
            .sort_values(["ts", "etype", "event_id"])
            .reset_index(drop=True)
        )
        apush = pd.DataFrame(
            {"event_id": [-1], "user_id": [_PUSHER_UID], "ts": pusher_ts,
             "etype": ["q"], "sv": [0.0]}
        )
        asrc = _write_stream_chunks(asrc_pdf, apush, "temporal_sasof_")
        aschema = spark.read.parquet(asrc).schema
        aout = stream_asof_join(
            read_parquet_stream(spark, asrc, aschema, max_files_per_trigger=1),
            by=["user_id"],
            probe_when=F.col("etype") == "p",
            quote_when=F.col("etype") == "q",
            value_cols=["sv"],
            probe_id_col="event_id",
            lateness=lateness,
        )
        aname = f"sasof_{_uuid.uuid4().hex[:8]}"
        q = (
            aout.writeStream.format("memory").queryName(aname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        asof_rows = [
            (int(r["event_id"]), int(r["user_id"]), r["ts"], r["asof_ts"],
             None if r["sv"] is None else float(r["sv"]))
            for r in spark.sql(f"SELECT * FROM {aname}").collect()
            if r["user_id"] != _PUSHER_UID
        ]

        # --- sfwdt / snear: the tolerance-bounded streaming directions
        # (operators/joins.stream_asof_join_forward) over the SAME staged
        # source — a probe is decided once the watermark passes
        # ts + tolerance, which here happens at the final timeout flush
        from mysql_to_s3_spark.operators.joins import stream_asof_join_forward

        def _drain_directional(direction: str) -> list:
            dout = stream_asof_join_forward(
                read_parquet_stream(spark, asrc, aschema, max_files_per_trigger=1),
                by=["user_id"],
                probe_when=F.col("etype") == "p",
                quote_when=F.col("etype") == "q",
                value_cols=["sv"],
                tolerance="2 days",
                probe_id_col="event_id",
                lateness=lateness,
                direction=direction,
            )
            dname = f"s{direction[:4]}_{_uuid.uuid4().hex[:8]}"
            dq = (
                dout.writeStream.format("memory").queryName(dname)
                .outputMode("append").trigger(availableNow=True).start()
            )
            _drain_available_now(dq)
            return [
                (int(r["event_id"]), int(r["user_id"]), r["ts"], r["asof_ts"],
                 None if r["sv"] is None else float(r["sv"]))
                for r in spark.sql(f"SELECT * FROM {dname}").collect()
                if r["user_id"] != _PUSHER_UID
            ]

        fwd_rows = _drain_directional("forward")
        near_rows = _drain_directional("nearest")

        # --- sfun: the raw event replay; the pusher's event_type matches
        # no step (mask 0), it only advances the watermark
        fsrc_pdf = pdf[["event_id", "user_id", "ts", "event_type"]]
        fpush = pd.DataFrame(
            {"event_id": [-1], "user_id": [_PUSHER_UID], "ts": pusher_ts,
             "event_type": ["none"]}
        )
        fsrc = _write_stream_chunks(fsrc_pdf, fpush, "temporal_sfun_")
        fschema = spark.read.parquet(fsrc).schema
        fout = stream_funnel(
            read_parquet_stream(spark, fsrc, fschema, max_files_per_trigger=1),
            by=["user_id"],
            steps=[F.col("event_type") == t for t in ("signup", "click", "purchase")],
            lateness=lateness,
        )
        fname = f"sfun_{_uuid.uuid4().hex[:8]}"
        q = (
            fout.writeStream.format("memory").queryName(fname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        fun_rows = [
            (int(r["user_id"]), r["step_1_ts"], r["step_2_ts"], r["step_3_ts"])
            for r in spark.sql(f"SELECT * FROM {fname}").collect()
            if r["user_id"] != _PUSHER_UID
        ]

        # --- sfwin: the time-boxed streaming funnel over the same raw
        # replay — a start is judged once the watermark passes
        # start+within, which here happens at the final flush; emits the
        # EARLIEST completing start per key (the batch fwin semantics)
        from mysql_to_s3_spark.operators.sessions import stream_funnel_within

        fwout = stream_funnel_within(
            read_parquet_stream(spark, fsrc, fschema, max_files_per_trigger=1),
            by=["user_id"],
            steps=[F.col("event_type") == t for t in ("signup", "click", "purchase")],
            within="3 days",
            lateness=lateness,
        )
        fwname = f"sfwin_{_uuid.uuid4().hex[:8]}"
        q = (
            fwout.writeStream.format("memory").queryName(fwname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        fwin_rows = [
            (int(r["user_id"]), r["start_ts"])
            for r in spark.sql(f"SELECT * FROM {fwname}").collect()
            if r["user_id"] != _PUSHER_UID
        ]

        # --- srange: the NATIVE stream-stream interval join — events
        # stream joined to a staged session-intervals stream. Inner-join
        # matches emit as both sides arrive (no watermark gate), and the
        # wide lateness keeps both state sides un-evicted for the whole
        # drain, so every containment match lands; max_span is set past
        # the corpus span (the bound exists for real deployments' state
        # watermark — here the drain ends first)
        from mysql_to_s3_spark.operators.joins import stream_interval_join

        iv_pdf = (
            sess.select(
                "user_id",
                F.col("session_start").alias("start"),
                F.col("session_end").alias("end"),
                F.col("session_seq").alias("sq"),
            )
            .orderBy("start", "user_id", "sq")
            .toPandas()
        )
        for c in ("start", "end"):
            iv_pdf[c] = iv_pdf[c].astype("datetime64[us]")
        ivsrc = _write_stream_chunks(iv_pdf, iv_pdf.iloc[0:0], "temporal_srange_iv_")
        rout = stream_interval_join(
            read_parquet_stream(
                spark, fsrc, fschema, max_files_per_trigger=1
            ).select("event_id", "user_id", "ts"),
            read_parquet_stream(
                spark, ivsrc, spark.read.parquet(ivsrc).schema,
                max_files_per_trigger=1,
            ),
            by=["user_id"],
            value_cols=["sq"],
            lateness=lateness,
            max_span="35 days",
        )
        rname = f"srange_{_uuid.uuid4().hex[:8]}"
        q = (
            rout.writeStream.format("memory").queryName(rname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        range_rows = [
            (int(r["event_id"]), int(r["sq"]), r["ts"])
            for r in spark.sql(f"SELECT * FROM {rname}").collect()
            if r["user_id"] != _PUSHER_UID
        ]

        # --- ssess: the native session_window aggregate over the SAME
        # raw replay (third query on the one staged source); windows
        # finalize when the pusher-driven watermark passes their close.
        # Spark's session end = last_event + gap; the leg subtracts the
        # gap back so t2 binds to the batch max(ts). Per-user seq is
        # assigned after collect by start order (the batch session_seq).
        from mysql_to_s3_spark.operators.sessions import stream_session_stats

        sout = stream_session_stats(
            read_parquet_stream(spark, fsrc, fschema, max_files_per_trigger=1),
            by=["user_id"],
            gap="30 minutes",
            lateness=lateness,
        )
        sname = f"ssess_{_uuid.uuid4().hex[:8]}"
        q = (
            sout.writeStream.format("memory").queryName(sname)
            .outputMode("append").trigger(availableNow=True).start()
        )
        _drain_available_now(q)
        import datetime as _dt

        raw = [
            (int(r["user_id"]), r["session"]["start"],
             r["session"]["end"] - _dt.timedelta(minutes=30), int(r["n_events"]))
            for r in spark.sql(f"SELECT * FROM {sname}").collect()
            if r["user_id"] != _PUSHER_UID
        ]
        raw.sort()
        sess_rows = []
        prev_uid, seq = None, 0
        for uid, s0, s1, n in raw:
            seq = seq + 1 if uid == prev_uid else 0
            prev_uid = uid
            sess_rows.append((uid, seq, s0, s1, n))
        return asof_rows, fun_rows, sess_rows, fwd_rows, near_rows, fwin_rows, range_rows

    srows, frows, ssrows, fwrows, nrrows, fwinrows, rngrows = _run_stream_temporal()
    leg_schema = "a bigint, b bigint, t1 timestamp_ntz, t2 timestamp_ntz, x double"

    import datetime as _dt

    _EPOCH0 = _dt.datetime(1970, 1, 1)

    def _us(d: "_dt.datetime") -> float:
        # exact integer µs as a double (< 2^53): bit-identical to the
        # oracle's epoch_us(ts)::DOUBLE, no float-division drift
        td = d - _EPOCH0
        return float((td.days * 86400 + td.seconds) * 10**6 + td.microseconds)

    # sess first: it has every column, so it fixes the column order
    return {
        "sess": sessrow,
        ("asof", "asoff", "asofn", "asoft"): asof4,
        "range": rng,
        "funnel": fn,
        "fwin": fw,
        "sasof": spark.createDataFrame(srows, leg_schema),
        "sfun": spark.createDataFrame(
            [(uid, s1, s3, _us(s2)) for uid, s1, s2, s3 in frows],
            "a bigint, t1 timestamp_ntz, t2 timestamp_ntz, x double",
        ),
        "ssess": spark.createDataFrame(
            [(uid, seq, s0, s1, float(n)) for uid, seq, s0, s1, n in ssrows], leg_schema
        ),
        "sfwdt": spark.createDataFrame(fwrows, leg_schema),
        "snear": spark.createDataFrame(nrrows, leg_schema),
        "sfwin": spark.createDataFrame(
            [(uid, s0, 1.0) for uid, s0 in fwinrows], "a bigint, t1 timestamp_ntz, x double"
        ),
        "srange": spark.createDataFrame(rngrows, "a bigint, b bigint, t1 timestamp_ntz"),
    }


_SQL_SESS_CTE = """
  marked AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
  sessioned AS (
    SELECT user_id, event_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS sq
    FROM marked),
  sess AS (
    SELECT user_id, sq, min(ts) AS s0, max(ts) AS s1, count(*) AS n
    FROM sessioned GROUP BY user_id, sq)
"""

_q(
    "temporal_events",
    _temporal_events_spark,
    f"""WITH {_SQL_SESS_CTE},
    t1 AS (SELECT user_id, min(ts) AS s1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(e.ts) AS s2 FROM events e JOIN t1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > t1.s1 GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(e.ts) AS s3 FROM events e JOIN t2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > t2.s2 GROUP BY e.user_id),
    -- fwin: a signup s completes iff SOME ordered click/purchase chain
    -- fits in (s.ts, s.ts + 3 days] (chain existence == greedy success);
    -- earliest completing start per user
    fcomp AS (
      SELECT DISTINCT s.user_id, s.ts
      FROM events s JOIN events c
        ON c.user_id = s.user_id AND c.event_type = 'click' AND c.ts > s.ts
      JOIN events p
        ON p.user_id = s.user_id AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= s.ts + INTERVAL 3 DAY
      WHERE s.event_type = 'signup'),
    fwin AS (SELECT user_id, min(ts) AS start_ts FROM fcomp GROUP BY 1),
    pur AS (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'),
    qmax AS (SELECT user_id, ts, max(value) AS value FROM events
             WHERE event_type = 'signup' GROUP BY 1, 2),
    nb AS (SELECT p.event_id, q.ts AS qts, q.value FROM pur p
           ASOF LEFT JOIN qmax q
             ON p.user_id = q.user_id AND p.ts >= q.ts),
    nf AS (SELECT p.event_id, q.ts AS qts, q.value FROM pur p
           ASOF LEFT JOIN qmax q
             ON p.user_id = q.user_id AND p.ts <= q.ts)
    SELECT 'asof' AS leg, p.event_id AS a, p.user_id AS b, p.ts AS t1,
           NULL::TIMESTAMP AS t2, nb.value::DOUBLE AS x
    FROM pur p LEFT JOIN nb USING (event_id)
    UNION ALL
    SELECT 'asoff' AS leg, p.event_id, p.user_id, p.ts, NULL, nf.value::DOUBLE
    FROM pur p LEFT JOIN nf USING (event_id)
    UNION ALL
    -- nearest = least-distance of the two sides, ties to backward
    SELECT 'asofn', p.event_id, p.user_id, p.ts, NULL,
           (CASE WHEN nb.qts IS NULL THEN nf.value
                 WHEN nf.qts IS NULL THEN nb.value
                 WHEN (nf.qts - p.ts) < (p.ts - nb.qts) THEN nf.value
                 ELSE nb.value END)::DOUBLE
    FROM pur p LEFT JOIN nb USING (event_id) LEFT JOIN nf USING (event_id)
    UNION ALL
    -- tolerance: the backward match survives only within the horizon
    SELECT 'asoft', p.event_id, p.user_id, p.ts, NULL,
           (CASE WHEN nb.qts >= p.ts - INTERVAL 2 DAY
                 THEN nb.value END)::DOUBLE
    FROM pur p LEFT JOIN nb USING (event_id)
    UNION ALL
    SELECT 'range', e.event_id, s.sq, e.ts, NULL, NULL
    FROM events e JOIN sess s
      ON e.user_id = s.user_id AND e.ts >= s.s0 AND e.ts <= s.s1
    UNION ALL
    SELECT 'sess', user_id, sq, s0, s1, n::DOUBLE FROM sess
    UNION ALL
    SELECT 'funnel', u.user_id, NULL, t1.s1, t3.s3,
           (t3.user_id IS NOT NULL)::INT::DOUBLE
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)
    UNION ALL
    SELECT 'fwin', u.user_id, NULL, fwin.start_ts, NULL,
           (fwin.user_id IS NOT NULL)::INT::DOUBLE
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN fwin USING (user_id)
    UNION ALL
    -- sasof: the streaming backward as-of drain == the batch ASOF oracle,
    -- PLUS the matched quote timestamp in t2 (stronger than the batch leg)
    SELECT 'sasof', p.event_id, p.user_id, p.ts, nb.qts, nb.value::DOUBLE
    FROM pur p LEFT JOIN nb USING (event_id)
    UNION ALL
    -- sfun: streaming funnel completions == converted users' greedy step
    -- chain; x = step-2 ts as exact integer epoch-µs
    SELECT 'sfun', t3.user_id, NULL, t1.s1, t3.s3, epoch_us(t2.s2)::DOUBLE
    FROM t3 JOIN t2 USING (user_id) JOIN t1 USING (user_id)
    UNION ALL
    -- ssess: the native session_window drain == the batch session rollup
    SELECT 'ssess', user_id, sq, s0, s1, n::DOUBLE FROM sess
    UNION ALL
    -- sfwdt: streaming FORWARD as-of, 2-day tolerance — earliest
    -- following quote, nulled past the horizon
    SELECT 'sfwdt', p.event_id, p.user_id, p.ts,
           CASE WHEN nf.qts <= p.ts + INTERVAL 2 DAY THEN nf.qts END,
           (CASE WHEN nf.qts <= p.ts + INTERVAL 2 DAY THEN nf.value END)::DOUBLE
    FROM pur p LEFT JOIN nf USING (event_id)
    UNION ALL
    -- snear: streaming NEAREST, 2-day tolerance both sides, ties backward
    SELECT 'snear', event_id, user_id, ts,
           CASE WHEN bqts IS NOT NULL AND (fqts IS NULL OR (ts - bqts) <= (fqts - ts))
                THEN bqts ELSE fqts END,
           (CASE WHEN bqts IS NOT NULL AND (fqts IS NULL OR (ts - bqts) <= (fqts - ts))
                 THEN bval ELSE fval END)::DOUBLE
    FROM (
      SELECT p.event_id, p.user_id, p.ts,
             CASE WHEN nb.qts >= p.ts - INTERVAL 2 DAY THEN nb.qts END AS bqts,
             CASE WHEN nb.qts >= p.ts - INTERVAL 2 DAY THEN nb.value END AS bval,
             CASE WHEN nf.qts <= p.ts + INTERVAL 2 DAY THEN nf.qts END AS fqts,
             CASE WHEN nf.qts <= p.ts + INTERVAL 2 DAY THEN nf.value END AS fval
      FROM pur p LEFT JOIN nb USING (event_id) LEFT JOIN nf USING (event_id))
    UNION ALL
    -- sfwin: the time-boxed streaming funnel == converted users' earliest
    -- completing start (the batch fwin CTE, converted only)
    SELECT 'sfwin', user_id, NULL, start_ts, NULL, 1.0 FROM fwin
    UNION ALL
    -- srange: the native stream-stream interval join == the batch
    -- point-in-interval containment
    SELECT 'srange', e.event_id, s.sq, e.ts, NULL, NULL
    FROM events e JOIN sess s
      ON e.user_id = s.user_id AND e.ts >= s.s0 AND e.ts <= s.s1""",
    ops=("asof", "asoff", "asofn", "asoft", "range", "sess", "funnel", "fwin"),
    verify=("sasof", "sfun", "ssess", "sfwdt", "snear", "sfwin", "srange"),
    headline=True,
)


def names() -> list[str]:
    """Every row in registration order. ``__spark_entry__.queries()``
    exposes them; the first 50 are verified, and the catalog holds 50."""
    return list(CATALOG)


def headline() -> list[str]:
    """The rows ``bench.py`` times."""
    return [n for n, r in CATALOG.items() if r.headline]


def row_tags() -> dict[str, dict[str, list[str]]]:
    """``{row: {"ops": [...], "verify": [...]}}`` for every row that
    declares legs: a row whose time covers several co-hosted operators
    prices more than one BASELINE operator."""
    return {
        n: {"ops": list(r.ops), "verify": list(r.verify)}
        for n, r in CATALOG.items()
        if r.legs
    }


def build(name: str) -> Callable[[SparkSession, str], DataFrame]:
    return CATALOG[name].build


def oracle(name: str) -> str | None:
    return CATALOG[name].oracle
