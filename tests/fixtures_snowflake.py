"""In-memory replica of the reference's 5-table snowflake fixture
(/root/reference/tests/resources/database.sql:1-77): fact_table with a
many-to-one chain (inner1 -> inner2) and a one-to-many chain
(nested1 -> nested2), NULL FKs at every level, shared dimensions."""

import datetime as dt

from pyspark.sql import types as T

from mysql_to_s3_spark.sources.snowflake import Relation, TableMeta

TABLES_META = [
    TableMeta("inner2", ["id", "value"], ["id"]),
    TableMeta("inner1", ["id", "value", "time"], ["id"]),
    TableMeta("fact_table", ["id", "name", "about"], ["id"]),
    TableMeta("nested1", ["id", "ref", "description", "about"], ["id"]),
    TableMeta("nested2", ["id", "ref", "minutia", "about"], ["id"]),
]

RELATIONS = [
    Relation("inner1_time", "inner1", ["time"], "inner2", ["id"]),
    Relation("fact_about", "fact_table", ["about"], "inner1", ["id"]),
    Relation("nested1_ref", "nested1", ["ref"], "fact_table", ["id"]),
    Relation("nested1_about", "nested1", ["about"], "inner2", ["id"]),
    Relation("nested2_ref", "nested2", ["ref"], "nested1", ["id"]),
    Relation("nested2_about", "nested2", ["about"], "inner1", ["id"]),
]


def build_tables(spark):
    inner2 = spark.createDataFrame(
        [(-1, dt.date(1970, 1, 1)), (-2, None)],
        T.StructType([T.StructField("id", T.IntegerType()), T.StructField("value", T.DateType())]),
    )
    inner1 = spark.createDataFrame(
        [(1, "a", -1), (2, "b", -2), (3, "c", None)],
        "id int, value string, time int",
    )
    fact = spark.createDataFrame(
        [
            (10, "A", 1), (11, "B", 2), (12, "C", 3), (13, "D", None),
            (15, "E", 1), (16, "F", 2), (17, "G", 3), (18, "H", None),
            (19, "I", 1), (20, "J", 2), (21, "K", 3), (22, "L", None),
        ],
        "id int, name string, about int",
    )
    nested1 = spark.createDataFrame(
        [
            (100, 10, "aaa", -1), (101, 11, "bbb", -2), (102, 12, "ccc", None),
            (103, 13, "ddd", -1), (104, 15, "eee", -1), (105, 15, "fff", -1),
            (106, 16, "ggg", -2), (107, 16, "hhh", None), (108, 17, "iii", -2),
            (109, 17, "jjj", -2), (110, 18, "kkk", None), (111, 18, "lll", None),
        ],
        "id int, ref int, description string, about int",
    )
    nested2 = spark.createDataFrame(
        [
            (1000, 100, 3.1415926539, 1), (1001, 100, 4.0, 2), (1002, 100, 5.1, 3),
            (1003, 101, 6.2, 1), (1004, 102, 7.3, 3),
        ],
        "id int, ref int, minutia double, about int",
    )
    return {
        "inner2": inner2,
        "inner1": inner1,
        "fact_table": fact,
        "nested1": nested1,
        "nested2": nested2,
    }


# The TPC-H orders extract: customer -> nation -> region dims, lineitem
# children carrying part and supplier dims.
ORDERS_IDS = {
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}

ORDERS_RELATIONS = [
    Relation("orders_customer", "orders", ["o_custkey"], "customer", ["c_custkey"]),
    Relation("customer_nation", "customer", ["c_nationkey"], "nation", ["n_nationkey"]),
    Relation("nation_region", "nation", ["n_regionkey"], "region", ["r_regionkey"]),
    Relation("lineitem_orders", "lineitem", ["l_orderkey"], "orders", ["o_orderkey"]),
    Relation("lineitem_part", "lineitem", ["l_partkey"], "part", ["p_partkey"]),
    Relation("lineitem_supplier", "lineitem", ["l_suppkey"], "supplier", ["s_suppkey"]),
]


def orders_snowflake(spark, sf_dir, **cfg):
    """(tables, plan, config) of the orders extract over the sf tables;
    ``cfg`` sets ``SnowflakeConfig`` fields."""
    from mysql_to_s3_spark.sources.registry import load_table
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan

    tables = {t: load_table(spark, sf_dir, t) for t in ORDERS_IDS}
    config = SnowflakeConfig(fact_table="orders", **cfg)
    meta = [TableMeta(t, tables[t].columns, c) for t, c in ORDERS_IDS.items()]
    return tables, build_plan(meta, ORDERS_RELATIONS, config), config
