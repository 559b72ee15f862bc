"""JDBC option/SQL/predicate generation (no MySQL server in the container;
the live read path is exercised up to the Spark reader construction)."""

from __future__ import annotations

import pytest

from mysql_to_s3_spark.sources.jdbc import (
    JdbcConfig,
    JdbcError,
    discover_relations_sql,
    id_batch_predicates,
    jdbc_options,
    relations_from_rows,
)

CFG = JdbcConfig(host="db.example.com", schema="shop", username="u", password="p")


def test_url_and_base_options():
    opts = jdbc_options(CFG, "orders")
    assert opts["url"] == "jdbc:mysql://db.example.com:3306/shop"
    assert opts["dbtable"] == "orders"
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"
    assert opts["fetchsize"] == "10000"
    assert opts["user"] == "u" and opts["password"] == "p"


def test_query_form():
    opts = jdbc_options(CFG, "SELECT id, name FROM orders WHERE id > 5")
    assert "query" in opts and "dbtable" not in opts


def test_partitioned_scan_options():
    opts = jdbc_options(CFG, "orders", "id", 0, 1_000_000, 32)
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "1000000"
    assert opts["numPartitions"] == "32"


def test_partitioned_scan_requires_bounds():
    with pytest.raises(JdbcError):
        jdbc_options(CFG, "orders", partition_column="id")
    with pytest.raises(JdbcError):
        jdbc_options(CFG, "SELECT 1", "id", 0, 10, 2)


def test_id_batch_predicates_cover_range_without_overlap():
    preds = id_batch_predicates("id", 0, 2500, 1000)
    assert preds == [
        "id >= 0 AND id < 1000",
        "id >= 1000 AND id < 2000",
        "id >= 2000 AND id < 2500",
    ]


def test_discover_relations_sql_targets_schema():
    sql = discover_relations_sql(CFG)
    assert "information_schema.key_column_usage" in sql
    assert "table_schema = 'shop'" in sql
    assert "referenced_column_name IS NOT NULL" in sql


def test_relations_from_rows_merges_composite_fks():
    rows = [
        ("fk_a", "lineitem", "l_orderkey", "orders", "o_orderkey", 1),
        ("fk_b", "detail", "d_k1", "parent", "p_k1", 1),
        ("fk_b", "detail", "d_k2", "parent", "p_k2", 2),
    ]
    rels = relations_from_rows(rows)
    assert len(rels) == 2
    comp = next(r for r in rels if r.name == "detail.fk_b")
    assert comp.columns == ["d_k1", "d_k2"]
    assert comp.referenced_columns == ["p_k1", "p_k2"]


def test_relations_feed_snowflake_plan(spark, sf_dir):
    """Discovered Relation rows drive the same build_plan/doc_frame path
    the parquet tests use — the JDBC scan is just another table loader."""
    from mysql_to_s3_spark.sources.registry import load_table
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, TableMeta, build_plan, doc_frame

    rows = [
        ("orders_ibfk_1", "orders", "o_custkey", "customer", "c_custkey", 1),
        ("lineitem_ibfk_1", "lineitem", "l_orderkey", "orders", "o_orderkey", 1),
    ]
    rels = relations_from_rows(rows)
    tables = {n: load_table(spark, sf_dir, n) for n in ("orders", "customer", "lineitem")}
    meta = [
        TableMeta("orders", tables["orders"].columns, ["o_orderkey"]),
        TableMeta("customer", tables["customer"].columns, ["c_custkey"]),
        TableMeta("lineitem", tables["lineitem"].columns, ["l_orderkey", "l_linenumber"]),
    ]
    plan = build_plan(meta, rels, SnowflakeConfig(fact_table="orders"))
    docs = doc_frame(tables, plan, SnowflakeConfig(fact_table="orders"), ids=[1, 2, 3])
    assert docs.count() == 3


# -- recorded-response MySQL discovery contract (no live server) --
# Golden information_schema.key_column_usage rows EXACTLY as MySQL returns
# them (post-WHERE referenced_column_name IS NOT NULL, ORDER BY
# constraint_name, ordinal_position) for the reference's 5-table snowflake
# (/root/reference/tests/resources/database.sql FOREIGN KEYs, MySQL
# auto-named <table>_ibfk_<n> constraints).

_RECORDED_KEY_COLUMN_USAGE = [
    ("fact_table_ibfk_1", "fact_table", "about", "inner1", "id", 1),
    ("inner1_ibfk_1", "inner1", "time", "inner2", "id", 1),
    ("nested1_ibfk_1", "nested1", "ref", "fact_table", "id", 1),
    ("nested1_ibfk_2", "nested1", "about", "inner2", "id", 1),
    ("nested2_ibfk_1", "nested2", "ref", "nested1", "id", 1),
    ("nested2_ibfk_2", "nested2", "about", "inner1", "id", 1),
]


def test_discovery_recorded_rows_match_reference_schema():
    """relations_from_rows over the recorded wire rows reproduces the
    hand-written fixture relations (name aside) edge-for-edge."""
    from mysql_to_s3_spark.sources.jdbc import relations_from_rows
    from tests.fixtures_snowflake import RELATIONS

    got = relations_from_rows(_RECORDED_KEY_COLUMN_USAGE)
    edges = {(r.table, tuple(r.columns), r.referenced_table, tuple(r.referenced_columns)) for r in got}
    want = {(r.table, tuple(r.columns), r.referenced_table, tuple(r.referenced_columns)) for r in RELATIONS}
    assert edges == want


def test_discovery_composite_fk_merges_by_constraint():
    from mysql_to_s3_spark.sources.jdbc import relations_from_rows

    rows = [
        ("child_ibfk_1", "child", "pa", "parent", "a", 1),
        ("child_ibfk_1", "child", "pb", "parent", "b", 2),
    ]
    (rel,) = relations_from_rows(rows)
    assert rel.columns == ["pa", "pb"] and rel.referenced_columns == ["a", "b"]


def test_discovery_same_constraint_name_on_two_tables():
    """Engines that scope constraint names per table may reuse one name:
    the relations stay apart under their ``table.constraint`` names, and
    a constraint that points at two tables is refused."""
    from mysql_to_s3_spark.sources.jdbc import relations_from_rows

    rows = [
        ("fk_parent", "a", "p", "parent", "id", 1),
        ("fk_parent", "b", "p", "parent", "id", 1),
    ]
    assert [r.name for r in relations_from_rows(rows)] == ["a.fk_parent", "b.fk_parent"]
    with pytest.raises(JdbcError, match="two tables"):
        relations_from_rows(
            [("fk_x", "a", "p", "parent", "id", 1), ("fk_x", "a", "q", "other", "id", 2)]
        )


# information_schema.columns rows for the same schema, in the ORDER BY of
# DISCOVER_COLUMNS_SQL (table_name, ordinal_position)
_RECORDED_COLUMNS = [
    ("fact_table", "id", 1, "PRI"),
    ("fact_table", "name", 2, ""),
    ("fact_table", "about", 3, "MUL"),
    ("inner1", "id", 1, "PRI"),
    ("inner1", "value", 2, ""),
    ("inner1", "time", 3, "MUL"),
    ("inner2", "id", 1, "PRI"),
    ("inner2", "value", 2, ""),
    ("nested1", "id", 1, "PRI"),
    ("nested1", "ref", 2, "MUL"),
    ("nested1", "description", 3, ""),
    ("nested1", "about", 4, "MUL"),
    ("nested2", "id", 1, "PRI"),
    ("nested2", "ref", 2, "MUL"),
    ("nested2", "minutia", 3, ""),
    ("nested2", "about", 4, "MUL"),
]


def test_discovery_recorded_columns_match_reference_schema():
    """tables_from_rows over the recorded columns rows reproduces the
    hand-written fixture tables: columns in ordinal order, PRI-keyed
    columns as ids (composite keys keep their ordinal order)."""
    from mysql_to_s3_spark.sources.jdbc import tables_from_rows
    from tests.fixtures_snowflake import TABLES_META

    got = {t.name: (t.columns, t.id_columns) for t in tables_from_rows(_RECORDED_COLUMNS)}
    assert got == {t.name: (t.columns, t.id_columns) for t in TABLES_META}
    (li,) = tables_from_rows(
        [
            ("lineitem", "l_orderkey", 1, "PRI"),
            ("lineitem", "l_qty", 2, ""),
            ("lineitem", "l_linenumber", 3, "PRI"),
        ]
    )
    assert li.id_columns == ["l_orderkey", "l_linenumber"]


def test_discovery_drives_snowflake_end_to_end(spark, monkeypatch):
    """discover_schema over the recorded information_schema rows drives
    build_plan/doc_frame to the SAME documents as the hand-written
    fixture tables and relations — the full MySQL discovery path minus
    only the socket (read_table answers from the recordings)."""
    from mysql_to_s3_spark.sinks.json_sink import collect_docs
    from mysql_to_s3_spark.sources import jdbc
    from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan, doc_frame
    from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables

    asked = []

    def recorded(_spark, cfg, table):
        asked.append(table)
        if "information_schema.key_column_usage" in table:
            return _spark.createDataFrame(
                _RECORDED_KEY_COLUMN_USAGE,
                "c string, t string, col string, rt string, rc string, pos int",
            )
        return _spark.createDataFrame(_RECORDED_COLUMNS, "t string, col string, pos int, k string")

    monkeypatch.setattr(jdbc, "read_table", recorded)
    meta, rels = jdbc.discover_schema(spark, CFG)
    assert len(asked) == 2 and all("table_schema = 'shop'" in q for q in asked)

    tables = build_tables(spark)
    cfg = SnowflakeConfig(
        fact_table="fact_table",
        null_values=["-", "unknown", ""],
        reference_only=["inner1", "inner2"],
    )
    discovered = build_plan(meta, rels, cfg)
    handwritten = build_plan(TABLES_META, RELATIONS, cfg)
    ids = [10, 11, 12, 13, 15]
    got = collect_docs(doc_frame(tables, discovered, cfg, ids=ids), "fact_table")
    want = collect_docs(doc_frame(tables, handwritten, cfg, ids=ids), "fact_table")
    assert got == want
