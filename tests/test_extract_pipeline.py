"""Golden tests for the snowflake extract pipeline, ported from the
reference (/root/reference/tests/test_extract.py:46-148 configs,
:184-356 expected docs). Six cases: simple, complex, inline, lean,
lean_inline, lean_inline_all — byte-equivalent nested JSON after scrub."""

import re

import pytest

from mysql_to_s3_spark.sinks.json_sink import collect_docs
from mysql_to_s3_spark.sources.snowflake import SnowflakeConfig, build_plan, doc_frame
from tests.fixtures_snowflake import RELATIONS, TABLES_META, build_tables


def base_config(**overrides):
    cfg = dict(
        fact_table="fact_table",
        show_foreign_keys=True,
        null_values=["-", "unknown", ""],
        reference_only=["inner1", "inner2"],
    )
    cfg.update(overrides)
    return SnowflakeConfig(**cfg)


def extract(spark, cfg, ids):
    tables = build_tables(spark)
    plan = build_plan(TABLES_META, RELATIONS, cfg)
    df = doc_frame(tables, plan, cfg, ids=ids)
    return collect_docs(df, "fact_table")


def fuzzy_eq(a, b, path=""):
    """Structural equality, 4 == 4.0 (reference FuzzyTestCase semantics)."""
    if isinstance(a, dict) and isinstance(b, dict):
        assert set(a) == set(b), f"{path}: keys {sorted(a)} != {sorted(b)}"
        for k in a:
            fuzzy_eq(a[k], b[k], f"{path}.{k}")
    elif isinstance(a, list) and isinstance(b, list):
        assert len(a) == len(b), f"{path}: len {len(a)} != {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            fuzzy_eq(x, y, f"{path}[{i}]")
    elif isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool) and not isinstance(b, bool):
        assert abs(a - b) < 1e-9, f"{path}: {a} != {b}"
    else:
        assert a == b, f"{path}: {a!r} != {b!r}"


def test_simple(spark):
    got = extract(spark, base_config(), ids=[22])
    fuzzy_eq(got, [{"fact_table": {"id": 22, "name": "L"}}])


def test_complex(spark):
    got = extract(spark, base_config(), ids=[10])
    expected = [{"fact_table": {
        "about": {"id": 1, "time": {"id": -1, "value": 0}, "value": "a"},
        "id": 10,
        "name": "A",
        "nested1": {
            "about": {"id": -1, "value": 0},
            "description": "aaa",
            "id": 100,
            "nested2": [
                {"about": {"id": 1, "time": {"id": -1, "value": 0}, "value": "a"},
                 "id": 1000, "minutia": 3.1415926539, "ref": 100},
                {"about": {"id": 2, "time": {"id": -2}, "value": "b"},
                 "id": 1001, "minutia": 4, "ref": 100},
                {"about": {"id": 3, "value": "c"},
                 "id": 1002, "minutia": 5.1, "ref": 100},
            ],
            "ref": 10,
        },
    }}]
    fuzzy_eq(got, expected)


def test_inline(spark):
    got = extract(spark, base_config(reference_only=["inner1.value", "inner2.value"]), ids=[10])
    expected = [{"fact_table": {
        "about": {"id": 1, "value": "a"},
        "id": 10,
        "name": "A",
        "nested1": {
            "about": {"id": -1, "value": 0},
            "ref": 10,
            "description": "aaa",
            "nested2": [
                {"about": {"id": 1, "value": "a"}, "ref": 100, "id": 1000, "minutia": 3.1415926539},
                {"about": {"id": 2, "value": "b"}, "ref": 100, "id": 1001, "minutia": 4},
                {"about": {"id": 3, "value": "c"}, "ref": 100, "id": 1002, "minutia": 5.1},
            ],
            "id": 100,
        },
    }}]
    fuzzy_eq(got, expected)


def test_lean(spark):
    got = extract(spark, base_config(show_foreign_keys=False), ids=[10])
    expected = [{"fact_table": {
        "about": {"value": "a", "time": {"value": 0}},
        "id": 10,
        "name": "A",
        "nested1": {
            "about": {"value": 0},
            "description": "aaa",
            "nested2": [
                {"about": {"value": "a", "time": {"value": 0}}, "minutia": 3.1415926539},
                {"about": {"value": "b"}, "minutia": 4},
                {"about": {"value": "c"}, "minutia": 5.1},
            ],
        },
    }}]
    fuzzy_eq(got, expected)


def test_lean_inline(spark):
    got = extract(
        spark,
        base_config(show_foreign_keys=False, reference_only=["inner1.value", "inner2.value"]),
        ids=[10],
    )
    expected = [{"fact_table": {
        "about": "a",
        "id": 10,
        "name": "A",
        "nested1": {
            "about": 0,
            "description": "aaa",
            "nested2": [
                {"about": "a", "minutia": 3.1415926539},
                {"about": "b", "minutia": 4},
                {"about": "c", "minutia": 5.1},
            ],
        },
    }}]
    fuzzy_eq(got, expected)


def test_lean_inline_all(spark):
    ids = [10, 11, 12, 13, 15, 16, 17, 18, 19, 20, 21, 22]
    got = extract(
        spark,
        base_config(show_foreign_keys=False, reference_only=["inner1.value", "inner2.value"]),
        ids=ids,
    )
    expected = [
        {"fact_table": {
            "nested1": {
                "about": 0,
                "description": "aaa",
                "nested2": [
                    {"about": "a", "minutia": 3.1415926539},
                    {"about": "b", "minutia": 4},
                    {"about": "c", "minutia": 5.1},
                ],
            },
            "about": "a", "id": 10, "name": "A",
        }},
        {"fact_table": {
            "nested1": {"description": "bbb", "nested2": {"about": "a", "minutia": 6.2}},
            "about": "b", "id": 11, "name": "B",
        }},
        {"fact_table": {
            "nested1": {"description": "ccc", "nested2": {"about": "c", "minutia": 7.3}},
            "about": "c", "id": 12, "name": "C",
        }},
        {"fact_table": {"nested1": {"about": 0, "description": "ddd"}, "id": 13, "name": "D"}},
        {"fact_table": {
            "nested1": [{"about": 0, "description": "eee"}, {"about": 0, "description": "fff"}],
            "about": "a", "id": 15, "name": "E",
        }},
        {"fact_table": {
            "nested1": [{"description": "ggg"}, {"description": "hhh"}],
            "about": "b", "id": 16, "name": "F",
        }},
        {"fact_table": {
            "nested1": [{"description": "iii"}, {"description": "jjj"}],
            "about": "c", "id": 17, "name": "G",
        }},
        {"fact_table": {
            "nested1": [{"description": "kkk"}, {"description": "lll"}],
            "id": 18, "name": "H",
        }},
        {"fact_table": {"about": "a", "id": 19, "name": "I"}},
        {"fact_table": {"about": "b", "id": 20, "name": "J"}},
        {"fact_table": {"about": "c", "id": 21, "name": "K"}},
        {"fact_table": {"id": 22, "name": "L"}},
    ]
    fuzzy_eq(got, expected)


# -- child cap + overflow (SURVEY §7 skew valve) --


def _cap_fixture(spark):
    from mysql_to_s3_spark.sources.snowflake import Relation, TableMeta

    from pyspark.sql import functions as F

    parent = spark.createDataFrame([(1, "big"), (2, "small"), (3, "empty")], "id int, name string")
    many = spark.range(100_000).select(
        (F.col("id") + 1000).cast("int").alias("id"),
        F.lit(1).alias("ref"),
        F.col("id").cast("int").alias("seq"),
    )
    few = spark.createDataFrame([(1, 2, 0), (2, 2, 1), (3, 2, 2), (4, 2, 3), (5, 2, 4)], "id int, ref int, seq int")
    child = many.unionByName(few.select((F.col("id") + 5_000_000).cast("int").alias("id"), "ref", "seq"))
    meta = [
        TableMeta("parent", ["id", "name"], ["id"]),
        TableMeta("child", ["id", "ref", "seq"], ["id"]),
    ]
    rels = [Relation("child_ref", "child", ["ref"], "parent", ["id"])]
    return {"parent": parent, "child": child}, meta, rels


def test_child_cap_golden_100k_under_1k_cap(spark):
    """A 100k-child parent under a 1k cap keeps the FIRST 1000 children in
    sort order and records 99000 dropped in <field>__overflow__; parents
    under the cap record 0; childless parents stay NULL/NULL."""
    from pyspark.sql import functions as F

    tables, meta, rels = _cap_fixture(spark)
    cfg = SnowflakeConfig(fact_table="parent", show_foreign_keys=False, child_cap=1000)
    plan = build_plan(meta, rels, cfg)
    docs = doc_frame(tables, plan, cfg)
    rows = {
        r["__id__"]: r
        for r in docs.select(
            "__id__",
            F.size("parent.child").alias("n_items"),
            F.col("parent.child__overflow__").alias("overflow"),
            F.col("parent.child")[0]["seq"].alias("first_seq"),
            F.element_at(F.col("parent.child"), -1)["seq"].alias("last_seq"),
        ).collect()
    }
    assert rows[1]["n_items"] == 1000 and rows[1]["overflow"] == 99_000
    # capped children are the FIRST 1000 by the child's id columns
    # (child id 1000+i carries seq i, so seq 0..999 survive)
    assert rows[1]["first_seq"] == 0 and rows[1]["last_seq"] == 999
    assert rows[2]["n_items"] == 5 and rows[2]["overflow"] == 0
    assert rows[3]["n_items"] is None and rows[3]["overflow"] is None
    # uncapped, the schema has NO overflow column (reference contract)
    cfg = SnowflakeConfig(fact_table="parent", show_foreign_keys=False)
    uncapped = doc_frame(tables, build_plan(meta, rels, cfg), cfg)
    assert "child__overflow__" not in uncapped.schema["parent"].dataType.fieldNames()


def test_child_salt_two_phase_matches_unsalted(spark):
    """r8 (SURVEY §7 "cap + salt"): the salted two-phase child collect
    assembles IDENTICAL docs to the single-phase path on the 100k-child
    skewed fixture — uncapped (every child preserved, exact order) and
    capped (same kept top-cap set + same overflow counts). The salt
    column shows in the salted path's optimized plan."""
    tables, meta, rels = _cap_fixture(spark)
    for cap in (None, 1000):
        plain_cfg = SnowflakeConfig(
            fact_table="parent", show_foreign_keys=False, child_cap=cap
        )
        salted_cfg = SnowflakeConfig(
            fact_table="parent", show_foreign_keys=False, child_cap=cap,
            child_salt=8,
        )
        plain = doc_frame(
            tables, build_plan(meta, rels, plain_cfg), plain_cfg
        ).orderBy("__id__").collect()
        salted_df = doc_frame(tables, build_plan(meta, rels, salted_cfg), salted_cfg)
        assert "__salt" in salted_df._jdf.queryExecution().optimizedPlan().toString()
        salted = salted_df.orderBy("__id__").collect()
        assert salted == plain, f"cap={cap}: salted path diverged"


@pytest.mark.parametrize("valves", [{}, {"child_cap": 1, "child_salt": 3}], ids=["plain", "capSalt"])
def test_doc_frame_plans_the_same_text_twice(spark, valves):
    """Two builds of one document frame plan the same text, expression
    and exchange ids aside: every internal column name comes from its node's place in
    the plan tree, not from what was built before it in the process."""
    tables = build_tables(spark)
    cfg = SnowflakeConfig(fact_table="fact_table", null_values=["-", "unknown", ""], **valves)
    plan = build_plan(TABLES_META, RELATIONS, cfg)

    def text():
        df = doc_frame(tables, plan, cfg)
        plan_text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        return re.sub(r"#\d+|plan_id=\d+", "", plan_text)

    first, second = text(), text()
    assert "__k" in first and first == second


def _orders_meta():
    from mysql_to_s3_spark.sources.snowflake import TableMeta

    return [
        TableMeta("orders", ["o_orderkey", "o_custkey"], ["o_orderkey"]),
        TableMeta("customer", ["c_custkey", "c_name"], ["c_custkey"]),
    ]


@pytest.mark.parametrize("field", ["child_cap", "child_salt"])
@pytest.mark.parametrize("raw", ["ten", "", 2.5, -1])
def test_child_valve_not_an_integer_names_the_field(field, raw):
    """A malformed or negative child cap / salt fails loudly at
    ``build_plan``, naming its field, instead of failing deep in the
    plan or silently running uncapped or unsalted."""
    from mysql_to_s3_spark.sources.snowflake import SnowflakeError

    cfg = SnowflakeConfig(fact_table="orders", **{field: raw})
    with pytest.raises(SnowflakeError, match=f"SnowflakeConfig.{field}"):
        build_plan(_orders_meta(), [], cfg)


@pytest.mark.parametrize(
    "spec,message",
    [
        ("orders.o_custkey customer.c_custkey", "'table.col -> table.col'"),
        ("o_custkey -> customer.c_custkey", "'table.col -> table.col'"),
        ("orders.o_custkey -> nosuch.c_custkey", "unknown table 'nosuch'"),
    ],
    ids=["no_arrow", "no_table", "unknown_table"],
)
def test_add_relations_malformed_spec_names_it(spec, message):
    """A malformed ``add_relations`` entry raises ``SnowflakeError``
    naming the entry and what is wrong with it (the expected form or
    the unknown table), not a bare unpacking or lookup error."""
    from mysql_to_s3_spark.sources.snowflake import SnowflakeError

    cfg = SnowflakeConfig(fact_table="orders", add_relations=[spec])
    with pytest.raises(SnowflakeError, match=re.escape(repr(spec))) as err:
        build_plan(_orders_meta(), [], cfg)
    assert message in str(err.value)


def test_add_relations_joins_the_declared_dim():
    """A well-formed entry becomes a relation: the declared table is an
    inner object of the fact."""
    cfg = SnowflakeConfig(fact_table="orders", add_relations=["orders.o_custkey -> customer.c_custkey"])
    plan = build_plan(_orders_meta(), [], cfg)
    assert [(d.table, d.fk_columns, d.ref_columns) for d in plan.dims] == [
        ("customer", ["o_custkey"], ["c_custkey"])
    ]
