"""Hostile column/select names, engine-wide (hypothesis).

Round 9 fixed dotted select names across the scalar/grouped/edges paths
late in the round (a shared backtick-quoting helper, `_qname`); this
suite pins that contract against the next rename refactor with
GENERATED names — dots, backticks, spaces, quotes, hyphens, unicode —
driven through every path that re-selects output columns by name:
set-op rename, set-op sort-by-alias, scalar aggregate (incl. the
class-split plan), groupby, edges (densified), and window clauses.

The engine's stance: a name is a LITERAL label. Spark column names may
contain anything; only code that round-trips names through a PARSER
(`F.col` without quoting, `fillna`, SQL strings) breaks — which is
exactly what these properties would catch.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from mysql_to_s3_spark.operators.executor import run

# dots first (the engine's default name IS the value path), then the
# quoting-hostile classes: backticks (Spark's own quote char), spaces,
# SQL quotes, hyphens, unicode letters beyond BMP-ASCII
_HOSTILE_CHARS = st.sampled_from(
    list("abz09") + [".", "`", " ", "'", '"', "-", "é", "Ω", "中"]
)
_name = (
    st.lists(_HOSTILE_CHARS, min_size=1, max_size=8)
    .map("".join)
    # drop names that strip to empty, and EXACTLY '.' / '..' — the two
    # JX path KEYWORDS (self / parent — a select value '.' means "the
    # whole document"), so a column literally named '.' is unreachable
    # by a JX variable BY DESIGN, not a quoting bug (found by this
    # suite generating '.' as a window-column name). Longer all-dot
    # names ('...', '....') are NOT keywords and must keep working
    # (r10 advice: the old s.strip('.') != '' excluded them too).
    .filter(lambda s: s.strip() != "" and s not in (".", ".."))
)
_two_names = st.tuples(_name, _name).filter(lambda t: t[0] != t[1])


def _container(spark):
    return spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=3), Row(k=None, v=4)]
    )


@given(_two_names)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_setop_rename_and_sort_alias(spark, names):
    n1, n2 = names
    df = run(
        {
            "from": "t",
            "select": [
                {"name": n1, "value": "v"},
                {"name": n2, "value": {"mul": ["v", 10]}},
            ],
            "sort": [{"value": "v", "sort": -1}],
            "limit": 10,
        },
        containers={"t": _container(spark)},
    )
    assert df.columns == [n1, n2]
    rows = df.collect()
    assert [r[n1] for r in rows] == [4, 3, 2, 1]
    assert [r[n2] for r in rows] == [40, 30, 20, 10]


@given(_two_names)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_scalar_agg_hostile_names(spark, names):
    n1, n2 = names
    row = run(
        {
            "from": "t",
            "select": [
                {"name": n1, "value": "v", "aggregate": "sum"},
                # a median forces the class-split (cross-joined one-row
                # aggs re-selected by _qname) alongside the cheap class
                {"name": n2, "value": "v", "aggregate": "median"},
            ],
        },
        containers={"t": _container(spark)},
    ).first()
    assert row[n1] == 10
    assert row[n2] == 2.5


@given(_two_names)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_groupby_hostile_key_and_agg_names(spark, names):
    kname, aname = names
    rows = {
        r[kname]: r[aname]
        for r in run(
            {
                "from": "t",
                "groupby": [{"name": kname, "value": "k"}],
                "select": [{"name": aname, "value": "v", "aggregate": "sum"}],
            },
            containers={"t": _container(spark)},
        ).collect()
    }
    assert rows == {"a": 3, "b": 3, None: 4}


@given(_two_names)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_edges_hostile_names_densified(spark, names):
    ename, aname = names
    rows = {
        r[ename]: r[aname]
        for r in run(
            {
                "from": "t",
                "edges": [
                    {
                        "name": ename,
                        "value": "k",
                        "allowNulls": False,
                        "domain": {"type": "set", "partitions": ["a", "b", "zz"]},
                    }
                ],
                "select": [{"name": aname, "value": ".", "aggregate": "count"}],
            },
            containers={"t": _container(spark)},
        ).collect()
    }
    # dense: the empty part appears with count 0 under the hostile name
    assert rows == {"a": 2, "b": 1, "zz": 0}


@given(_name)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_window_hostile_name(spark, name):
    df = run(
        {
            "from": "t",
            "window": [
                {
                    "name": name,
                    "value": "v",
                    "edges": ["k"],
                    "sort": ["v"],
                    "aggregate": "sum",
                    "range": {"min": None, "max": 0},
                }
            ],
            "select": [{"name": "vv", "value": "v"}, {"name": "w_out", "value": name}],
            "sort": [{"value": "v", "sort": 1}],
            "limit": 10,
        },
        containers={"t": _container(spark)},
    )
    got = [(r["vv"], r["w_out"]) for r in df.collect()]
    # JX range.max is EXCLUSIVE: {min: None, max: 0} = strictly
    # preceding rows, so each partition's first row sums an empty frame
    assert got == [(1, None), (2, 1), (3, None), (4, None)]


def test_fixed_worst_cases(spark):
    """The specific characters most likely to regress, pinned without
    hypothesis so a failure names the class directly."""
    for bad in ["a.b", "a`b", "a``b`", "a b", 'a"b', "a'b", "a-b", "héllo", "中.文"]:
        row = run(
            {
                "from": "t",
                "select": [{"name": bad, "value": "v", "aggregate": "max"}],
            },
            containers={"t": _container(spark)},
        ).first()
        assert row[bad] == 4, bad


@given(_two_names)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_having_hostile_result_names(spark, names):
    """r11 (verdict item 10): `having` compiles its predicate against
    the RESULT schema, so a hostile AGG output name must resolve as a
    having variable (the compiler's exact-column-name-first rule), and
    a hostile KEY name must survive the post-aggregate filter."""
    kname, aname = names
    rows = {
        r[kname]: r[aname]
        for r in run(
            {
                "from": "t",
                "groupby": [{"name": kname, "value": "k"}],
                "select": [{"name": aname, "value": "v", "aggregate": "sum"}],
                "having": {"gte": [aname, 4]},
            },
            containers={"t": _container(spark)},
        ).collect()
    }
    # sums: a->3, b->3, None->4; only the null-key group passes >= 4
    assert rows == {None: 4}
