"""Replicates the driver's CORRECTNESS gate locally: run every
``__spark_entry__.queries()`` entry AND its ``oracle_sql()`` on the same
parquet tables, compare row count, sorted column names, and values.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from mysql_to_s3_spark import queries as catalog
from tests.conftest import SF_DIR, _norm


def _rows(df):
    cols = sorted(df.columns)
    return [tuple(_norm(r[c]) for c in cols) for r in df.collect()], cols


def _duck_rows(duck, sql):
    res = duck.execute(sql)
    names = [d[0] for d in res.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [tuple(_norm(r[i]) for i in order) for r in res.fetchall()], sorted(names)


def _eq(a, b, tol=1e-9):
    if isinstance(a, float) and isinstance(b, (int, float)):
        if isinstance(b, float) and math.isnan(b):
            return math.isnan(a)
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_eq(x, y, tol) for x, y in zip(a, b))
    return a == b


# the 50-row oracle replica is slow: deselected from the default pass, run
# it with -m "". test_entry_smoke below stays in the default pass.
@pytest.mark.slow
@pytest.mark.parametrize("name", list(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    df = fn(spark, SF_DIR)
    got, got_cols = _rows(df)
    if "leg" in got_cols:
        i = got_cols.index("leg")
        undeclared = {r[i] for r in got} - set(catalog.CATALOG[name].legs)
        assert not undeclared, f"{name}: undeclared legs {sorted(undeclared)}"
    if sql is None:
        assert len(got) >= 0  # rows-only check (driver's weak mode)
        return
    want, want_cols = _duck_rows(duck, sql)
    assert got_cols == want_cols, f"{name}: columns {got_cols} != {want_cols}"
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)):
        assert _eq(g, w, 1e-6), f"{name}: {g} != {w}"


def test_entry_smoke(spark):
    """entry() runs the flagship query, which must return rows."""
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_catalog_declares_its_legs():
    """Spark-free: the catalog holds the 50 verified rows, the bench's
    headline set and every leg are declared on it, and a leg dict that
    differs from a row's declared legs is refused by name."""
    assert len(catalog.names()) == 50
    headline = catalog.headline()
    assert len(headline) == 30 and set(headline) <= set(catalog.names())
    for name, row in catalog.CATALOG.items():
        assert len(set(row.legs)) == len(row.legs), f"{name}: a leg is declared twice"
        assert not row.verify or row.ops, f"{name}: verify legs without ops"
    assert set(catalog.row_tags()) == {n for n, r in catalog.CATALOG.items() if r.legs}
    with pytest.raises(ValueError, match="similarity_ivf.*exact"):
        catalog._union_legs(
            "similarity_ivf",
            {leg: None for leg in ("ivf", "pq", "ivfpq", "knn", "ivfb", "exact")},
        )
    with pytest.raises(ValueError, match="dedup_exact"):
        catalog._union_legs("dedup_exact", {"batch": None, ("stream", "surl"): None})


# rows that compute fits, fixtures or streaming drains while they build:
# nothing of one build is kept for the next, so a second build in the
# same session must return the rows of the first
REBUILT_ROWS = [
    "agg_trimmed_stats",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_decontaminate",
    "similarity_ivf",
    "multimodal_features",
    "snowflake_denormalize",
    "text_chunk_pack",
    "pipeline_prepare",
    "counters_batch_keys",
    "temporal_events",
]


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=() if n == "agg_trimmed_stats" else pytest.mark.slow) for n in REBUILT_ROWS],
)
def test_rebuild_in_one_session_returns_equal_rows(spark, name):
    build = catalog.build(name)
    first, cols = _rows(build(spark, SF_DIR))
    second, cols2 = _rows(build(spark, SF_DIR))
    assert cols == cols2 and len(first) == len(second), name
    for a, b in zip(sorted(first, key=repr), sorted(second, key=repr)):
        assert _eq(a, b), f"{name}: {a} != {b}"
