"""Connected-components clustering over near-dup pair graphs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from contextlib import contextmanager

from mysql_to_s3_spark.operators import components
from mysql_to_s3_spark.operators.components import (
    ComponentsError,
    component_summary,
    connected_components,
    dedup_by_components,
)


@contextmanager
def force_distributed():
    """Pin the iterative pointer-jumping path (valve cap 0) so the tests
    that are ABOUT the distributed algorithm keep exercising it."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "SMALL_GRAPH_EDGES", 0)
        yield


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, pairs: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "a: long, b: long")
    out = connected_components(df).collect()
    return {r.doc_id: r.component for r in out}


def test_chain_star_and_islands(spark):
    # chain 1-2-3-4-5 (pointer-jumping's worst shape), star around 10,
    # disjoint pair (100,101)
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (100, 101)]
    got = _run(spark, pairs)
    assert got == _union_find(pairs)
    assert got[5] == 1 and got[13] == 10 and got[101] == 100


def test_reversed_and_duplicate_edges(spark):
    pairs = [(9, 3), (3, 9), (9, 3), (7, 9)]
    got = _run(spark, pairs)
    assert got == {3: 3, 7: 3, 9: 3}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(20260814)
    for _ in range(3):
        n = 120
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        pairs = [(a, b) for a, b in pairs if a != b]
        assert _run(spark, pairs) == _union_find(pairs)


def test_driver_valve_matches_distributed(spark):
    """The small-graph driver valve must be bit-identical to the
    iterative path on the same graph (chain + star + islands + random)."""
    rng = random.Random(20260817)
    pairs = (
        [(i, i + 1) for i in range(300, 364)]
        + [(9000, 9000 + i) for i in range(1, 40)]
        + [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    s_valve: dict = {}
    df = spark.createDataFrame(pairs, "a: long, b: long")
    got_valve = {
        r.doc_id: r.component for r in connected_components(df, stats=s_valve).collect()
    }
    assert s_valve["mode"] == "driver" and s_valve["rounds"] == 0
    with force_distributed():
        s_dist: dict = {}
        got_dist = {
            r.doc_id: r.component
            for r in connected_components(df, stats=s_dist).collect()
        }
    assert s_dist["mode"] == "distributed" and s_dist["rounds"] >= 1
    assert got_valve == got_dist == _union_find(pairs)


def test_component_summary_sizes(spark):
    pairs = [(1, 2), (2, 3), (50, 51)]
    df = spark.createDataFrame(pairs, "a: long, b: long")
    rows = {r.doc_id: (r.component, r.n_members) for r in component_summary(df).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 50: (50, 2), 51: (50, 2)}


def test_dedup_by_components_keeps_canonical_and_singletons(spark):
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(6)], "doc_id: long, text: string")
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "a: long, b: long")
    kept = sorted(r.doc_id for r in dedup_by_components(docs, pairs).collect())
    # cluster {1,2,4} -> keep 1; 0,3,5 untouched singletons
    assert kept == [0, 1, 3, 5]


def test_long_chain_and_wide_star_converge(spark):
    # chain of 256 nodes: neighbor-min alone needs ~256 rounds; pointer
    # jumping must close it in O(log n). A 2k-spoke star rides along to
    # cover the skew (single-giant-component) shape.
    chain = [(i, i + 1) for i in range(1000, 1256)]
    star = [(5000, 5000 + i) for i in range(1, 2001)]
    df = spark.createDataFrame(chain + star, "a: long, b: long")
    with force_distributed():
        out = connected_components(df, max_iter=12).collect()
    comps = {r.doc_id: r.component for r in out}
    assert all(comps[i] == 1000 for i in range(1000, 1257))
    assert all(comps[5000 + i] == 5000 for i in range(2001))


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "a: long, b: long")
    with force_distributed(), pytest.raises(ComponentsError):
        connected_components(df, max_iter=0)


def test_empty_and_self_loop_only_graphs(spark):
    # an empty pair graph (clean corpus) converges immediately to an
    # empty assignment instead of burning max_iter no-op rounds
    empty = spark.createDataFrame([], "a: long, b: long")
    assert connected_components(empty).collect() == []
    loops = spark.createDataFrame([(7, 7), (9, 9)], "a: long, b: long")
    assert connected_components(loops).collect() == []
    docs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id: long, text: string")
    assert sorted(r.doc_id for r in dedup_by_components(docs, empty).collect()) == [1, 2]


def test_round_count_observability(spark, sf_dir):
    """stats['rounds'] makes the O(log n) claim observable. Shapes:
    a star converges in <=3 rounds (min-label's best case), a 256-chain
    in <=log2(256)+3, and the DRIVER CORPUS pair graph (the exact pairs
    dedup_cluster_components runs on) in <=4 — the SCALE.md number."""
    from mysql_to_s3_spark.operators.dedup import ngram_jaccard_pairs
    from mysql_to_s3_spark.sources.registry import load_table

    star = spark.createDataFrame(
        [(5000, 5000 + i) for i in range(1, 101)], "a: long, b: long"
    )
    with force_distributed():
        s: dict = {}
        connected_components(star, stats=s).collect()
        assert s["rounds"] <= 3

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1000, 1256)], "a: long, b: long"
        )
        s = {}
        connected_components(chain, max_iter=12, stats=s).collect()
        assert s["rounds"] <= 11  # log2(256) + 3

    # the corpus pair graph rides the default valve: small graphs are
    # solved on the driver in zero rounds (<= 4 trivially holds)
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.9
    )
    s = {}
    connected_components(pairs, stats=s).collect()
    assert s["rounds"] <= 4, f"driver corpus took {s['rounds']} rounds"
    assert s["mode"] == "driver"
