"""Distributed connected components over a near-dup pair graph.

Turns the pairwise output of the dedup family (``ngram_jaccard_pairs``,
``minhash_lsh_pairs``, ``simhash_pairs``, ``embedding_dup_pairs_lsh``)
into dedup CLUSTERS: every document gets a ``component`` label — the
minimum doc id reachable through the pair graph — so "keep one doc per
near-dup cluster" becomes a single anti-join (`dedup_by_components`).
Pairs alone under-delete: A~B and B~C with A!~C still means keep only
one of {A,B,C} in a training corpus.

Algorithm: min-label propagation with POINTER JUMPING, the classic
PRAM/MapReduce shape (cf. Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — the alternating-star algorithm solves
the same telescoping). Each round does

  1. neighbor-min:  comp(v) <- min(comp(v), min_{u in N(v)} comp(u))
  2. pointer jump:  comp(v) <- min(comp(v), comp(comp(v)))

Step 1 alone converges in O(diameter) rounds (bad for chain-shaped
clusters); step 2 halves the remaining pointer depth each round, giving
O(log n) rounds overall.

100 TB story: the pair graph is the OUTPUT of a >=t similarity filter,
orders of magnitude smaller than its corpus, so it is first sized with
one count and — at or below a fixed edge budget — solved exactly
on the driver by union-find (two long columns over Arrow; zero shuffle
rounds). Above the cap, each round is two shuffle joins + one
partial-agg min on the node key — no collect, no driver-side graph. The edge frame is
symmetrized once, hash-partitioned on the join key, and
`localCheckpoint`ed (freed with the frame, never left in the session's
cache); labels are `localCheckpoint`ed each round to truncate the
otherwise-exponential iterative lineage (Spark's standard idiom for iterative algorithms —
GraphFrames does the same internally). Convergence costs nothing extra:
labels only ever decrease, so the label-sum is a monotone checksum, and
the one sum-action per round doubles as the checkpoint materializer —
one Spark job per round total. Near-dup graphs are
bounded-degree in practice (a doc has few near-dups), so rounds are
cheap; pathological star clusters are exactly what the min-label
formulation handles well (one round).

Reference parity: the reference has no clustering operator (its dedup
story stops at pairs); this is a beyond-reference training-data-pipeline
operator per SURVEY §6.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

# Edge-count valve for the driver fast path: a symmetrized pair graph at
# or below this many edges is solved by an exact union-find on the
# driver (two long columns via Arrow — ~16 MB at the cap)
# instead of the iterative shuffle rounds. Near-dup pair graphs are tiny
# relative to their corpus (pairs are the *output* of a >=t similarity
# filter), so in practice even 100 TB corpora produce graphs the valve
# catches; the distributed pointer-jumping path stays the fallback and
# is what the property tests pin (patching this to 0 forces it).
SMALL_GRAPH_EDGES = 1_000_000


class ComponentsError(ValueError):
    """Raised when the iteration cap is hit before convergence."""


def _driver_min_label(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Exact min-label components via union-find with path compression.
    Union-by-min keeps every tree root == the minimum id of its set, so
    find(x) IS the component label."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """(doc_id, component) for every node that appears in ``pairs``.

    ``component`` is the minimum doc id in the node's connected
    component, so ``doc_id == component`` identifies the canonical
    keeper. Nodes that appear in no pair are NOT emitted (they are
    their own singleton components by definition); join back to the
    corpus with a left join + coalesce(own id) if a total assignment is
    needed (see `dedup_by_components`).

    ``max_iter`` is a convergence backstop: pointer jumping needs
    ~log2(longest chain) rounds, so 30 covers any graph that fits in an
    exabyte. Hitting it raises rather than returning a wrong answer.

    ``stats``: pass a dict to receive ``{"rounds": n}`` — the number of
    label-propagation rounds actually run (the convergence round, where
    the checksum repeats, included). The iteration is driver-side, so
    this is exact observability for the O(log n) claim: star-dominated
    near-dup graphs should report 2-3, a chain of length L ~ log2(L)+2.
    The iteration cost IS the job count (one job per round), so this is
    also the number the per-run SCALE.md entries record.
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
    )
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition("v")
        .localCheckpoint(eager=False)
    )
    # One count materializes the checkpoint (the first round's action
    # previously did) and sizes the graph for the driver valve. At or
    # below the cap the iteration's per-round shuffle jobs cost far more
    # than the graph itself: collect the two long columns and solve
    # exactly on the driver, one job total.
    n_edges = edges.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        import pandas as pd

        # Arrow transfer both ways: two long columns in, two out.
        epdf = edges.select("u", "v").toPandas()
        assign = _driver_min_label(list(zip(epdf["u"].tolist(), epdf["v"].tolist())))
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver"
        log.info("connected_components solved %d edges on the driver", n_edges)
        out = pd.DataFrame(assign, columns=["doc_id", "component"])
        return pairs.sparkSession.createDataFrame(
            out.astype("int64"), "doc_id: long, component: long"
        )
    if stats is not None:
        stats["mode"] = "distributed"
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    prev_sum = None
    for rounds in range(1, max_iter + 1):
        # 1. neighbor-min: pull min(comp) across each node's neighbors.
        #    Join on v (edges are pre-partitioned by v), partial-agg min
        #    on u — map-side combine keeps the shuffle linear in |E|.
        nmin = (
            edges.join(
                labels.select(F.col("node").alias("v"), F.col("comp").alias("vcomp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nmin"))
        )
        # lazily checkpointed because the pointer-jump below self-joins
        # this frame: as one RDD referenced twice in the DAG it is
        # computed once; as two plan subtrees Catalyst would run the
        # neighbor-min shuffle join twice per round
        stepped = (
            labels.join(nmin.select(F.col("u").alias("node"), "nmin"), "node", "left")
            .select("node", F.least("comp", F.coalesce("nmin", F.col("comp"))).alias("comp"))
            .localCheckpoint(eager=False)
        )
        # 2. pointer jump: comp <- comp(comp). comp values are node ids
        #    (every label is some node's id), so the self-join resolves.
        jumped = (
            stepped.join(
                stepped.select(F.col("node").alias("pnode"), F.col("comp").alias("pcomp")),
                stepped["comp"] == F.col("pnode"),
                "left",
            )
            .select(
                "node", F.least("comp", F.coalesce("pcomp", F.col("comp"))).alias("comp")
            )
            .localCheckpoint(eager=False)
        )
        # ONE Spark job per round: this sum-action also materializes the
        # lazy checkpoint above. Labels are monotonically non-increasing,
        # so an unchanged sum <=> an unchanged labeling (decimal(38,0)
        # keeps the comparison exact far past any int64-sum overflow) —
        # strictly cheaper than a changed-rows join + limit(1).count().
        cur = jumped.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first()["s"]
        labels = jumped
        # sum over zero rows is NULL: an empty pair graph (no edges above
        # threshold, or only self-pairs) is converged immediately
        if cur is None or (prev_sum is not None and cur == prev_sum):
            if stats is not None:
                stats["rounds"] = rounds
            log.info("connected_components converged in %d rounds", rounds)
            return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
        prev_sum = cur
    raise ComponentsError(f"connected_components did not converge in {max_iter} rounds")


def component_summary(pairs: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Per-node cluster assignment with cluster size:
    (doc_id, component, n_members). ``n_members`` counts the nodes in
    the pair graph sharing the component (singletons never appear, so
    n_members >= 2). One extra partial-agg count + broadcast-back join
    on top of `connected_components`."""
    cc = connected_components(pairs, a_col, b_col)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return cc.join(sizes, "component").select("doc_id", "component", "n_members")


def dedup_by_components(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Drop every non-canonical member of each near-dup cluster from
    ``df`` — the end-to-end "apply the dedup" step. Keeps the minimum
    id per component plus every doc that appears in no pair. One
    left-anti join against the (small) loser set."""
    cc = connected_components(pairs, a_col, b_col)
    losers = cc.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    if id_col != "doc_id":
        losers = losers.withColumnRenamed("doc_id", id_col)
    return df.join(losers, id_col, "left_anti")
