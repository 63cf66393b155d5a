"""Connected components on a DataFrame edge list (large-star/small-star).

GraphFrames is unavailable here (SURVEY.md §7), so this is a hand-rolled
implementation of the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public literature; see PAPERS.md), which converges in O(log n) rounds and
keeps every round a pair of shuffle-by-key aggregations — the right shape
for very large graphs.

Scale notes:
- every iteration ends in a materialization barrier (kg.session.materialize:
  reliable ``checkpoint`` when a checkpoint dir is set, ``localCheckpoint``
  otherwise) to cut the lineage chain — iterative self-joins otherwise blow
  up the plan and re-execute history.
- convergence test is an anti-join emptiness check, not a collect.
- node ids are int64; callers hash strings first (xxhash64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.session import local_df, materialize

__all__ = ["connected_components", "incremental_components"]


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small, group by the large endpoint u:
    m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u} \\ {m}."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    neighbor_edges = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        neighbor_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _local_cc(spark, pairs) -> DataFrame:
    """Driver-side union-find for small edge sets. Identical output
    contract to the distributed path (component = min node id)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component id
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return local_df(spark, rows, "node long, component long")


def connected_components(
    edges: DataFrame, max_iter: int = 25, local_threshold: int = 200_000
) -> DataFrame:
    """edges(src: long, dst: long) -> (node: long, component: long).

    component is the minimum node id in the component. Only nodes that appear
    in the edge list are returned; callers attach isolated nodes with a left
    join + coalesce(component, node).

    Small-graph fast path: when the (symmetrized, deduped) edge count is
    <= ``local_threshold``, the component computation runs as driver-side
    union-find over one collect — the blocking+verify pipelines routinely
    reduce millions of candidates to a few hundred true edges, where
    large-star/small-star's per-iteration shuffle+materialize barriers are
    pure overhead (measured ~20s for a 323-edge graph at local[32]). The
    output contract is identical; pass ``local_threshold=0`` to force the
    distributed path (the graph_connected_components contract query does,
    so the iterative algorithm keeps its own oracle coverage).
    """
    current = materialize(_symmetrize(edges))
    n_current = current.count()
    if n_current <= local_threshold:
        return _local_cc(
            edges.sparkSession,
            [(r["src"], r["dst"]) for r in current.collect()],
        )
    for _ in range(max_iter):
        after_large = _large_star(current)
        after_small = materialize(_small_star(after_large))
        # converged when the star-contracted edge set is stable. Both sides
        # are DISTINCT edge sets, so equal counts + one-sided containment is
        # an exact equality test — one anti-join job per iteration instead
        # of two (the count over just-materialized partitions is ~free).
        n_after = after_small.count()
        stable = n_after == n_current and (
            after_small.exceptAll(current).limit(1).isEmpty()
        )
        current, n_current = after_small, n_after
        if stable:
            break

    # final state is a forest of stars: src -> component root (dst)
    members = current.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = current.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def incremental_components(
    prev: DataFrame, new_edges: DataFrame, **cc_kwargs
) -> DataFrame:
    """Fold a batch of new edges into an existing (node, component)
    assignment without re-running CC over the full historical edge set —
    the crawl-increment path for alias canonicalization: per increment,
    cost is O(assignment + batch), never O(all edges ever seen).

    Correctness: the previous assignment is itself a spanning star of the
    historical graph (every node linked to its component root), so CC over
    (assignment-as-edges UNION new batch) equals CC over (full history
    UNION new batch). Component ids stay stable across increments —
    component = min node id, so an id changes only when a batch genuinely
    merges components (the survivor is the min of the two).

    Returns (node, component) covering every previously assigned node and
    every node in the batch; singletons keep component = node.
    """
    star = prev.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    combined = star.union(new_edges.select("src", "dst"))
    assign = connected_components(combined, **cc_kwargs)
    all_nodes = (
        prev.select("node")
        .union(new_edges.select(F.col("src").alias("node")))
        .union(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return all_nodes.join(assign, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
