"""Graph analytics over the materialized knowledge graph: PageRank,
degree statistics, and entity co-occurrence.

These generalize the reference's entity output (NamedEntity rows,
/root/reference/src/hu_entity/named_entity.py:25-42) into graph-level
signals a KG consumer needs once triples are materialized: node importance
(PageRank), hub detection (degrees), and edge discovery (co-mention).

Scale shapes:
- pagerank: the edge set is normalized ONCE into (src, dst, w=1/out_deg)
  and materialized; every iteration is then exactly one shuffle join
  (ranks ⋈ edges on src) + one partial-aggregated groupBy(dst). The rank
  vector is (node, double) — tiny next to the edges — and each iteration
  ends in a materialization barrier (reliable checkpoint when a checkpoint
  dir is set) so the plan does not re-execute history. Dangling mass is a
  scalar aggregate per iteration (one extra small job, standard power
  iteration).
- degree_stats: a single union + one partial-aggregated groupBy; no join.
- entity_cooccurrence: self-join co-partitioned on the doc key, with a
  count-then-filter cap on entities-per-doc (the same skew guard as the
  dedup band joins: one boilerplate page mentioning 10^4 entities would
  otherwise contribute 10^8 pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.session import local_df, materialize

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "degree_stats",
    "entity_cooccurrence",
    "cooccurrence_pmi",
    "triangle_stats",
    "khop_reachability",
    "strongly_connected_components",
    "bowtie_decomposition",
    "harmonic_centrality",
    "shortest_paths",
    "predicate_stats",
    "entity_profile",
    "fact_evidence",
    "merge_fact_evidence",
    "label_propagation",
    "neighborhood_function",
    "modularity",
    "graph_mixing",
    "ktruss",
    "degree_powerlaw",
]


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank on a directed edge list.

    Returns (node, rank) with ranks summing to 1. Dangling-node mass
    (nodes with no out-edges) is redistributed uniformly each iteration.
    Fixed iteration count keeps the result deterministic and
    oracle-expressible (the DuckDB oracle unrolls the same recurrence).

    ``weight_col``: edge-weighted variant — each node splits its rank
    over out-edges proportionally to the weight (e.g. co-occurrence
    counts from :func:`entity_cooccurrence`), i.e. transition
    probability w / sum_w(src) instead of 1 / out_deg. Same shuffle
    shape; zero/negative weights are rejected.

    ``init_ranks``: warm start for incremental crawls — a (node, rank)
    table (typically the previous crawl's pagerank output). Nodes absent
    from it seed at 1/n; the seed vector is L1-renormalized (one scalar
    aggregate) so it is a probability distribution over the CURRENT node
    set. Power iteration contracts toward the fixed point at rate
    ~damping per round regardless of start, so seeding from standing
    ranks lets a crawl increment re-converge in a few iterations instead
    of a full cold run — the PageRank analogue of the incremental-CC
    fold (kg/cc.py cc_incremental). Same per-iteration plan either way.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("wt"))
    e = edges.select(*cols)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    # normalize once: every iteration reuses this materialized weighted
    # edge set instead of re-joining degrees
    if weight_col is None:
        out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        w_edges = materialize(
            e.join(out_deg, "src").select(
                "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w")
            )
        )
    else:
        if e.where(F.col("wt") <= 0).limit(1).count() > 0:
            raise ValueError("edge weights must be positive")
        out_wt = e.groupBy("src").agg(F.sum("wt").alias("out_wt"))
        w_edges = materialize(
            e.join(out_wt, "src").select(
                "src", "dst", (F.col("wt") / F.col("out_wt")).alias("w")
            )
        )
    has_out = w_edges.select(F.col("src").alias("node")).distinct()

    if init_ranks is not None:
        seed = nodes.join(
            init_ranks.select("node", F.col("rank").alias("_init")),
            "node",
            "left",
        ).select(
            "node", F.coalesce("_init", F.lit(1.0 / n)).alias("rank")
        )
        total = seed.agg(F.sum("rank")).first()[0]
        ranks = materialize(
            seed.select("node", (F.col("rank") / F.lit(total)).alias("rank"))
        )
    else:
        ranks = materialize(
            nodes.select("node", F.lit(1.0 / n).alias("rank"))
        )
    for _ in range(iterations):
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            w_edges.join(ranks, w_edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = materialize(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    iterations: int = 6,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: random walk with restart into the SEED set
    (uniform over seeds), the standard KG entity-relatedness primitive —
    "which entities matter most from the perspective of these?".

    Recurrence per iteration (r(v) = 1/|seeds| for seeds, else 0):
        rank'(v) = (1-d)·r(v) + d·dangling·r(v) + d·Σ_{u→v} rank(u)/out(u)
    Initial rank = r. Fixed iterations keep it deterministic and
    oracle-expressible (unrolled DuckDB recurrence, like pagerank's).
    Same scale shape as :func:`pagerank`: edges normalized and
    materialized once, each iteration is one shuffle join + one
    partial-agged groupBy + a scalar dangling aggregate with a
    materialize barrier. Seeds outside the graph are ignored.
    """
    spark = edges.sparkSession
    if not isinstance(seeds, DataFrame):
        seeds = local_df(spark, [(int(s),) for s in seeds], "node long")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds_in = materialize(seeds.select("node").distinct().join(nodes, "node"))
    ns = seeds_in.count()
    if ns == 0:
        raise ValueError("no seed nodes present in the graph")
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    w_edges = materialize(
        e.join(out_deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w")
        )
    )
    has_out = w_edges.select(F.col("src").alias("node")).distinct()
    flagged = materialize(
        nodes.join(
            seeds_in.withColumn("_s", F.lit(1)), "node", "left"
        ).select("node", F.coalesce("_s", F.lit(0)).alias("is_seed"))
    )
    ranks = materialize(
        flagged.select(
            "node",
            F.when(F.col("is_seed") == 1, F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
    )
    for _ in range(iterations):
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contrib = (
            w_edges.join(ranks, w_edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
        )
        base_seed = (1.0 - damping) / ns + damping * dangling / ns
        ranks = materialize(
            flagged.join(contrib, flagged["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.when(F.col("is_seed") == 1, F.lit(base_seed))
                    .otherwise(F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def hits(
    edges: DataFrame,
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over the
    deduplicated directed edge list — the web-graph complement to
    PageRank: authorities are pointed at by good hubs, hubs point at
    good authorities. Returns (node, hub, authority), each vector
    L1-normalized (sums to 1), rounded to 9 places.

    Per iteration: auth(v) = Σ_{u→v} hub(u), then L1-normalize; hub(u) =
    Σ_{u→v} auth(v), then L1-normalize — two shuffle joins + two
    partial-agged groupBys + two scalar normalization aggregates, with
    materialize barriers, the :func:`pagerank` scale shape. Fixed
    iterations keep it deterministic and oracle-expressible (the DuckDB
    oracle unrolls the identical recurrence).
    """
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    scores = materialize(
        nodes.select(
            "node",
            F.lit(1.0 / n).alias("hub"),
            F.lit(1.0 / n).alias("auth"),
        )
    )
    for _ in range(iterations):
        a_raw = (
            e.join(scores, e["src"] == scores["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("a"))
        )
        auth = materialize(
            nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left").select(
                "node", F.coalesce("a", F.lit(0.0)).alias("a")
            )
        )
        a_sum = auth.agg(F.sum("a")).first()[0]
        auth = materialize(
            auth.select("node", (F.col("a") / a_sum).alias("auth"))
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("h"))
        )
        hub = materialize(
            nodes.join(h_raw, nodes["node"] == h_raw["src"], "left").select(
                "node", F.coalesce("h", F.lit(0.0)).alias("h")
            )
        )
        h_sum = hub.agg(F.sum("h")).first()[0]
        scores = materialize(
            hub.join(auth, "node").select(
                "node", (F.col("h") / h_sum).alias("hub"), "auth"
            )
        )
    return scores.select(
        "node",
        F.round("hub", 9).alias("hub"),
        F.round("auth", 9).alias("authority"),
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node in/out/total degree over a directed edge list — one
    partial-aggregated groupBy, no join."""
    both = edges.select(
        F.col(src).alias("node"), F.lit(1).alias("out_d"), F.lit(0).alias("in_d")
    ).union(
        edges.select(
            F.col(dst).alias("node"), F.lit(0).alias("out_d"), F.lit(1).alias("in_d")
        )
    )
    return both.groupBy("node").agg(
        F.sum("out_d").cast("long").alias("out_degree"),
        F.sum("in_d").cast("long").alias("in_degree"),
        (F.sum("out_d") + F.sum("in_d")).cast("long").alias("degree"),
    )


def _canonical_undirected(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Distinct canonical (u < v) undirected edges, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _enumerate_triangles(und: DataFrame) -> DataFrame:
    """(a, b1, b2) — each triangle of the canonical undirected edge set
    exactly once, via the degree-ordered wedge join (see triangle_stats
    docstring for the scale argument). ``und`` must be canonical
    (u < v, distinct, no self-loops)."""
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    und = materialize(und)
    with_deg = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    lo = oriented.select(
        F.col("a"), F.col("b").alias("b1"), F.col("db").alias("db1")
    )
    hi = oriented.select(
        F.col("a"), F.col("b").alias("b2"), F.col("db").alias("db2")
    )
    wedges = lo.join(hi, "a").where(
        (F.col("db1") < F.col("db2"))
        | ((F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2")))
    )
    return wedges.join(
        oriented.select(
            F.col("a").alias("b1"), F.col("b").alias("b2")
        ),
        ["b1", "b2"],
        "left_semi",
    ).select("a", "b1", "b2")


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    undirected projection of a directed edge list.

    Returns (node, degree, triangles, lcc) where degree is the distinct
    undirected neighbor count and lcc = 2T / (d·(d-1)) (0 when d < 2),
    rounded to 6 places.

    Scale shape — degree-ordered wedge counting (the MapReduce-classic
    trick): every edge is oriented from its lower-(degree, node) endpoint
    to the higher one, so a node's oriented out-neighborhood is bounded
    by O(sqrt(m)) regardless of raw degree, and the wedge self-join
    cannot blow up on hubs the way a naive neighbor self-join does. Each
    triangle then appears as exactly ONE wedge at its min-rank vertex
    plus one closing-edge probe. Three shuffles total: canonical-edge
    distinct, the wedge join, and the closing-edge semi-probe (the last
    two share the oriented edge set's partitioning on the wedge apex).
    """
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orientation + wedge join + closing-edge probe live in
    # _enumerate_triangles (shared with ktruss)
    tris = _enumerate_triangles(und)
    per_node = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b1").alias("node")))
        .union(tris.select(F.col("b2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    d, t = F.col("d"), F.coalesce(F.col("t"), F.lit(0))
    return deg.join(per_node, "node", "left").select(
        "node",
        d.cast("long").alias("degree"),
        t.cast("long").alias("triangles"),
        F.round(
            F.when(d >= 2, 2.0 * t / (d * (d - F.lit(1.0)))).otherwise(0.0),
            6,
        ).alias("lcc"),
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 256,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood link-prediction scores over the undirected simple
    projection of a directed edge list: for every non-adjacent pair (u, v)
    sharing at least ``min_common`` neighbors, common-neighbor count,
    Jaccard, and Adamic-Adar — the classic KG-completion candidate ranker
    (which missing edges does the graph itself suggest?).

    Returns (u, v, common_neighbors, jaccard, adamic_adar), u < v, floats
    rounded to 9 places. Adamic-Adar sums 1/ln(deg(w)) over shared
    neighbors w; a wedge center always has degree >= 2, so ln is safe.

    Scale shape: the wedge self-join through the shared neighbor costs
    sum_w deg(w)^2, so hubs above ``max_degree`` are excluded as wedge
    CENTERS (their far-end pairs are the quadratic term; standard
    practice — a hub shared by everything carries no signal and its
    Adamic-Adar weight is ~0 anyway). Ends keep their full exact degree
    for Jaccard. One adjacency groupBy, one self-join co-partitioned on
    the center, one (u, v) partial-agged groupBy, one anti-join against
    existing edges, two degree joins (AQE-broadcastable). Set
    ``max_degree`` above the graph's max degree for exact scores.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = materialize(und)
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("degree"))
    capped = materialize(
        adj.join(deg, "node").where(F.col("degree") <= max_degree)
    )
    lo = capped.select("node", F.col("nbr").alias("cu"), "degree")
    hi = capped.select("node", F.col("nbr").alias("cv"))
    scored = (
        lo.join(hi, "node")
        .where(F.col("cu") < F.col("cv"))
        .groupBy(F.col("cu").alias("u"), F.col("cv").alias("v"))
        .agg(
            F.count("*").alias("cn"),
            F.sum(1.0 / F.log(F.col("degree"))).alias("aa"),
        )
        .where(F.col("cn") >= min_common)
    )
    cand = scored.join(und, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    return cand.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        F.col("cn").cast("long").alias("common_neighbors"),
        F.round(
            F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 9
        ).alias("jaccard"),
        F.round("aa", 9).alias("adamic_adar"),
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 16,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core of the undirected simple projection: the maximal subgraph
    where every node keeps degree >= k — the standard dense-subgraph
    filter for KG pruning (peripheral chains/leaves peel away, reliable
    well-connected entities remain). Returns (node, degree) with degree
    measured INSIDE the core.

    Scale shape: iterative peeling — each round is one partial-aggregated
    degree groupBy plus two left-semi joins that shrink the adjacency to
    surviving endpoints, with a materialize barrier; rounds needed =
    peeling depth (graph diameter bound), convergence is a count check on
    just-materialized partitions, not a collect. Integer-only semantics,
    so the unrolled DuckDB oracle is bit-exact.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = materialize(
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
            und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
    )
    n_adj = adj.count()
    for _ in range(max_rounds):
        if n_adj == 0:
            break
        alive = (
            adj.groupBy("node")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= k)
            .select("node")
        )
        nxt = materialize(
            adj.join(alive, "node", "left_semi").join(
                alive.select(F.col("node").alias("nbr")), "nbr", "left_semi"
            )
        )
        n_nxt = nxt.count()
        adj, stable = nxt, n_nxt == n_adj
        n_adj = n_nxt
        if stable:
            break
    return (
        adj.groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
        .where(F.col("degree") >= k)
    )


def _local_scc(spark, pairs) -> DataFrame:
    """Driver-side iterative Tarjan for small edge sets. Identical
    output contract to the distributed path (scc = min member id,
    everything resolved)."""
    adj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for a, b in pairs:
        if a == b:
            continue
        nodes.add(a)
        nodes.add(b)
        adj.setdefault(a, []).append(b)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]

    def strongconnect(root: int) -> None:
        # explicit work stack: (node, iterator position) — web-scale
        # habit even driver-side; Python recursion caps at ~1000
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            children = adj.get(v, ())
            for i in range(pi, len(children)):
                w = children[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for n in sorted(nodes):
        if n not in index:
            strongconnect(n)
    rows = [
        (int(n), int(min(comp)), True) for comp in sccs for n in comp
    ]
    return local_df(spark, rows, "node long, scc long, resolved boolean")


def _min_label_fixpoint(
    labels: DataFrame, e: DataFrame, forward: bool, max_iters: int
) -> DataFrame:
    """Propagate min node id along (forward) or against (backward) edge
    direction to fixpoint: returns (node, lbl) with lbl = min id in the
    node's ancestor (forward) / descendant (backward) set, self
    included. Each iteration is one shuffle join + one partial-agged
    min + a materialization barrier."""
    key_in, key_out = ("src", "dst") if forward else ("dst", "src")
    for _ in range(max_iters):
        msgs = (
            e.join(labels.withColumnRenamed("node", key_in), key_in)
            .groupBy(F.col(key_out).alias("node"))
            .agg(F.min("lbl").alias("m"))
        )
        joined = materialize(labels.join(msgs, "node", "left"))
        if joined.where(F.col("m") < F.col("lbl")).isEmpty():
            return joined.select("node", "lbl")
        labels = materialize(
            joined.select(
                "node",
                F.least("lbl", F.coalesce("m", "lbl")).alias("lbl"),
            )
        )
    return labels


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 16,
    max_prop_iters: int = 50,
    src: str = "src",
    dst: str = "dst",
    local_threshold: int = 200_000,
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list:
    (node, scc, resolved) with scc = min member id. The web graph's
    bowtie structure (Broder et al., WWW'00) is an SCC decomposition:
    the giant CORE is one SCC; IN/OUT/tendrils are the DAG around it —
    the web-graph analysis the weak-CC operator (kg/cc.py) cannot see
    because it ignores direction.

    Distributed path — FW-BW-Trim peeling (the MultiStep/Slota family,
    public literature):
      per round: (1) TRIM: nodes with no in- or no out-edges in the
      remaining subgraph are singleton SCCs (any ≥2-node SCC has a
      cycle through every member) — two anti-joins; (2) PEEL: forward
      and backward min-label propagation to fixpoint; nodes whose
      min-ancestor equals their min-descendant form whole SCCs labeled
      by that anchor (the anchor is then mutually reachable, and whole
      SCCs always share both labels). Remove assigned nodes and repeat.
    Invariant: only whole SCCs are ever removed, so remaining-subgraph
    SCCs stay original SCCs. Each propagation is O(diameter) rounds of
    one shuffle join + min-agg with materialize barriers; real web
    graphs are one giant core + shallow periphery, so few peel rounds
    dominate. A pathological long DAG chain peels one layer per round —
    nodes still unassigned after ``max_rounds`` come back
    ``resolved=false`` with scc = themselves (the bounded-rounds
    disposition of resolve_redirects).

    Small-graph fast path (same discipline as connected_components):
    when the deduped edge count is <= ``local_threshold``, run
    driver-side iterative Tarjan over one collect — the contract-scale
    graphs reduce to hundreds of edges where per-round barriers are
    pure overhead. The distributed path is pinned equal to Tarjan by
    unit test.
    """
    spark = edges.sparkSession
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    if e.count() <= local_threshold:
        return _local_scc(
            spark, [(r.src, r.dst) for r in e.collect()]
        )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    all_nodes = nodes
    assigned = local_df(spark, [], "node long, scc long")
    for _ in range(max_rounds):
        if nodes.isEmpty():
            break
        # TRIM: degree-0 sides are singleton SCCs
        have_out = e.select(F.col("src").alias("node")).distinct()
        have_in = e.select(F.col("dst").alias("node")).distinct()
        trimmed = materialize(
            nodes.join(have_out, "node", "left_anti").union(
                nodes.join(have_in, "node", "left_anti")
            ).distinct()
        )
        if not trimmed.isEmpty():
            assigned = materialize(
                assigned.union(
                    trimmed.select("node", F.col("node").alias("scc"))
                )
            )
            nodes = materialize(nodes.join(trimmed, "node", "left_anti"))
            e = materialize(
                e.join(
                    trimmed.withColumnRenamed("node", "src"), "src",
                    "left_anti",
                ).join(
                    trimmed.withColumnRenamed("node", "dst"), "dst",
                    "left_anti",
                )
            )
            if nodes.isEmpty():
                break
        # PEEL: F == B anchors whole SCCs
        init = nodes.select("node", F.col("node").alias("lbl"))
        fwd = _min_label_fixpoint(init, e, True, max_prop_iters)
        bwd = _min_label_fixpoint(init, e, False, max_prop_iters).select(
            "node", F.col("lbl").alias("blbl")
        )
        hit = materialize(
            fwd.join(bwd, "node")
            .where(F.col("lbl") == F.col("blbl"))
            .select("node", F.col("lbl").alias("scc"))
        )
        if hit.isEmpty():
            continue
        assigned = materialize(assigned.union(hit))
        nodes = materialize(
            nodes.join(hit.select("node"), "node", "left_anti")
        )
        e = materialize(
            e.join(
                hit.select(F.col("node").alias("src")), "src", "left_anti"
            ).join(
                hit.select(F.col("node").alias("dst")), "dst", "left_anti"
            )
        )
    return all_nodes.join(assigned, "node", "left").select(
        "node",
        F.coalesce("scc", "node").alias("scc"),
        F.col("scc").isNotNull().alias("resolved"),
    )


def harmonic_centrality(
    edges: DataFrame,
    n_landmarks: int = 16,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Landmark-approximated harmonic centrality: for each node v,
    ``harmonic = sum over reached landmarks l of 1/d(l, v)`` (distance 0,
    i.e. v itself a landmark, contributes nothing). Returns
    (node, n_reached, harmonic) for EVERY node (unreached nodes get 0/0.0).
    The Eppstein–Wang estimator scales this by (N-1)/k to approximate the
    full harmonic centrality; we return the raw landmark sum — the scale
    factor is a constant that does not change the ranking.

    Landmarks are chosen deterministically: the ``n_landmarks`` smallest
    nodes by md5(node as string) — an unbiased sample that any SQL engine
    reproduces exactly.

    Exactness across engines: distances are integers <= ``rounds``, so the
    sum is accumulated in INTEGER space as sum(L/d) with L = lcm(1..rounds)
    and divided by L once at the end — one correctly-rounded IEEE division,
    no float-summation order sensitivity, bit-identical in Spark and the
    DuckDB oracle.

    Scale shape: k simultaneous BFS sweeps in one frontier — state is
    (landmark, node, dist), at most k·V rows; each round is ONE shuffle
    join (frontier ⋈ edges, co-partitioned on the edge source key) + a
    partial-aggregated distinct + an anti-join against visited, with a
    materialize barrier so round i+1 never replays 1..i. Total work is
    O(k·E) regardless of graph size — the standard way to get centrality
    at 10^9-node scale where exact all-pairs is impossible. Nodes beyond
    ``rounds`` hops from a landmark contribute 0 for it (document the
    bound; at crawl scale 6 rounds cover the small-world core).
    """
    import math

    lcm = math.lcm(*range(1, int(rounds) + 1))
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = materialize(e.where(F.col("src") != F.col("dst")).distinct())
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    landmarks = materialize(
        nodes.orderBy(F.md5(F.col("node").cast("string"))).limit(
            int(n_landmarks)
        ).select(F.col("node").alias("lm"))
    )
    visited = materialize(
        landmarks.select(
            "lm", F.col("lm").alias("node"), F.lit(0).alias("dist")
        )
    )
    frontier = visited.select("lm", "node")
    for i in range(1, int(rounds) + 1):
        nxt = materialize(
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select("lm", F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("lm", "node"), ["lm", "node"], "left_anti")
        )
        if nxt.isEmpty():
            break
        visited = materialize(
            visited.union(nxt.select("lm", "node", F.lit(i).alias("dist")))
        )
        frontier = nxt
    sums = (
        visited.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(
                (F.lit(lcm) / F.col("dist")).cast("long")
            ).alias("_inv_sum"),
        )
    )
    return nodes.join(sums, "node", "left").select(
        "node",
        F.coalesce(F.col("n_reached"), F.lit(0).cast("long")).alias(
            "n_reached"
        ),
        (
            F.coalesce(F.col("_inv_sum"), F.lit(0).cast("long"))
            / F.lit(float(lcm))
        ).alias("harmonic"),
    )


def khop_reachability(
    edges: DataFrame,
    seeds,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: (node, dist) with dist = minimal hop count from
    any seed, bounded at ``k`` hops. ``seeds`` is a DataFrame with a
    ``node`` column or a Python sequence of node ids.

    KG use: "everything within 3 hops of these entities" — the subgraph
    extraction primitive for entity neighborhood views.

    Scale shape — Pregel-style frontier expansion: each hop is ONE
    shuffle join (frontier ⋈ edges, co-partitioned on the source key)
    plus a left-anti against the visited set and a distinct; frontier
    and visited are materialized per hop so hop i+1 never replays
    1..i's lineage. The frontier is the working set — it grows then
    shrinks as the BFS saturates; visited is (node, dist), tiny next to
    edges at any scale. Early-exits when a frontier empties.
    """
    spark = edges.sparkSession
    if not isinstance(seeds, DataFrame):
        seeds = local_df(spark, [(int(s),) for s in seeds], "node long")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = materialize(e.where(F.col("src") != F.col("dst")).distinct())

    visited = materialize(
        seeds.select("node", F.lit(0).cast("long").alias("dist")).distinct()
    )
    frontier = visited.select("node")
    for i in range(1, k + 1):
        nxt = materialize(
            e.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        visited = materialize(
            visited.union(
                nxt.select("node", F.lit(i).cast("long").alias("dist"))
            )
        )
        frontier = nxt
    return visited


def entity_cooccurrence(
    mentions: DataFrame,
    doc_col: str = "url",
    entity_col: str = "entity_name",
    min_count: int = 1,
    max_entities_per_doc: int = 1000,
) -> DataFrame:
    """Entity co-mention edges: (entity_a < entity_b, n_docs) for every
    pair of entities mentioned in the same document.

    The self-join is co-partitioned on the doc key; docs with more than
    ``max_entities_per_doc`` distinct entities are dropped before pairing
    (count-then-filter, the standard skew cap: a pathological page would
    otherwise contribute quadratically many pairs while carrying no
    signal).
    """
    bounded = _bounded_entities(
        mentions, doc_col, entity_col, max_entities_per_doc
    )
    a = bounded.select("doc", F.col("entity").alias("entity_a"))
    b = bounded.select("doc", F.col("entity").alias("entity_b"))
    return (
        a.join(b, "doc")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_count)
    )


def _bounded_entities(
    mentions: DataFrame, doc_col: str, entity_col: str, cap: int
) -> DataFrame:
    """(doc, entity) distinct pairs with over-cap docs dropped — shared
    by the co-occurrence count and its PMI scoring."""
    ents = mentions.select(
        F.col(doc_col).alias("doc"), F.col(entity_col).alias("entity")
    ).distinct()
    per_doc = ents.groupBy("doc").agg(F.count("*").alias("n_ents"))
    return ents.join(
        per_doc.where(F.col("n_ents") <= cap).select("doc"), "doc"
    )


def cooccurrence_pmi(
    mentions: DataFrame,
    doc_col: str = "url",
    entity_col: str = "entity_name",
    min_count: int = 1,
    max_entities_per_doc: int = 1000,
) -> DataFrame:
    """Pointwise mutual information over entity co-mentions:
    (entity_a, entity_b, n_docs, pmi) with
    pmi = ln(n_docs · N / (c_a · c_b)), N = docs surviving the skew cap,
    c_x = docs mentioning x — the standard relatedness edge weight for
    the KG graph (feed exp(pmi) into pagerank(weight_col=...)).

    Shape: the pair counts are :func:`entity_cooccurrence`'s one capped
    self-join; the per-entity doc counts are a vocabulary-sized
    aggregate joined back broadcast; N is one scalar count. Rounded to
    6 places (deterministic cross-engine: exact-int ratios through ln).
    """
    bounded = materialize(
        _bounded_entities(mentions, doc_col, entity_col,
                          max_entities_per_doc)
    )
    n_docs_total = bounded.select("doc").distinct().count()
    ent_counts = bounded.groupBy("entity").agg(F.count("*").alias("c"))
    a = bounded.select("doc", F.col("entity").alias("entity_a"))
    b = bounded.select("doc", F.col("entity").alias("entity_b"))
    pairs = (
        a.join(b, "doc")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_count)
    )
    ca = ent_counts.select(
        F.col("entity").alias("entity_a"), F.col("c").alias("_ca")
    )
    cb = ent_counts.select(
        F.col("entity").alias("entity_b"), F.col("c").alias("_cb")
    )
    pmi = F.round(
        F.log(
            F.col("n_docs") * F.lit(float(n_docs_total))
            / (F.col("_ca") * F.col("_cb"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(ca), "entity_a")
        .join(F.broadcast(cb), "entity_b")
        .select("entity_a", "entity_b", "n_docs", pmi.alias("pmi"))
    )


def shortest_paths(
    edges: DataFrame,
    seeds,
    rounds: int = 12,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    directed: bool = True,
) -> DataFrame:
    """Multi-source weighted shortest paths (bounded-round delta-stepping
    Bellman-Ford): (node, dist) with dist = minimum total edge weight from
    any seed (hop count when ``weight_col`` is None — the weighted
    generalization of :func:`khop_reachability`). ``seeds`` is a DataFrame
    with a ``node`` column or a Python sequence of ids.

    KG use: proximity ranking over relatedness-weighted edges ("which
    entities sit within weight w of this set"), where hop count alone
    over-counts weak co-occurrence links.

    Exactness: non-negative weights assumed. After r rounds every path of
    <= r hops has been relaxed, so the result is exact SSSP once
    ``rounds`` reaches the shortest-path-tree hop depth; the converged
    state is a fixed point (the frontier empties and the loop exits), so
    a generous bound costs nothing extra.

    Scale shape — frontier-only relaxation: each round joins ONLY the
    nodes improved last round against edges (one shuffle co-partitioned
    on the edge source key), takes a partial-aggregated min per dst, and
    keeps strict improvements via one broadcast-or-shuffle join against
    the current state. State is (node, dist) — tiny next to edges at any
    scale — and is materialized per round so round i+1 never replays
    1..i's lineage (reliable checkpoint when a dir is set, kg.session.
    materialize). Frontier size follows the BFS wave: grows, saturates,
    empties.
    """
    spark = edges.sparkSession
    if not isinstance(seeds, DataFrame):
        seeds = local_df(spark, [(int(s),) for s in seeds], "node long")
    wt = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    ).alias("wt")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), wt)
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"), wt)
        )
    # parallel edges collapse to their min weight once, up front
    e = materialize(
        e.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("wt").alias("wt"))
    )
    dist = materialize(
        seeds.select("node", F.lit(0.0).alias("dist")).distinct()
    )
    frontier = dist
    for _ in range(int(rounds)):
        cand = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("wt")).alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        improved = materialize(
            cand.join(
                dist.withColumnRenamed("dist", "_old"), "node", "left"
            )
            .where(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist")
        )
        if improved.isEmpty():
            break
        dist = materialize(
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
        )
        frontier = improved
    return dist


def predicate_stats(
    triples: DataFrame,
    pred: str = "pred",
    subj: str = "subj",
    obj: str = "obj",
    doc: str = "url",
) -> DataFrame:
    """Per-predicate shape profile of a triple store: counts, distinct
    subject/object/document cardinalities, and the AMIE-style
    functionality scores fun = |distinct subj| / |triples| and
    inv_fun = |distinct obj| / |triples| (1.0 = the predicate maps each
    subject / object to exactly one partner). KG consumers use these to
    pick join directions, spot extraction noise (a "born_in" with
    fun << 1 means duplicate/conflicting objects), and seed rule mining.

    Generalizes the reference's flat entity output
    (/root/reference/src/hu_entity/named_entity.py:25-42) into the
    schema-level statistics a materialized graph table needs.

    Scale shape: one groupBy(pred) with three distinct aggregates —
    Spark plans this as an Expand (3 rows per input) + two-phase partial
    aggregation, so hot predicates are pre-aggregated map-side and exact.
    At 10^12 triples swap countDistinct for approx_count_distinct if a
    1-2% error is acceptable; exact is kept here because the contract
    oracle is exact.
    """
    n = F.count(F.lit(1)).cast("double")
    return (
        triples.groupBy(F.col(pred).alias("pred"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct(subj).alias("n_subj"),
            F.countDistinct(obj).alias("n_obj"),
            F.countDistinct(doc).alias("n_docs"),
            (F.countDistinct(subj) / n).alias("fun"),
            (F.countDistinct(obj) / n).alias("inv_fun"),
        )
    )


def entity_profile(
    linked: DataFrame,
    max_surfaces: int = 16,
) -> DataFrame:
    """Per-canonical-entity profile over linked triples
    (url, subj, pred, obj, subj_id, obj_id — the output of
    :func:`kg.stages.link.link_triples`): how often the entity appears in
    each role, in how many documents, its most frequent predicate as
    subject (ties broken lexicographically), and a bounded sample of the
    surface forms it was linked from. This is the entity-card a KG
    consumer renders and the linker's feedback table (surface variety
    per id exposes alias-dictionary gaps). Unlinked rows (null id on the
    relevant side) are ignored.

    Scale shape: one union of the two role projections, then three
    partial-aggregated groupBys joined on entity_id — each keyed by the
    entity, so AQE's skew handling applies to hot entities. The surface
    sample is distinct-ed and window-ranked to ``max_surfaces`` BEFORE
    collect_list (no unbounded agg buffer for celebrity entities, same
    discipline as kg.ops.weblinks.anchor_text_index). top_pred is a
    count + row_number, not a collect.
    """
    subj = linked.where(F.col("subj_id").isNotNull()).select(
        F.col("subj_id").alias("entity_id"),
        "url",
        "pred",
        F.col("subj").alias("surface"),
        F.lit(1).alias("is_subj"),
    )
    obj = linked.where(F.col("obj_id").isNotNull()).select(
        F.col("obj_id").alias("entity_id"),
        "url",
        F.lit(None).cast("string").alias("pred"),
        F.col("obj").alias("surface"),
        F.lit(0).alias("is_subj"),
    )
    both = subj.unionByName(obj)
    counts = both.groupBy("entity_id").agg(
        F.sum("is_subj").alias("n_as_subj"),
        F.sum(1 - F.col("is_subj")).alias("n_as_obj"),
        F.countDistinct("url").alias("n_docs"),
    )
    top_pred = (
        subj.groupBy("entity_id", "pred")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("entity_id").orderBy(
                    F.col("count").desc(), F.col("pred")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("entity_id", F.col("pred").alias("top_pred"))
    )
    surfaces = (
        both.select("entity_id", "surface")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("entity_id").orderBy("surface")
            ),
        )
        .where(F.col("rn") <= int(max_surfaces))
        .groupBy("entity_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list("surface")), "|").alias(
                "surfaces"
            )
        )
    )
    return (
        counts.join(top_pred, "entity_id", "left").join(surfaces, "entity_id")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (community detection):
    every node starts with its own id as label; each round, every node
    adopts the most frequent label among its neighbors, ties broken to the
    SMALLEST label; isolated nodes keep their label. Returns (node, label)
    after ``rounds`` rounds.

    Classic async LPA is run-order-dependent; the synchronous
    max-count/min-label update is a pure function of the previous round,
    so the result is reproducible across partitionings and clusters (the
    property every other operator here pins), at the cost of possible
    bipartite oscillation — callers pick a fixed round budget, as GraphX's
    LPA does.

    Scale shape per round: one shuffle join (labels ⋈ edges, both keyed on
    the node id) + one partial-agged count + one partial-aggable argmax
    (max over a (count, -label) struct — no per-node window), with the
    label state (|V| rows) materialized per round so round i+1 never
    replays round i's lineage. Undirected: edges are symmetrized once.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e = materialize(e)
    nodes = e.select(F.col("u").alias("node")).distinct()
    labels = materialize(nodes.select("node", F.col("node").alias("label")))
    for _ in range(int(rounds)):
        votes = (
            e.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("n"))
        )
        best = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("n"), (-F.col("label")).alias("neg"))
                ).alias("b")
            )
            .select("node", (-F.col("b.neg")).alias("new_label"))
        )
        labels = materialize(
            labels.join(best, "node", "left").select(
                "node",
                F.coalesce("new_label", "label").cast("long").alias("label"),
            )
        )
    return labels


def fact_evidence(
    linked: DataFrame,
    ts_col: str = "warc_ts",
    max_urls: int = 8,
) -> DataFrame:
    """Aggregate linked triples into canonical FACTS with provenance: one
    row per (subj_id, pred, obj_id) with evidence counts, the document
    span of the claim (first/last seen timestamp), and a bounded,
    deterministic sample of source URLs. This is the dedup step between
    "extraction emitted a triple" and "the KG asserts a fact" — the
    reference stops at per-request entity rows
    (/root/reference/src/hu_entity/named_entity.py:25-42); a standing KG
    needs the corpus-level rollup with provenance so downstream consumers
    can rank facts by support and audit any assertion back to pages.

    Input is the output of :func:`kg.stages.link.link_triples` joined
    with a page timestamp (``ts_col``); only fully-linked rows (both ids
    resolved) become facts — half-linked triples stay in the mention
    table, they are not assertable facts.

    Scale shape: two exchanges total and no join. A partial-aggregated
    pre-aggregation on (fact, url) collapses per-document repeats (and is
    what countDistinct would have shuffled anyway), then one exchange on
    the fact key feeds a window rank whose partitioning the final groupBy
    reuses (zero further shuffles — verified in the plan: 2 Exchange
    nodes, no SortMergeJoin). The URL sample is row_number-bounded to
    ``max_urls`` BEFORE collect_list (no unbounded agg buffer for viral
    facts — the same discipline as entity_profile / anchor_text_index).
    AQE skew handling applies to hot facts.
    """
    keys = ["subj_id", "pred", "obj_id"]
    facts = linked.where(
        F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
    )
    per_url = facts.groupBy(*keys, "url").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(ts_col).alias("_first"),
        F.max(ts_col).alias("_last"),
    )
    ranked = per_url.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(*keys).orderBy("url")),
    )
    return ranked.groupBy(*keys).agg(
        F.sum("_n").alias("n_evidence"),
        F.count(F.lit(1)).alias("n_docs"),
        F.min("_first").alias("first_seen"),
        F.max("_last").alias("last_seen"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") <= int(max_urls), F.col("url"))
            )
        ).alias("sample_urls"),
    )


def merge_fact_evidence(
    parts: list[DataFrame],
    max_urls: int = 8,
) -> DataFrame:
    """Monoid merge of :func:`fact_evidence` tables — the incremental
    path for a standing fact store: fold each crawl batch's rollup into
    the running table instead of re-aggregating the whole corpus.

    PRECONDITION: the inputs cover DISJOINT url sets per fact (the
    checkpoint/incremental-refresh machinery guarantees per-url
    delete-insert for re-crawls, kg/ops/merge.py). Under that invariant
    every field merges exactly: counts add, the timeline is min/max, and
    the bounded URL sample is closed under merge (each side's sample
    holds its k smallest urls, so the union's k smallest is a subset of
    the concatenated samples) — merged output == batch recompute,
    row-for-row, which the contract oracle asserts.

    Scale shape: one union (no shuffle) + one partial-aggregable groupBy
    on the fact key. The sample merge is a collect_list of ≤ n_parts
    bounded arrays per fact — flatten, sort, slice, all JVM.
    """
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(*["subj_id", "pred", "obj_id"]).agg(
        F.sum("n_evidence").alias("n_evidence"),
        F.sum("n_docs").alias("n_docs"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("sample_urls"))),
            1,
            int(max_urls),
        ).alias("sample_urls"),
    )


def fact_intervals(
    linked: DataFrame,
    ts_col: str = "warc_ts",
    gap_s: int = 30 * 86400,
    asof_us: int | None = None,
) -> DataFrame:
    """Temporal validity intervals per fact — the valid-time primitive of
    a temporal KG built FROM OBSERVATIONS (a fact asserted by crawls in
    2019-2021 and again in 2024 was plausibly false in between; a single
    [first_seen, last_seen] span, fact_evidence's shape, cannot say so):
    each (subj_id, pred, obj_id)'s evidence timeline is segmented at
    gaps longer than ``gap_s`` into maximal observation intervals.

    Returns (subj_id, pred, obj_id, interval_id, valid_from_us,
    valid_to_us, n_evidence) — interval_id numbers a fact's intervals
    from 1 in time order; timestamps are exact BIGINT micros (no float
    in the hash surface). With ``asof_us`` set, adds ``active_asof``:
    whether the fact had an interval covering that instant (the
    point-in-time snapshot query).

    Scale shape: one partial-agged pre-aggregation on (fact, ts)
    collapses same-instant repeats, then ONE exchange on the fact key
    feeds two window passes (gap flag, running interval id) whose
    partitioning the final groupBy reuses — one corpus shuffle total,
    the fact_evidence discipline. AQE skew handling covers viral facts.
    """
    keys = ["subj_id", "pred", "obj_id"]
    base = (
        linked.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        .groupBy(*keys, F.unix_micros(F.col(ts_col)).alias("us"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy(*keys).orderBy("us")
    gap_us = int(gap_s) * 1_000_000
    flagged = base.withColumn(
        "_brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > gap_us),
            1,
        ).otherwise(0),
    )
    seg = flagged.withColumn(
        "_iv",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = seg.groupBy(*keys, F.col("_iv").cast("long").alias("interval_id")).agg(
        F.min("us").alias("valid_from_us"),
        F.max("us").alias("valid_to_us"),
        F.sum("_n").cast("long").alias("n_evidence"),
    )
    if asof_us is not None:
        out = out.withColumn(
            "active_asof",
            (F.col("valid_from_us") <= int(asof_us))
            & (F.col("valid_to_us") >= int(asof_us)),
        )
    return out


def fact_freshness(
    linked: DataFrame,
    asof_us: int,
    ts_col: str = "warc_ts",
    half_life_days: float = 180.0,
) -> DataFrame:
    """Recency-weighted fact support — the refresh/conflict-resolution
    ranking signal for a standing KG (evidence counts alone let a
    thousand 2014 assertions outrank last week's correction; a crawl
    that keeps RE-asserting a fact should keep it hot):

    (subj_id, pred, obj_id, n_evidence, last_seen_us,
     freshness = sum over evidence of 2^(-age_days / half_life))

    evaluated as of ``asof_us``. Fresh evidence contributes ~1, evidence
    one half-life old contributes 0.5. freshness is rounded to 6dp
    (bounded float reduction over per-row identical pow algebra — the
    PLANS.md class-E discipline; the exact BIGINT n_evidence and
    last_seen_us anchor the contract).

    Scale shape: one pure-map weight expression + ONE partial-aggregable
    fact-key groupBy — the fact_evidence shuffle shape."""
    keys = ["subj_id", "pred", "obj_id"]
    us = F.unix_micros(F.col(ts_col))
    age_days = (F.lit(int(asof_us)) - us) / F.lit(86400.0 * 1_000_000)
    w = F.pow(F.lit(2.0), -age_days / F.lit(float(half_life_days)))
    return (
        linked.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.max(us).alias("last_seen_us"),
            F.round(F.sum(w), 6).alias("freshness"),
        )
    )


def bowtie_decomposition(
    edges: DataFrame,
    max_rounds: int = 16,
    reach_hops: int = 32,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Broder bowtie decomposition (WWW'00) of a directed graph:
    (node, scc, region) with region ∈ {'core', 'in', 'out', 'other'} —
    core = the LARGEST strongly connected component (ties → smallest
    scc id), in = nodes that reach the core but are not in it, out =
    nodes the core reaches, other = tendrils/tubes/disconnected pieces.
    The canonical macro-map of a web crawl: how much of the graph a
    crawler seeded in the core can ever discover (core+out), and how
    much only links IN.

    Composition, not a new algorithm: one
    :func:`strongly_connected_components` pass, then two multi-source
    BFS sweeps (:func:`khop_reachability`, forward and on the reversed
    edge list) seeded with the core — each hop one frontier join with
    materialize barriers; ``reach_hops`` bounds the sweep (periphery
    chains longer than it land in 'other', the bounded-rounds
    disposition used everywhere else in this module).
    """
    scc = strongly_connected_components(
        edges, max_rounds=max_rounds, src=src, dst=dst
    )
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("_n"))
    top = sizes.orderBy(F.desc("_n"), "scc").limit(1)
    core_nodes = materialize(
        scc.join(F.broadcast(top.select("scc")), "scc").select("node")
    )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    fwd = khop_reachability(e, core_nodes, k=reach_hops).select(
        "node", F.lit(True).alias("_fwd")
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = khop_reachability(rev, core_nodes, k=reach_hops).select(
        "node", F.lit(True).alias("_bwd")
    )
    in_core = core_nodes.withColumn("_core", F.lit(True))
    return (
        scc.join(in_core, "node", "left")
        .join(fwd, "node", "left")
        .join(bwd, "node", "left")
        .select(
            "node",
            "scc",
            F.when(F.col("_core"), F.lit("core"))
            .when(F.col("_bwd"), F.lit("in"))
            .when(F.col("_fwd"), F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("region"),
        )
    )


def neighborhood_function(
    edges: DataFrame,
    rounds: int = 6,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the approximate neighborhood
    function N(r) = estimated number of (u, v) pairs with dist(u, v) <= r,
    computed by iterating HyperLogLog counter merges along edges — the
    algorithm behind the "four degrees of separation" web-graph
    measurements, and the scalable route to effective-diameter /
    average-distance estimates where exact all-pairs BFS is impossible.

    Returns one row per radius r in [0, rounds]:
    (r INT, n_nodes LONG, est_pairs DOUBLE, avg_ball DOUBLE) where
    est_pairs is the sum over nodes of the node's estimated ball
    cardinality |B(v, r)| and avg_ball = est_pairs / n_nodes. The
    effective diameter at fraction a is the smallest r with
    est_pairs(r) >= a * est_pairs(rounds).

    Determinism/oracle: counters are seedless HLL register tables
    (md5-hashed node ids, kg/ops/sketch.py semantics) held RELATIONALLY
    as (node, reg, mx) rows; per-node estimates keep the harmonic-mean
    denominator in exact integer space and round once, then sum as
    DECIMAL(38,6) — decimal addition is exact and order-insensitive, so
    the total is bit-identical across engines and partitionings, and a
    DuckDB oracle replays the whole iteration.

    Scale shape: per round ONE shuffle join (counters ⋈ edges on the
    source key) + one partial-aggregated groupBy(node, reg) max — the
    union-max is associative, so map-side combine does most of the
    merging — with the state (<= |V| * 2^p rows, p=4 -> 16 registers as
    in the HyperBall paper's web runs) materialized per round so round
    i+1 never replays history. Monotone convergence: when a round
    changes no register, remaining radii repeat the fixed point without
    launching further jobs.
    """
    m = 1 << int(p)
    w = 60 - int(p)
    s = w + 1
    from kg.ops.sketch import _hll_alpha

    alpha_num = _hll_alpha(m) * float(m) * float(m) * float(1 << s)

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = materialize(e.where(F.col("src") != F.col("dst")).distinct())
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()

    h = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
    ).cast("long")
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = (
        F.when(rem == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(rem)))
        .cast("int")
    )
    counters = materialize(
        nodes.select(
            "node",
            F.shiftright(h, w).cast("int").alias("reg"),
            rho.alias("mx"),
        )
    )

    def _round_total(c: DataFrame):
        per_node = c.groupBy("node").agg(
            F.count("*").cast("int").alias("nr"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - mx)"))
            .cast("long")
            .alias("pres"),
        )
        v = F.lit(m) - F.col("nr")
        sum_scaled = (
            F.col("pres") + v.cast("long") * F.lit(1 << s).cast("long")
        )
        raw = F.lit(alpha_num) / sum_scaled.cast("double")
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (v > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
        ).otherwise(raw)
        row = per_node.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(est, 6).cast("decimal(38,6)")).alias("t"),
        ).collect()[0]
        return int(row["n"]), row["t"]

    n_nodes, total = _round_total(counters)
    out = [(0, n_nodes, float(total), float(total) / n_nodes)]
    converged = False
    for r in range(1, int(rounds) + 1):
        if not converged:
            prop = e.join(
                counters.withColumnRenamed("node", "src"), "src"
            ).select(F.col("dst").alias("node"), "reg", "mx")
            nxt = materialize(
                counters.union(prop)
                .groupBy("node", "reg")
                .agg(F.max("mx").cast("int").alias("mx"))
            )
            grew = (
                nxt.alias("n")
                .join(
                    counters.alias("c"),
                    ["node", "reg"],
                    "left",
                )
                .where(
                    F.col("n.mx")
                    > F.coalesce(F.col("c.mx"), F.lit(0))
                )
                .isEmpty()
            )
            counters = nxt
            if grew:
                converged = True
            else:
                n_nodes, total = _round_total(counters)
        out.append((r, n_nodes, float(total), float(total) / n_nodes))
    return local_df(
        edges.sparkSession,
        out,
        "r INT, n_nodes LONG, est_pairs DOUBLE, avg_ball DOUBLE",
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    simple graph: per community c,
    ``Q_c = intra_c / m - (d_c / 2m)^2`` where intra_c counts edges with
    both endpoints in c, d_c sums member degrees, and m is the total
    edge count; total modularity is the sum over communities. The
    quality gauge for :func:`label_propagation` output (is this
    clustering better than that one / than random), completing the
    communities toolkit the same way blocking_quality_eval scores the
    dedup blockers.

    Returns (label, n_nodes, intra_edges, degree_sum, q_contrib) per
    community, q_contrib rounded to 6. Exactness: with twoM = the
    symmetrized row count (= 2m) and intra2_c = symmetrized intra rows
    (= 2*intra_c), ``Q_c = (twoM * intra2_c - d_c^2) / twoM^2`` — an
    exact BIGINT numerator divided once by a double product, so the
    value is bit-identical across engines with no float-sum order
    sensitivity. Nodes absent from ``communities`` are excluded (their
    edges still count in m and in member degrees). The exact-integer
    numerator holds to ~2^31 symmetrized rows (values < 2^62); past
    that, compute the numerator in double instead — relative error
    ~1e-16, far below the 1e-6 rounding grain.

    Scale shape: symmetrize+distinct once; degrees are one
    partial-aggregated groupBy; intra edges take two co-partitioned
    joins of the edge list against the (node, label) assignment (each
    keyed on the node id) and one more groupBy — all linear in |E|,
    no per-community iteration.
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = materialize(und)
    two_m = und.count()
    lab = communities.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("label")
    )
    deg = und.groupBy(F.col("u").alias("_n")).agg(
        F.count("*").cast("long").alias("deg")
    )
    by_label = (
        lab.join(deg, "_n", "left")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.coalesce("deg", F.lit(0))).cast("long").alias(
                "degree_sum"
            ),
        )
    )
    intra = (
        und.join(lab.withColumnRenamed("_n", "u"), "u")
        .withColumnRenamed("label", "lu")
        .join(lab.withColumnRenamed("_n", "v"), "v")
        .where(F.col("lu") == F.col("label"))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("_intra2"))
    )
    num = (
        F.lit(two_m).cast("long") * F.coalesce("_intra2", F.lit(0))
        - F.col("degree_sum") * F.col("degree_sum")
    )
    return by_label.join(intra, "label", "left").select(
        "label",
        "n_nodes",
        (F.coalesce("_intra2", F.lit(0)) / F.lit(2)).cast("long").alias(
            "intra_edges"
        ),
        "degree_sum",
        F.round(
            num.cast("double")
            / (F.lit(float(two_m)) * F.lit(float(two_m))),
            6,
        ).alias("q_contrib"),
    )


def graph_mixing(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree-mixing descriptive statistics, one row:
    (n_nodes, n_edges, n_directed, assortativity, reciprocity).

    - ``assortativity``: Newman's degree assortativity coefficient — the
      Pearson correlation of (deg(u), deg(v)) over the symmetrized edge
      stub list. Webgraphs are famously DISassortative (hubs link to
      leaves, r < 0); a crawl slice turning assortative is a template/
      link-farm smell, which is why the corpus QA report wants this
      number cheap.
    - ``reciprocity``: fraction of distinct directed edges whose reverse
      edge exists (self-loops excluded) — link-exchange detection on the
      host graph.

    Exactness: every aggregate (Sx, Sxy, Sxx over integer degrees;
    reciprocal-edge counts) is an exact BIGINT sum — order-insensitive —
    and each coefficient is a single float expression from those
    integers, rounded to 6: bit-identical across engines/partitionings.
    Degenerate variance (regular graphs) yields NULL assortativity.
    Integer headroom: Sxy <= 2m * dmax^2 — switch the moment sums to
    double past ~10^9 stubs with 10^4-degree hubs (relative error 1e-16,
    below the rounding grain).

    Scale shape: degrees are one partial-agged groupBy; the stub list
    joins degrees twice, co-partitioned on the node key; reciprocity is
    one left-semi self-join on the distinct directed edges; everything
    reduces to a single-row aggregate — no window, no Python, no
    iteration.
    """
    dir_e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = dir_e.select("u", "v").union(dir_e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    und = materialize(und)
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    stubs = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("dy")),
            "v",
        )
    )
    moments = stubs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
    )
    recip = (
        dir_e.alias("e")
        .join(
            dir_e.select(
                F.col("u").alias("v2"), F.col("v").alias("u2")
            ).alias("r"),
            (F.col("e.u") == F.col("r.u2")) & (F.col("e.v") == F.col("r.v2")),
            "left_semi",
        )
        .agg(F.count("*").cast("long").alias("n_recip"))
    )
    n_dir = dir_e.agg(F.count("*").cast("long").alias("n_directed"))
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        moments.crossJoin(recip)
        .crossJoin(n_dir)
        .crossJoin(n_nodes)
        .select(
            "n_nodes",
            (F.col("n") / F.lit(2)).cast("long").alias("n_edges"),
            "n_directed",
            F.round(
                F.when(
                    den != 0, num.cast("double") / den.cast("double")
                ),
                6,
            ).alias("assortativity"),
            F.round(
                F.when(
                    F.col("n_directed") > 0,
                    F.col("n_recip")
                    / F.col("n_directed").cast("double"),
                ),
                6,
            ).alias("reciprocity"),
        )
    )


def ktruss(
    edges: DataFrame,
    k: int,
    max_iter: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss: the maximal subgraph in which EVERY edge closes at least
    k-2 triangles (within the subgraph) — the edge-cohesion complement
    of :func:`kcore` (node degree), and the standard community-core /
    spam-farm detector on web graphs: a link ring survives high-k
    trusses only if its edges are mutually embedded in triangles.
    Returns the canonical surviving edges (u, v), u < v.

    Algorithm — support peeling to a fixpoint: count per-edge triangle
    support via the degree-ordered wedge enumeration (shared with
    triangle_stats — each triangle found once, exploded to its 3
    edges, one partial-agged groupBy), drop edges with support < k-2,
    repeat; removing an edge can only lower OTHER edges' support, so
    the iteration is monotone and terminates at the unique k-truss.
    Each round is the triangle join plan + one aggregate + one semi
    join, with the surviving edge set materialized per round. Round
    count is bounded by the peel depth (web graphs: small); ``max_iter``
    is a safety rail, and early exit fires the round nothing is
    removed.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k=2 is just the edge set)")
    cur = materialize(_canonical_undirected(edges, src, dst))
    n_cur = cur.count()
    for _ in range(int(max_iter)):
        if n_cur == 0:
            break
        tris = _enumerate_triangles(cur)
        tri_edges = (
            tris.select(
                F.least("a", "b1").alias("u"),
                F.greatest("a", "b1").alias("v"),
            )
            .union(
                tris.select(
                    F.least("a", "b2").alias("u"),
                    F.greatest("a", "b2").alias("v"),
                )
            )
            .union(
                tris.select(
                    F.least("b1", "b2").alias("u"),
                    F.greatest("b1", "b2").alias("v"),
                )
            )
        )
        support = tri_edges.groupBy("u", "v").agg(
            F.count("*").alias("_sup")
        )
        nxt = materialize(
            cur.join(support, ["u", "v"], "left").where(
                F.coalesce("_sup", F.lit(0)) >= k - 2
            ).select("u", "v")
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            return nxt
        cur, n_cur = nxt, n_nxt
    return cur


def degree_powerlaw(
    edges: DataFrame,
    d_min: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-law exponent of the degree distribution via the discrete
    MLE (Clauset-Shalizi-Newman's continuous approximation):
    ``alpha = 1 + n / Σ ln(d / (d_min - 1/2))`` over the tail
    ``d >= d_min`` — the web-graph sanity gauge (crawl slices of the
    real web sit near alpha ≈ 2.1 in-degree; a template farm or a
    truncated frontier shows up as a wildly different exponent).
    Returns one row: (n_tail, d_min, alpha, dbar_tail).

    Exactness: the sum runs over the DEGREE HISTOGRAM (one row per
    distinct degree — bounded by max-degree, not nodes), each term
    ``count_d * round(ln(d/(d_min-0.5)), 9)`` cast to DECIMAL(38,9) —
    decimal addition is exact and order-insensitive, so alpha is
    bit-identical across engines/partitionings (the
    neighborhood_function totals discipline); the final 1 + n/S is one
    float division, rounded 6. dbar_tail (mean tail degree) comes from
    exact integer sums.

    Scale shape: degrees = one partial-agged groupBy; the histogram =
    a second partial-agged groupBy on the degree value; everything
    after is a single-row aggregate over histogram rows.
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    hist = (
        deg.where(F.col("d") >= int(d_min))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    term = (
        F.col("cnt").cast("decimal(38,9)")
        * F.round(
            F.log(F.col("d").cast("double") / F.lit(float(d_min) - 0.5)), 9
        ).cast("decimal(38,9)")
    )
    agg = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_tail"),
        F.sum(term).alias("_s"),
        F.coalesce(F.sum(F.col("cnt") * F.col("d")), F.lit(0))
        .cast("long")
        .alias("_dsum"),
    )
    return agg.select(
        "n_tail",
        F.lit(int(d_min)).alias("d_min"),
        F.round(
            F.when(
                F.col("_s").cast("double") > 0,
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                / F.col("_s").cast("double"),
            ),
            6,
        ).alias("alpha"),
        F.round(
            F.when(
                F.col("n_tail") > 0,
                F.col("_dsum") / F.col("n_tail").cast("double"),
            ),
            6,
        ).alias("dbar_tail"),
    )
