"""Training-example construction over the linked KG — the step between a
materialized triple store and a KG-embedding trainer (TransE/DistMult
style), where each positive (subj, pred, obj) needs k corrupted-tail
negatives drawn from the entity vocabulary.

The sampler is DETERMINISTIC (md5-derived indices, no RNG) so runs are
reproducible and the DuckDB contract oracle can recompute it exactly —
the same design choice as kg/ops/sketch.py's 60-bit md5 hashes and the
hash-based token-budget sampler (kg/ops/curation.py).

Semantics (filtered negative sampling, Bordes et al. 2013 §3 "corrupted
triplets", the standard KG-embedding recipe):

- entity vocabulary = distinct entity ids over both roles of the input,
  ranked contiguously 0..n-1 by id (rank join, not a driver collect);
- candidate i (i = 1..k) for a positive replaces the tail with
  vocab[md5(subj_id|pred|obj_id|i) mod n];
- a candidate is dropped when it reproduces the positive's own tail or
  collides with ANY true triple (subj_id, pred, candidate) — the
  "filtered" setting, so the trainer never sees a false negative.
  Dropping (not resampling) keeps the op one-pass and deterministic;
  with a uniform hash the loss is ~density of the (subj, pred) slice,
  negligible on a real KG.

Scale shape: the k-way expansion is a pure map (posexplode of a
sequence, all JVM); the vocab index join broadcasts when the vocabulary
fits (Spark's planner decides via AQE; at 10^9 entities it degrades to
one shuffle join keyed by the uniform hash index — no skew by
construction); the false-negative filter is one left_anti join against
the positives on (subj_id, pred, neg_obj_id), co-partitioned with the
expansion's own key order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.session import local_df, materialize

__all__ = [
    "negative_sample_triples",
    "random_walks",
    "DEFAULT_TEMPLATES",
    "verbalize_facts",
    "entity_descriptions",
    "distant_supervision",
    "walk_skipgrams",
    "walk_node_counts",
    "sgns_unigram_table",
    "sgns_negatives",
    "node2vec_walks",
    "sample_neighborhoods",
    "hash_embeddings",
    "transe_energy",
    "link_prediction_ranks",
    "lp_metrics",
    "neighbor_mean_features",
]

_HEX_DIGITS = 15  # 60 bits: exact in a signed long, '0x'-parseable in DuckDB


def _md5_long(col) -> F.Column:  # noqa: ANN001
    return F.conv(F.substring(F.md5(col), 1, _HEX_DIGITS), 16, 10).cast(
        "long"
    )


def _contiguous_rank(df: DataFrame, col: str = "entity_id") -> DataFrame:
    """(col, idx) with idx = the 0-based global rank of ``col`` — WITHOUT a
    global single-partition window. Range-partition on the key (global
    order preserved across partitions), rank locally per partition, then
    add each partition's cumulative offset (the per-partition counts are
    a tiny driver-side table broadcast back). Equivalent to
    ``row_number() OVER (ORDER BY col) - 1`` at any scale.
    """
    spark = df.sparkSession
    parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    # materialize: repartitionByRange samples split points per execution,
    # so the counts job and the final plan MUST read the same physical
    # partitioning (the baked _pid column), not two re-samples
    ranged = materialize(
        df.repartitionByRange(parts, col).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = sorted(
        (r["_pid"], r["count"])
        for r in ranged.groupBy("_pid").count().collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    off_df = F.broadcast(
        local_df(
            spark,
            [(pid, off) for pid, off in offsets.items()],
            "_pid int, _off long",
        )
    )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(col)
    ) - F.lit(1)
    return (
        ranged.join(off_df, "_pid")
        .select(col, (local + F.col("_off")).alias("idx"))
    )


def negative_sample_triples(
    linked: DataFrame,
    k: int = 4,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
) -> DataFrame:
    """k corrupted-tail negatives per positive triple.

    Returns (subj_id, pred, obj_id, neg_rank, neg_obj_id) with
    neg_rank in 1..k (gaps where a candidate was filtered). Input rows
    with a null id on either side are ignored; duplicate positives are
    collapsed first (a triple asserted in many documents is still one
    training positive).
    """
    pos = (
        linked.where(F.col(subj).isNotNull() & F.col(obj).isNotNull())
        .select(
            F.col(subj).cast("long").alias("subj_id"),
            F.col(pred).alias("pred"),
            F.col(obj).cast("long").alias("obj_id"),
        )
        .distinct()
    )
    vocab = _contiguous_rank(
        pos.select(F.col("subj_id").alias("entity_id"))
        .union(pos.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    n_entities = vocab.count()
    expanded = pos.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("neg_rank")
    ).select(
        "subj_id",
        "pred",
        "obj_id",
        "neg_rank",
        F.pmod(
            _md5_long(
                F.concat_ws(
                    "|", F.col("subj_id"), F.col("pred"), F.col("obj_id"),
                    F.col("neg_rank"),
                )
            ),
            F.lit(n_entities),
        ).alias("idx"),
    )
    cand = (
        expanded.join(vocab, "idx")
        .select(
            "subj_id",
            "pred",
            "obj_id",
            "neg_rank",
            F.col("entity_id").alias("neg_obj_id"),
        )
        .where(F.col("neg_obj_id") != F.col("obj_id"))
    )
    return cand.join(
        pos.select(
            "subj_id", "pred", F.col("obj_id").alias("neg_obj_id")
        ).distinct(),
        ["subj_id", "pred", "neg_obj_id"],
        "left_anti",
    ).select("subj_id", "pred", "obj_id", "neg_rank", "neg_obj_id")


def random_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style uniform random-walk corpus over a directed edge
    list — the training sentences for skip-gram node embeddings
    (Perozzi et al. 2014). DETERMINISTIC like everything else in this
    module: step t of walk w moves to sorted-neighbor index
    ``md5(walk_id|t) mod out_degree`` — no RNG, so reruns are identical,
    partitioning never changes the corpus, and the contract oracle can
    replay every step in SQL.

    Starts ``walks_per_node`` walks at EVERY node (walk_id =
    node * walks_per_node + i, unique because node ids are nonnegative);
    a walk reaching a node with no out-edges simply ends (paths are
    variable-length up to walk_len+1 nodes). Returns
    (walk_id, start_id, walk ARRAY<LONG>).

    Scale shape: adjacency is ranked ONCE per neighbor (one window keyed
    by the source node) and materialized with the degree dim; each step
    is then two keyed equi-joins (state x degree to pick the rank,
    then x adjacency on (node, rank) — never a per-neighbor explosion)
    plus a materialize barrier so lineage stays flat across steps, the
    pagerank/LPA discipline. Walk state is one row per walk regardless
    of length. Hot hubs are join keys, so AQE skew-split applies.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    adj = materialize(
        e.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1,
        )
    )
    deg = materialize(adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
    )
    wpn = int(walks_per_node)
    state = materialize(
        nodes.select(
            F.posexplode(
                F.array(*[F.col("u") for _ in range(wpn)])
            ).alias("i", "_n"),
            F.col("u").alias("start_id"),
        ).select(
            (F.col("start_id") * wpn + F.col("i")).alias("walk_id"),
            "start_id",
            F.col("start_id").alias("cur"),
            F.array(F.col("start_id")).alias("walk"),
        )
    )
    # finished walks (dead-end reached) drop out of the live set — they
    # are accumulated and unioned back at the end instead of riding
    # along through every remaining round's joins (at walk_len 80 the
    # long tail of finished walks would otherwise dominate the join
    # input). materialize barriers keep lineage flat per round.
    finished = []
    for t in range(1, int(walk_len) + 1):
        h = _md5_long(
            F.concat_ws("|", F.col("walk_id").cast("string"), F.lit(str(t)))
        )
        picked = (
            state.join(deg, state["cur"] == deg["u"], "left")
            .withColumn("_rank", h % F.col("deg"))
            .drop("u", "deg")
        )
        stepped = materialize(
            picked.join(
                adj,
                (picked["cur"] == adj["u"])
                & (picked["_rank"] == adj["rank"]),
                "left",
            ).select(
                "walk_id",
                "start_id",
                F.col("v").alias("cur"),
                F.when(
                    F.col("v").isNotNull(),
                    F.concat(F.col("walk"), F.array(F.col("v"))),
                )
                .otherwise(F.col("walk"))
                .alias("walk"),
            )
        )
        finished.append(stepped.where(F.col("cur").isNull()))
        state = stepped.where(F.col("cur").isNotNull())
    out = state
    for f in finished:
        out = out.unionByName(f)
    return out.select("walk_id", "start_id", "walk")


# {s}/{o} sentence templates for the synth corpus's 8 relations — the
# default dim for verbalize_facts (callers substitute their schema's own
# table; unmatched predicates fall back to the generic pattern).
DEFAULT_TEMPLATES = [
    ("works_for", "{s} works for {o}."),
    ("ceo_of", "{s} is the chief executive of {o}."),
    ("founded", "{s} founded {o}."),
    ("born_in", "{s} was born in {o}."),
    ("located_in", "{s} is located in {o}."),
    ("acquired", "{s} acquired {o}."),
    ("part_of", "{s} is part of {o}."),
    ("produces", "{s} produces {o}."),
]


def verbalize_facts(
    facts: DataFrame,
    templates: DataFrame | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """KG→text linearization: one natural-language sentence per fact —
    the standard way a triple store feeds an LM training mix (the
    KELM/TEKGEN recipe: verbalize, then pack with kg.ops.curation).

    ``templates`` is a small (pred, template) dim with ``{s}``/``{o}``
    placeholders; predicates without a template fall back to
    ``"<subj> <pred with _ → space> <obj>."``. Placeholders are
    substituted ``{o}`` first then ``{s}`` in both this op and the
    contract oracle, so the (pathological) case of an entity surface
    containing a literal placeholder still compares equal cross-engine.

    Scale shape: one broadcast join against the hand-sized template dim
    + pure string expressions — no shuffle of the fact table, nothing
    Python-side. Returns (subj, pred, obj, sentence, templated).
    """
    spark = facts.sparkSession
    if templates is None:
        templates = local_df(spark, DEFAULT_TEMPLATES, "pred string, template string")
    tdim = F.broadcast(
        templates.select(F.col("pred").alias(pred_col), "template")
    )
    tmpl = F.coalesce(
        F.col("template"),
        F.concat(
            F.lit("{s} "),
            F.replace(F.col(pred_col), F.lit("_"), F.lit(" ")),
            F.lit(" {o}."),
        ),
    )
    sentence = F.replace(
        F.replace(tmpl, F.lit("{o}"), F.col(obj_col)),
        F.lit("{s}"),
        F.col(subj_col),
    )
    return (
        facts.join(tdim, pred_col, "left")
        .select(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
            sentence.alias("sentence"),
            F.col("template").isNotNull().alias("templated"),
        )
    )


def entity_descriptions(
    facts: DataFrame,
    templates: DataFrame | None = None,
    max_sentences: int = 20,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """One training paragraph per subject entity: its verbalized facts,
    deterministically ordered (pred, obj ascending), capped at
    ``max_sentences`` (row_number bound BEFORE the collect, so no
    unbounded buffer on hub entities), joined with spaces.

    Scale shape: the verbalization is map-side (see
    :func:`verbalize_facts`); the fact distinct is one shuffle, then one
    shuffle keyed by subject feeds BOTH the window and the string fold
    (the groupBy reuses the window's partitioning — no third exchange,
    pinned in test_plans). Returns (subj, description, n_facts).
    """
    v = verbalize_facts(
        facts.select(subj_col, pred_col, obj_col).distinct(),
        templates,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    w = Window.partitionBy("subj").orderBy("pred", "obj")
    ranked = v.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= max_sentences
    )
    return ranked.groupBy("subj").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("rn", "sentence")))
            .getField("sentence")
        ).alias("description"),
        F.count(F.lit(1)).alias("n_facts"),
    )


def distant_supervision(
    mentions: DataFrame,
    facts: DataFrame,
    doc_col: str = "url",
    entity_col: str = "entity_name",
    neg_keep_frac: float = 1.0,
    max_entities_per_doc: int = 1000,
    seed: str = "ds",
) -> DataFrame:
    """Distant supervision (Mintz et al., ACL'09): mint relation-
    classifier training examples by pairing entities that co-occur in a
    document and labeling each ordered pair with every KG predicate
    asserted between them — or NO_RELATION when the KG knows none (the
    negative class). This closes the KG → training-data loop: the graph
    the pipeline built labels the corpus it was built from.

    ``mentions``: (doc_col, entity_col) rows (the mentions table or any
    per-doc entity list). ``facts``: (subj, pred, obj) — distinct-ed
    here. Returns (url, subj, obj, label, positive): one row per
    (doc, ordered pair, matching predicate), plus one NO_RELATION row
    per unmatched ordered pair that survives ``neg_keep_frac``
    (negatives dominate at corpus scale; the md5-deterministic
    downsample is how DS recipes rebalance).

    Scale shape: the pair generation is the capped co-occurrence
    self-join (count-then-filter ``max_entities_per_doc``, co-partitioned
    on the doc key — kg/graphstats.py discipline); the labeling is ONE
    equi-join on the (subj, obj) pair key against the distinct fact dim
    (broadcast when the KG fits, shuffle-hash under AQE otherwise); the
    negative downsample is a pure-map md5 filter.
    """
    ents = mentions.select(
        F.col(doc_col).alias("url"), F.col(entity_col).alias("entity")
    ).distinct()
    per_doc = ents.groupBy("url").agg(F.count("*").alias("_n"))
    bounded = ents.join(
        per_doc.where(F.col("_n") <= max_entities_per_doc).select("url"),
        "url",
    )
    pairs = (
        bounded.select("url", F.col("entity").alias("subj"))
        .join(bounded.select("url", F.col("entity").alias("obj")), "url")
        .where(F.col("subj") != F.col("obj"))
    )
    fdim = facts.select("subj", "pred", "obj").distinct()
    labeled = pairs.join(fdim, ["subj", "obj"], "left")
    keep_neg = (
        _md5_long(
            F.concat_ws("\x00", F.lit(seed), "url", "subj", "obj")
        )
        < F.lit(int(float(neg_keep_frac) * (16 ** _HEX_DIGITS)))
    )
    return labeled.where(
        F.col("pred").isNotNull() | keep_neg
    ).select(
        "url",
        "subj",
        "obj",
        F.coalesce("pred", F.lit("NO_RELATION")).alias("label"),
        F.col("pred").isNotNull().alias("positive"),
    )


def walk_skipgrams(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "walk",
) -> DataFrame:
    """Skip-gram (center, context) pair counts over a random-walk corpus —
    the training input SGNS node embeddings consume (word2vec over
    DeepWalk sentences, Perozzi et al. 2014 §4.2). For every position i of
    every walk, each position j with 0 < |i-j| <= ``window`` contributes
    one (walk[i], walk[j]) pair; pairs are aggregated corpus-wide into
    counts (the co-occurrence multiset, NOT distinct pairs — SGNS weights
    by frequency).

    Returns (center_id, context_id, n_pairs BIGINT).

    Scale shape: pair generation is an array-local nested transform over
    each walk (bounded by walk_len * 2*window per walk, no join, no
    per-row Python); counting is ONE partial-agged groupBy on the pair
    key. Hub nodes concentrate into hot pair keys exactly like any
    count shuffle — AQE handles the skew; there is no self-join on the
    walk table.
    """
    w = int(window)
    arr = F.col(walk_col)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 1),
            lambda i: F.transform(
                F.filter(
                    F.sequence(
                        F.greatest(i - w, F.lit(0)),
                        F.least(i + w, F.size(arr) - 1),
                    ),
                    lambda j: j != i,
                ),
                lambda j: F.struct(
                    F.get(arr, i).alias("center_id"),
                    F.get(arr, j).alias("context_id"),
                ),
            ),
        )
    )
    return (
        walks.where(F.size(arr) >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .groupBy(
            F.col("_p.center_id").alias("center_id"),
            F.col("_p.context_id").alias("context_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def walk_node_counts(
    walks: DataFrame, walk_col: str = "walk"
) -> DataFrame:
    """Corpus unigram counts over a walk corpus: (node_id, cnt) with cnt =
    total occurrences of the node across all walk positions. One explode
    (bounded by walk_len per row) + one partial-agged groupBy."""
    return (
        walks.select(F.explode(F.col(walk_col)).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _int_pow34(cnt: F.Column) -> F.Column:
    """Exact integer floor(cnt^(3/4)) for cnt >= 1 — the word2vec
    unigram^0.75 weight, computed so Spark and any SQL oracle agree
    bit-for-bit: take floor(pow(cnt, 0.75)) as a double-precision seed,
    then correct it with EXACT bigint comparisons against cnt^3 (w is the
    integer fourth root of cnt^3, so w^4 <= cnt^3 < (w+1)^4). One step of
    correction each way absorbs any libm last-ulp disagreement. Exact for
    cnt <= 2_097_151 (cnt^3 < 2^63); callers at larger per-node counts
    should pre-scale counts down (the distribution only needs ratios).
    """
    def pow4(c):  # noqa: ANN001, ANN202
        # square in long (c <= ~55k so c^2 fits), then square in decimal:
        # c^4 can graze 2^63 at the top of the range and ANSI mode makes
        # a long overflow fatal, while decimal(38) holds it exactly
        sq = (c * c).cast("decimal(38,0)")
        return sq * sq

    cube = (cnt * cnt * cnt).cast("decimal(38,0)")
    c0 = F.floor(F.pow(cnt.cast("double"), F.lit(0.75))).cast("long")
    c1 = c0 + F.when(pow4(c0 + 1) <= cube, 1).otherwise(0)
    return c1 - F.when(pow4(c1) > cube, 1).otherwise(0)


def _partitioned_cumsum(
    df: DataFrame, key: str, val: str
) -> DataFrame:
    """Adds ``hi`` = inclusive running sum of ``val`` in global ``key``
    order — WITHOUT a single-partition global window. Range-partition on
    the key, cumsum locally per partition, then add each partition's
    cumulative offset (per-partition sums are a tiny driver table
    broadcast back). Integer sums are associative, so this equals the
    sequential ``SUM(val) OVER (ORDER BY key)`` exactly.
    """
    spark = df.sparkSession
    parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    ranged = materialize(
        df.repartitionByRange(parts, key).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    psums = sorted(
        (r["_pid"], r["s"])
        for r in ranged.groupBy("_pid")
        .agg(F.sum(val).alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, s in psums:
        offsets.append((pid, acc))
        acc += int(s)
    off_df = F.broadcast(
        local_df(df.sparkSession, offsets, "_pid int, _off long")
    )
    local = F.sum(val).over(
        Window.partitionBy("_pid")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(off_df, "_pid")
        .withColumn("hi", (local + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )


def sgns_unigram_table(
    counts: DataFrame,
    table_size: int = 1 << 16,
    id_col: str = "node_id",
    cnt_col: str = "cnt",
) -> DataFrame:
    """The word2vec negative-sampling table (Mikolov et al. 2013 §2.2):
    ``table_size`` bins, bin b holding the node whose cumulative
    unigram^0.75 interval contains the bin's midpoint target
    T(b) = floor((2b+1)*W / (2*table_size)) — the quantized inverse CDF.
    Drawing a negative is then ONE equi-join on ``bin`` (see
    sgns_negatives), never a range lookup: the scale path for a 10^9-node
    vocabulary where a per-draw interval search would be a range join.

    Everything is EXACT INTEGER arithmetic (weights via _int_pow34,
    cumsum via the two-phase range-partitioned pattern), so the table is
    identical across engines, partitionings, and reruns, and a SQL oracle
    can recompute it bit-for-bit. Bin coverage per node is a contiguous
    range derived in closed form (no join): node with interval [lo, hi)
    covers bins b_min..b_max with
      b_min = ((2B*lo + W - 1) div W) div 2
      b_max = (((2B*hi - 1) div W + 1) div 2) - 1
    (the +1/-1 form keeps every intermediate nonnegative, where Spark's
    truncating `div` and DuckDB's flooring `//` agree)
    (both from T(b) in [lo, hi) and T nondecreasing). Output is exactly
    ``table_size`` rows: (bin, node_id). Requires B*W*2 < 2^63.

    Scale shape: one shuffle (the range partition), one closed-form
    explode emitting exactly B rows total. No node-x-bin join, no skew
    (hot nodes emit more bins, but bins are the join key downstream and
    are uniform by construction).
    """
    B = int(table_size)
    w = counts.select(
        F.col(id_col).cast("long").alias("node_id"),
        _int_pow34(F.col(cnt_col).cast("long")).alias("w"),
    ).where(F.col("w") > 0)
    cum = _partitioned_cumsum(w, "node_id", "w")
    total = cum.agg(F.max("hi").alias("W")).collect()[0]["W"]
    lo = F.col("hi") - F.col("w")
    b_min = F.expr(
        f"(({2 * B} * (hi - w) + {total} - 1) div {total}) div 2"
    )
    b_max = F.expr(
        f"(((({2 * B} * hi - 1) div {total}) + 1) div 2) - 1"
    )
    return (
        cum.select(
            "node_id", b_min.alias("b_min"), b_max.alias("b_max")
        )
        .where(F.col("b_max") >= F.col("b_min"))
        .select(
            F.explode(
                F.sequence(F.col("b_min"), F.col("b_max"))
            ).alias("bin"),
            "node_id",
        )
    )


def sgns_negatives(
    pairs: DataFrame,
    table: DataFrame,
    k: int = 5,
    table_size: int = 1 << 16,
    center: str = "center_id",
    context: str = "context_id",
) -> DataFrame:
    """k deterministic negative draws per SGNS training pair from the
    quantized unigram^0.75 table: draw i for (center, context) reads bin
    md5(center|context|i) mod table_size — a plain equi-join against the
    table (broadcast when it fits; at a huge vocabulary it degrades to
    one uniform-keyed shuffle join, no skew because bins are uniform by
    construction). Draws that collide with the pair's own context word
    are DROPPED, not resampled (same one-pass discipline as
    negative_sample_triples; the loss is ~the context word's unigram
    mass, negligible). Returns (center_id, context_id, draw, neg_id)
    with draw in 1..k (gaps where a draw was dropped).
    """
    B = int(table_size)
    p = pairs.select(
        F.col(center).cast("long").alias("center_id"),
        F.col(context).cast("long").alias("context_id"),
    ).distinct()
    drawn = p.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("draw")
    ).withColumn(
        "bin",
        F.pmod(
            _md5_long(
                F.concat_ws(
                    "|",
                    F.col("center_id"),
                    F.col("context_id"),
                    F.col("draw"),
                )
            ),
            F.lit(B),
        ),
    )
    return (
        drawn.join(table.withColumnRenamed("node_id", "neg_id"), "bin")
        .where(F.col("neg_id") != F.col("context_id"))
        .select("center_id", "context_id", "draw", "neg_id")
    )


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 1,
    ret_w: int = 1,
    in_w: int = 1,
    out_w: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """node2vec biased second-order walks (Grover & Leskovec 2016 §3.2) —
    the p/q-steerable sibling of random_walks. At each step beyond the
    first, candidate neighbor v of cur (with previous node prev) gets the
    standard alpha weight, expressed as INTEGER weights so the draw is
    exact and oracle-recomputable:

      v == prev            -> ret_w   (alpha = 1/p: return)
      v in neighbors(prev) -> in_w    (alpha = 1:   stay close, BFS-ish)
      else                 -> out_w   (alpha = 1/q: explore, DFS-ish)

    Step t of walk w draws md5(walk_id|t) mod total_weight and picks the
    sorted-neighbor whose cumulative-weight interval contains the draw —
    DETERMINISTIC, partition-invariant, and with ret_w == in_w == out_w
    it degenerates to EXACTLY random_walks' uniform rule (same hash, same
    neighbor order), which the tests pin. The first step is uniform (no
    prev yet), matching the node2vec convention. Dead ends terminate the
    walk. Returns (walk_id, start_id, walk ARRAY<LONG>).

    Scale shape: a second-order walk cannot use random_walks' O(1)-per-
    walk rank join because weights depend on (prev, cur); the per-step
    cost is the frontier's out-degree mass (one equi-join on cur, one
    membership probe of (prev, v) against the edge set, one per-walk
    window bounded by max degree) — the standard distributed-node2vec
    trade. The alternative, precomputing alias tables per (prev, cur)
    edge pair, costs O(sum_u deg(u)^2) state and is strictly worse on
    power-law webgraphs. Hot hubs are join keys -> AQE skew split; each
    round is barriered with materialize so lineage stays flat; finished
    walks leave the live set immediately.
    """
    rw, iw, ow = int(ret_w), int(in_w), int(out_w)
    if min(rw, iw, ow) < 1:
        raise ValueError("ret_w/in_w/out_w must be positive integers")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    adj = materialize(
        e.withColumn(
            "rank",
            F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1,
        )
    )
    deg = materialize(adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
    )
    wpn = int(walks_per_node)
    state = materialize(
        nodes.select(
            F.posexplode(
                F.array(*[F.col("u") for _ in range(wpn)])
            ).alias("i", "_n"),
            F.col("u").alias("start_id"),
        ).select(
            (F.col("start_id") * wpn + F.col("i")).alias("walk_id"),
            "start_id",
            F.lit(None).cast("long").alias("prev"),
            F.col("start_id").alias("cur"),
            F.array(F.col("start_id")).alias("walk"),
        )
    )
    nb = e.select(F.col("u").alias("pu"), F.col("v").alias("pv"))
    finished = []
    for t in range(1, int(walk_len) + 1):
        h = _md5_long(
            F.concat_ws("|", F.col("walk_id").cast("string"), F.lit(str(t)))
        )
        if t == 1:
            # uniform first step: rank equi-join, no candidate explosion
            picked = (
                state.join(deg, state["cur"] == deg["u"], "left")
                .withColumn("_rank", h % F.col("deg"))
                .drop("u", "deg")
            )
            stepped = picked.join(
                adj,
                (picked["cur"] == adj["u"])
                & (picked["_rank"] == adj["rank"]),
                "left",
            ).select(
                "walk_id",
                "start_id",
                F.col("cur").alias("prev"),
                F.col("v").alias("cur"),
                F.when(
                    F.col("v").isNotNull(),
                    F.concat(F.col("walk"), F.array(F.col("v"))),
                )
                .otherwise(F.col("walk"))
                .alias("walk"),
            )
        else:
            cands = (
                state.select("walk_id", "prev", "cur")
                .join(adj, state["cur"] == adj["u"])
                .join(
                    nb,
                    (F.col("prev") == nb["pu"]) & (F.col("v") == nb["pv"]),
                    "left",
                )
                .withColumn(
                    "_w",
                    F.when(F.col("v") == F.col("prev"), F.lit(rw))
                    .when(F.col("pv").isNotNull(), F.lit(iw))
                    .otherwise(F.lit(ow))
                    .cast("long"),
                )
            )
            wwin = Window.partitionBy("walk_id").orderBy("rank")
            cum = F.sum("_w").over(
                wwin.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            tot = F.sum("_w").over(
                Window.partitionBy("walk_id").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            hit = (
                cands.withColumn("_cum", cum)
                .withColumn("_draw", F.pmod(h, tot))
                .where(
                    (F.col("_cum") - F.col("_w") <= F.col("_draw"))
                    & (F.col("_draw") < F.col("_cum"))
                )
                .select("walk_id", F.col("v").alias("_next"))
            )
            stepped = state.join(hit, "walk_id", "left").select(
                "walk_id",
                "start_id",
                F.col("cur").alias("prev"),
                F.col("_next").alias("cur"),
                F.when(
                    F.col("_next").isNotNull(),
                    F.concat(F.col("walk"), F.array(F.col("_next"))),
                )
                .otherwise(F.col("walk"))
                .alias("walk"),
            )
        stepped = materialize(stepped)
        finished.append(stepped.where(F.col("cur").isNull()))
        state = stepped.where(F.col("cur").isNotNull())
    out = state
    for f in finished:
        out = out.unionByName(f)
    return out.select("walk_id", "start_id", "walk")


def sample_neighborhoods(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: tuple = (10, 5),
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node_id",
) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling (Hamilton et al. 2017
    §3.1) — the minibatch-construction primitive GNN trainers consume:
    from each seed node, keep at most ``fanouts[0]`` out-neighbors; from
    each of those, at most ``fanouts[1]``; and so on. Neighbor selection
    is DETERMINISTIC: layer l keeps the f_l neighbors of u that rank
    first by md5(u|l|v) (v as tiebreak) — a uniform-without-replacement
    draw that is rerun-identical, partition-invariant, and recomputable
    in SQL by the contract oracle. Returns sampled edge blocks
    (layer INT, src, dst); the layer-(l+1) frontier is the distinct dst
    set of layer l (revisited nodes are re-sampled per layer, the
    standard GraphSAGE semantics).

    Scale shape: each layer is one equi-join (frontier x adjacency on
    the node key) and one per-node window bounded by out-degree — the
    same bounded top-k-per-key shape as tfidf_topk. The frontier grows
    at most by prod(fanouts), not by degree mass, which is the entire
    point of sampled GNN training at 10^9-edge graphs. Hot hubs are
    join keys (AQE skew split); per-layer materialize keeps lineage
    flat and stops re-execution of earlier layers.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    frontier = (
        seeds.select(F.col(seed_col).cast("long").alias("u")).distinct()
    )
    blocks = []
    for layer, fanout in enumerate(fanouts, start=1):
        rk = F.row_number().over(
            Window.partitionBy("u").orderBy(
                _md5_long(
                    F.concat_ws(
                        "|", F.col("u"), F.lit(str(layer)), F.col("v")
                    )
                ),
                "v",
            )
        )
        block = materialize(
            frontier.join(e, "u")
            .withColumn("_rk", rk)
            .where(F.col("_rk") <= int(fanout))
            .select(
                F.lit(layer).cast("int").alias("layer"),
                F.col("u").alias("src"),
                F.col("v").alias("dst"),
            )
        )
        blocks.append(block)
        frontier = block.select(F.col("dst").alias("u")).distinct()
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    return out


def hash_embeddings(
    ids: DataFrame,
    dim: int = 4,
    modulus: int = 17,
    id_col: str = "entity_id",
    salt: str = "e",
) -> DataFrame:
    """Deterministic INTEGER stand-in embeddings: component j of id x is
    md5(salt|x|j) mod modulus - modulus//2 (centered). Used by tests and
    the contract oracle wherever a trained embedding table would be
    supplied in production — integer components + L1 energies keep the
    whole eval stack exact (no float last-ulp drift between engines).
    Pure map over the id table: no shuffle, no Python."""
    # statically unrolled plain array (dim is a driver-side int) — no
    # higher-order function: a lambda capturing the id column here can
    # mis-bind at execution when the output is later joined against a
    # relation with a same-named column (Catalyst HOF attribute dedup)
    comps = F.array(
        *[
            F.pmod(
                _md5_long(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        ids[id_col].cast("string"),
                        F.lit(str(j)),
                    )
                ),
                F.lit(int(modulus)),
            )
            - F.lit(int(modulus) // 2)
            for j in range(int(dim))
        ]
    )
    return ids.select(ids[id_col], comps.alias("emb"))


def transe_energy(
    triples: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
) -> DataFrame:
    """TransE energy (Bordes et al. 2013 §2): E(s, p, o) =
    ||e_s + r_p - e_o||_1, the translation-distance score a trained
    KG-embedding model assigns a triple (lower = more plausible).
    ``ent_emb`` is (entity_id, emb ARRAY), ``rel_emb`` is (pred, emb
    ARRAY); with integer embeddings (hash_embeddings) the energy is an
    exact BIGINT. Returns the input triple columns + ``energy``.

    Scale shape: two equi-joins against the entity table (subject,
    object; broadcast when it fits, else hash-partitioned — entity skew
    handled by AQE) + one broadcast of the tiny relation dim; the
    arithmetic is zip_with/aggregate, all JVM, no explosion (one row per
    triple regardless of dim)."""
    s_emb = ent_emb.select(
        F.col("entity_id").alias(subj), F.col("emb").alias("_se")
    )
    o_emb = ent_emb.select(
        F.col("entity_id").alias(obj), F.col("emb").alias("_oe")
    )
    r_emb = F.broadcast(
        rel_emb.select(F.col(pred).alias(pred), F.col("emb").alias("_re"))
    )
    energy = F.expr(
        "aggregate(zip_with(zip_with(_se, _re, (a, b) -> a + b), _oe,"
        " (a, b) -> abs(a - b)), 0L, (acc, x) -> acc + x)"
    )
    return (
        triples.join(s_emb, subj)
        .join(o_emb, obj)
        .join(r_emb, pred)
        .withColumn("energy", energy)
        .drop("_se", "_oe", "_re")
    )


def link_prediction_ranks(
    negs: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
) -> DataFrame:
    """Sampled link-prediction evaluation over negative_sample_triples'
    output: rank each positive (subj, pred, obj) against ITS k sampled
    corrupted-tail negatives by TransE energy — the standard sampled
    protocol at vocabularies where full all-entity ranking is
    infeasible (10^9 entities x 10^9 triples). PESSIMISTIC ranks:
    rank = 1 + #(negatives with energy <= positive's), so ties count
    against the model and the metric is deterministic. Returns
    (subj_id, pred, obj_id, pos_energy, n_cands, rank); feed to
    lp_metrics for MRR / hits@k.

    Scale shape: energies via transe_energy (equi-joins + JVM array
    math), then ONE partial-agged groupBy per positive — no window, no
    per-positive sort."""
    pos = negs.select("subj_id", "pred", "obj_id").distinct()
    pos_e = transe_energy(pos, ent_emb, rel_emb).withColumnRenamed(
        "energy", "pos_energy"
    )
    neg_e = transe_energy(
        negs.select(
            "subj_id", "pred", "obj_id",
            F.col("neg_obj_id").alias("cand_obj_id"),
        ),
        ent_emb,
        rel_emb,
        obj="cand_obj_id",
    )
    joined = neg_e.join(pos_e, ["subj_id", "pred", "obj_id"])
    return (
        joined.groupBy("subj_id", "pred", "obj_id", "pos_energy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cands"),
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.col("energy") <= F.col("pos_energy"), 1
                    ).otherwise(0)
                )
            ).cast("long").alias("rank"),
        )
        .select(
            "subj_id", "pred", "obj_id", "pos_energy", "n_cands", "rank"
        )
    )


def lp_metrics(ranks: DataFrame, ks: tuple = (1, 3, 10)) -> DataFrame:
    """One-row summary of link_prediction_ranks: MRR and hits@k (both
    rounded to 6 decimals so SQL oracles hash-match). One partial-agged
    global aggregate."""
    aggs = [
        F.round(F.avg(F.lit(1.0) / F.col("rank")), 6).alias("mrr"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    ]
    for k in ks:
        aggs.append(
            F.round(
                F.avg(
                    F.when(F.col("rank") <= int(k), 1.0).otherwise(0.0)
                ),
                6,
            ).alias(f"hits_{k}")
        )
    return ranks.agg(*aggs)


def neighbor_mean_features(
    edges: DataFrame,
    features: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One round of GNN-style neighborhood feature aggregation
    (GraphSAGE-mean, Hamilton et al. 2017): for every node with
    in-neighbors, the per-dimension MEAN of its neighbors\' feature
    vectors plus the neighbor count — the precompute a trainer folds
    into layer-0 message passing, and (iterated) the classic cheap
    node-embedding smoother. Returns (node, n_neighbors, mean_vec).

    Scale shape: ONE equi-join (edges x features on the src key — the
    feature side is entity-dim-sized) then one (node, dim) groupBy for
    the means, rebuilt to arrays with array_sort(collect_list) — the
    lloyd_kmeans centroid-update shape, partial-aggregable end to end.
    Iterating k rounds = k such passes (the k-hop receptive field)."""
    feats = features.select(
        F.col(id_col).cast("long").alias("_fid"),
        F.col(vec_col).cast("array<double>").alias("_fv"),
    )
    msgs = edges.select(
        F.col(src).cast("long").alias("_fid"),
        F.col(dst).cast("long").alias("node"),
    ).join(feats, "_fid")
    return (
        msgs.select("node", F.posexplode("_fv").alias("pos", "val"))
        .groupBy("node", "pos")
        .agg(F.avg("val").alias("m"), F.count(F.lit(1)).alias("c"))
        .groupBy("node")
        .agg(
            F.max("c").cast("long").alias("n_neighbors"),
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"),
        )
        .select(
            "node",
            "n_neighbors",
            F.transform(
                "_pm", lambda s: F.round(s["m"], 6)
            ).alias("mean_vec"),
        )
    )
