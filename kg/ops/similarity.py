"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. The dot product is a JVM-side
  ``aggregate(zip_with(...))`` — no Python in the scoring loop; the pair
  space is bounded by broadcasting the (small) query side.
- sign-LSH (signed random projection) candidate blocking with BUCKET-SIZE
  CAPPING: the generic blocker shared by ANN top-k and embedding near-dup.
  Hand-rolled (not pyspark.ml's approxSimilarityJoin) so oversized buckets —
  the skew that makes uncapped LSH self-joins quadratic on clustered
  corpora — are dropped under an explicit cap.
- IVF ANN: k-means cells + multi-probe, the tunable-candidate-fraction path.

At 10^9+ vectors the brute-force path is only for query batches (broadcast
side stays small); the LSH paths' shuffle is the band-bucket join, bounded
by buckets * max_bucket^2 candidate pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.session import local_df, materialize

__all__ = [
    "cosine_topk_bruteforce",
    "mmr_topk",
    "mine_contrastive_pairs",
    "sign_bands",
    "cosine_band_candidates",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "lloyd_kmeans",
    "cluster_balanced_sample",
    "embedding_cosine_near_dup",
    "dot_product_col",
    "quantize_embeddings",
    "rp_signs",
    "random_projection",
    "pq_train",
    "pq_adc_topk",
    "ann_ivfpq_topk",
    "semdedup",
]


def dot_product_col(a: str | Column, b: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ca, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    k: int = 5,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    (query_id, neighbor_id, rank). query side = rows passing query_filter
    (default: all — quadratic; pass a filter at scale). Ties break on
    neighbor id ascending, deterministic.
    """
    base = embeddings.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("nnorm", _norm_col("nvec"))
    q = embeddings.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    if query_filter is not None:
        q = q.where(query_filter)
    q = q.withColumn("qnorm", _norm_col("qvec"))
    pairs = F.broadcast(q).crossJoin(base).where(F.col("qid") != F.col("nid"))
    scored = pairs.withColumn(
        "cos",
        dot_product_col("qvec", "nvec")
        / (F.col("qnorm") * F.col("nnorm")),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
        )
    )


def _md5_hyperplanes(seed: int, total: int, dim: int):
    """(total, dim) hyperplane matrix with components md5-uniform in
    [-1, 1): h[j, d] = md5_60bit(f"{seed}|{j}|{d}") / 2^60 * 2 - 1.
    Deterministic, seedable, and exactly replayable in SQL (the same
    '0x'+substr(md5(...),1,15) parse every md5-derived oracle here uses).
    Cost: total*dim md5 calls once per worker (~10 ms at 128x64)."""
    import hashlib

    import numpy as np

    out = np.empty((total, dim), dtype=np.float64)
    for j in range(total):
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}|{j}|{d}".encode()).hexdigest()[:15], 16
            )
            out[j, d] = h / float(16 ** 15) * 2.0 - 1.0
    return out


def sign_bands(
    embeddings: DataFrame,
    n_bits: int = 2,
    n_bands: int = 32,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection signature, banded: (vid, band, key).

    ``n_bits * n_bands`` hyperplane components are derived from
    ``md5(seed|plane|dim)`` mapped to uniform [-1, 1) (every worker
    regenerates the identical matrix — nothing is shipped, and — unlike
    the round-2 numpy.RandomState draw — the SQL contract oracle can
    recompute the planes bit-for-bit, which is what lifted emb_ann_lsh
    from rows-only to a full oracle row). Each vector's sign bits are
    packed ``n_bits`` per band into an integer key. Two vectors at angle
    theta agree on one bit with p ≈ 1 - theta/pi, so they share a given
    band with p^n_bits and at least one of n_bands bands with
    1-(1-p^n_bits)^n_bands — tune (n_bits, n_bands) to the target cosine
    the same way (bands, rows) tune MinHash-LSH to Jaccard. (Cube-uniform
    components are not sphere-uniform directions, but sign agreement
    stays monotone in angle — the recall gates in tests/test_ops.py hold
    unchanged.)

    The projection is an Arrow-batched numpy matmul — one BLAS call per
    batch; evaluating n_bits*n_bands aggregate-fold expressions per row
    JVM-side would be far slower. Everything downstream (bucket sizing,
    candidate join, verification) is JVM-side. Sign-bit robustness: BLAS
    and the oracle's SQL SUM add in different orders, so equality relies
    on no |dot| being within float noise of 0 — the contract harness
    asserts a >=1e-9 margin on the fixture (float error is ~1e-13).
    """
    total = n_bits * n_bands
    src = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        hyper = None
        pack = 1 << np.arange(n_bits, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
            if hyper is None:
                hyper = _md5_hyperplanes(seed, total, vecs.shape[1])
            bits = (vecs @ hyper.T) > 0  # (n, total)
            keys = np.empty((len(pdf), n_bands), dtype=np.int64)
            for b in range(n_bands):
                keys[:, b] = bits[:, b * n_bits : (b + 1) * n_bits] @ pack
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf["vid"].to_numpy(), n_bands),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "key": keys.reshape(-1),
                }
            )

    return src.mapInPandas(_batches, schema="vid long, band int, key long")


def cosine_band_candidates(
    embeddings: DataFrame,
    n_bits: int = 2,
    n_bands: int = 32,
    seed: int = 29,
    max_bucket: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate (src, dst) pairs (src < dst) for cosine similarity via
    sign-LSH banding with BUCKET-SIZE CAPPING.

    Buckets larger than ``max_bucket`` are dropped before the self-join —
    the skew guard that keeps the candidate join bounded at
    buckets * max_bucket^2 pairs on clustered corpora (cf. the banded
    MinHash cap in kg/ops/dedup.py; vectors in a dropped bucket still pair
    via their other n_bands-1 bands). Feed the output to an EXACT verifier
    (``embedding_cosine_near_dup(candidates=...)`` or top-k re-rank) —
    blocking affects recall only, never precision.
    """
    bands = sign_bands(embeddings, n_bits, n_bands, seed, id_col, vec_col)
    # three consumers (size count + self-join twice) — materialize once or
    # the Arrow projection UDF runs three times (same pattern as the
    # MinHash bucket table in kg/ops/dedup.py); reliable when a checkpoint
    # dir is set (kg.session.materialize)
    bands = materialize(bands)
    sizes = bands.groupBy("band", "key").agg(F.count("*").alias("n"))
    kept = bands.join(
        sizes.where(F.col("n") <= max_bucket).select("band", "key"),
        ["band", "key"],
    )
    left = kept.alias("l")
    right = kept.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(F.col("l.vid").alias("src"), F.col("r.vid").alias("dst"))
        .distinct()
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    n_bands: int = 32,
    seed: int = 29,
    max_bucket: int = 512,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via bucket-capped sign-LSH blocking + exact cosine
    re-rank. Output: (query_id, neighbor_id, rank) — same shape as the
    brute-force baseline so recall is directly measurable.

    Replaces the round-1 BucketedRandomProjectionLSH ``approxSimilarityJoin``
    variant, whose uncapped bucket self-join went quadratic on clustered
    embeddings (the same skew failure mode as .ml MinHash on boilerplate
    text). Here the candidate join is explicit and capped at
    ``max_bucket`` rows per (band, key) bucket.

    ``query_filter`` contract (uniform across the three top-k functions):
    evaluated against the query side with the id column named ``qid`` —
    pass e.g. ``F.col("qid") < 20``. The filter prunes candidate pairs
    BEFORE the vector join, so a selective filter bounds the re-rank cost.
    """
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("nrm", _norm_col("vec"))
    cands = cosine_band_candidates(
        embeddings, n_bits, n_bands, seed, max_bucket, id_col, vec_col
    )
    pairs = cands.select(
        F.col("src").alias("qid"), F.col("dst").alias("nid")
    ).union(cands.select(F.col("dst").alias("qid"), F.col("src").alias("nid")))
    if query_filter is not None:
        pairs = pairs.where(query_filter)
    q = base.select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    nn = base.select(
        F.col("vid").alias("nid"), F.col("vec").alias("nvec"),
        F.col("nrm").alias("nnrm"),
    )
    scored = (
        pairs.join(q, "qid")
        .join(nn, "nid")
        .withColumn(
            "cos",
            dot_product_col("qvec", "nvec") / (F.col("qnrm") * F.col("nnrm")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
        )
    )


def _unit_vectors(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vid, unit) L2-normalized vectors; zero vectors dropped."""
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("arr"),
    ).withColumn("nrm", _norm_col("arr")).where(F.col("nrm") > 0)
    return base.withColumn(
        "unit", F.transform("arr", lambda x: x / F.col("nrm"))
    ).select("vid", "unit")


def _ivf_fit(
    embeddings: DataFrame,
    n_lists: int,
    id_col: str,
    vec_col: str,
    quantizer: str = "ml",
    rounds: int = 3,
    kseed: int = 17,
) -> tuple[DataFrame, DataFrame]:
    """Fit the IVF coarse quantizer. Returns (assignments(vid, unit,
    list_id), centroids(probe_list, centroid)) for ann_ivf_topk.

    ``quantizer='ml'`` (default): pyspark.ml seeded k-means — the
    battle-tested scale path, but its k-means|| init is engine-internal
    randomness, so results are only pinned by recall tests.
    ``quantizer='lloyd'``: the from-scratch deterministic
    :func:`lloyd_kmeans` — bit-reproducible and SQL-replayable, which is
    what lets the emb_ann_ivf contract carry a full oracle."""
    if quantizer == "lloyd":
        return lloyd_kmeans(
            embeddings, k=n_lists, rounds=rounds, seed=kseed,
            id_col=id_col, vec_col=vec_col,
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = _unit_vectors(embeddings, id_col, vec_col)
    feats = unit.withColumn("fv", array_to_vector("unit"))
    model = KMeans(
        k=n_lists, seed=11, featuresCol="fv", predictionCol="list_id"
    ).fit(feats)
    assigned = model.transform(feats).select("vid", "unit", "list_id")
    spark = embeddings.sparkSession
    cents = local_df(
        spark,
        [(i, [float(x) for x in c])
         for i, c in enumerate(model.clusterCenters())],
        "probe_list int, centroid array<double>",
    )
    return assigned, cents


def ann_ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "ml",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    vectors into ``n_lists`` cells; each query probes its ``n_probe``
    nearest cells and exact-cosine re-ranks only those candidates.

    The scale story vs LSH: the candidate set per query is
    ~n_probe/n_lists of the corpus, tunable independently of recall via
    n_probe; the cell assignment is one KMeans fit (sampled at very large N)
    + one transform, and the probe join shuffles by list_id — co-partitioned
    with the inverted lists. Centroids are driver-collected (n_lists rows)
    and broadcast.

    ``query_filter`` contract (uniform across the three top-k functions):
    the filter is evaluated against the query side AFTER the id column is
    renamed to ``qid`` — pass e.g. ``F.col("qid") < 20``.

    Output: (query_id, neighbor_id, rank) — same shape as the brute-force
    baseline so recall is directly measurable.
    """
    assigned, cents = _ivf_fit(
        embeddings, n_lists, id_col, vec_col, quantizer=quantizer
    )
    q = assigned.select(
        F.col("vid").alias("qid"), F.col("unit").alias("qunit"), "list_id"
    )
    if query_filter is not None:
        q = q.where(query_filter)
    # probe ranking: nearest centroids by dot product with the unit query
    # (monotone in euclidean distance on the sphere)
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cdot", dot_product_col("qunit", "centroid"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cdot"), F.asc("probe_list")
                )
            ),
        )
        .where(F.col("probe_rank") <= n_probe)
        .select("qid", "qunit", F.col("probe_list").alias("list_id"))
    )
    cands = probed.join(assigned, "list_id").where(F.col("qid") != F.col("vid"))
    scored = cands.withColumn("cos", dot_product_col("qunit", "unit"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            "rank",
        )
    )


def embedding_cosine_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate clustering: vectors whose cosine
    similarity reaches ``threshold`` become edges; transitive closure via
    connected components (kg/cc.py) yields (vec_id, component) for EVERY
    input vector (singletons are their own component).

    ``candidates``: optional (src, dst) pair table to score — at scale pass
    ``cosine_band_candidates(...)`` (bucket-capped sign-LSH blocking) so the
    pair space is bounded; the default exact all-pairs self-join is the
    small/bounded-input path. With high-recall blocking (n_bits=2,
    n_bands=32: per-edge miss <1e-7 at cos>=0.4) the blocked result equals
    the exact clustering — the contract query is oracle-checked on that
    basis.
    """
    from kg.cc import connected_components

    base = embeddings.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("nrm", _norm_col("vec"))
    a = base.select(
        F.col("vid").alias("src"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("vid").alias("dst"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    if candidates is None:
        pairs = a.crossJoin(b).where(F.col("src") < F.col("dst"))
    else:
        pairs = candidates.join(a, "src").join(b, "dst")
    edges = pairs.where(
        dot_product_col("va", "vb") / (F.col("na") * F.col("nb"))
        >= F.lit(float(threshold))
    ).select("src", "dst")
    comps = connected_components(edges)
    return base.join(comps, base.vid == comps.node, "left").select(
        F.col("vid").alias(id_col),
        F.coalesce("component", F.col("vid")).alias("component"),
    )


def embedding_stats(embeddings: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label embedding diagnostics: count, mean L2 norm (rounded)."""
    norms = embeddings.select(
        F.col(label_col).alias("label"), _norm_col(vec_col).alias("nrm")
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector scalar quantization (the int8 storage format a
    100-TB vector corpus actually ships to its ANN index: 4x smaller scans,
    SIMD-friendly dot products): q_i = round(x_i / scale) with
    scale = max|x| / (2^(bits-1) - 1), so the quantized range is
    [-(2^(bits-1)-1), +(2^(bits-1)-1)] and dequantization is q_i * scale.

    Returns (id, dim, scale, q (csv string), max_abs_err). ``max_abs_err``
    = max_i |x_i - dequant(q_i)| <= scale/2 — reported per vector so a
    downstream recall budget can be checked without re-reading floats.

    Pure narrow map, all JVM array expressions — no shuffle, no Python.
    round() is floor(x/scale + 0.5): identical IEEE ops in any engine, so
    the layout is bit-reproducible (and oracle-checkable) cross-engine;
    max-abs (not a float SUM) keeps the error metric order-independent.
    """
    levels = (1 << (bits - 1)) - 1
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(F.col(id_col), e.alias("_e"))
    scale = (
        F.greatest(F.array_max(F.transform("_e", F.abs)), F.lit(1e-30))
        / F.lit(float(levels))
    )
    with_scale = base.withColumn("_s", scale)
    s = F.col("_s")
    q = F.transform(
        "_e", lambda x: F.floor(x / s + F.lit(0.5)).cast("int").cast("string")
    )
    err = F.array_max(
        F.transform("_e", lambda x: F.abs(x - F.floor(x / s + F.lit(0.5)) * s))
    )
    return with_scale.select(
        id_col,
        F.size("_e").cast("long").alias("dim"),
        F.round(s, 9).alias("scale"),
        F.array_join(q, ",").alias("q"),
        F.round(err, 9).alias("max_abs_err"),
    )


def lloyd_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 3,
    seed: int = 17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic distributed spherical k-means (fixed-round Lloyd):
    the from-scratch quantizer behind IVF cells, topical corpus
    clustering, and cluster-balanced sampling — with NO engine-internal
    randomness, unlike pyspark.ml's k-means|| init, so the contract
    oracle can unroll every round in SQL and reruns are bit-identical.

    Semantics: vectors are L2-normalized; initial centroids are the unit
    vectors of the k ids with the smallest md5(vid|seed) (list_id =
    hash-rank 0..k-1); each round assigns every vector to the centroid
    with the highest dot product (ties -> smaller list_id) and recomputes
    each centroid as the renormalized element-wise mean of its members
    (an emptied cluster keeps its previous centroid); after the last
    update every vector is assigned once more under the FINAL centroids
    (assignments and centroids are mutually consistent, the ml.KMeans
    fit+transform contract). Returns
    (assignments(vid, unit, list_id), centroids(probe_list, centroid)).

    Scale shape per round: one broadcast crossJoin of the corpus with k
    centroid rows + a partial-aggregable max_by argmax (no window), then
    one (list, dim) groupBy for the means — the classic two-job Lloyd
    round; centroids (k x dim doubles) are driver-collected and
    re-broadcast, exactly what ml.KMeans does internally. Cross-engine
    float note: means sum in engine-specific order, so oracle equality
    rests on assignment/probe margins far above float noise — pinned on
    the fixtures by tests/test_ops.py.
    """
    unit = _unit_vectors(embeddings, id_col, vec_col)
    hashed = unit.withColumn(
        "_h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("vid").cast("string"), F.lit(str(seed))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    init_rows = (
        hashed.orderBy("_h", "vid").limit(int(k)).select("unit").collect()
    )
    spark = embeddings.sparkSession
    cents = local_df(
        spark,
        [(i, list(r.unit)) for i, r in enumerate(init_rows)],
        "probe_list int, centroid array<double>",
    )
    def _assign(cents_df: DataFrame) -> DataFrame:
        scored = unit.crossJoin(F.broadcast(cents_df)).withColumn(
            "_dot", dot_product_col("unit", "centroid")
        )
        return (
            scored.groupBy("vid")
            .agg(
                F.max(
                    F.struct(
                        F.col("_dot"),
                        (-F.col("probe_list")).alias("_neg"),
                    )
                ).alias("_b"),
                F.first("unit").alias("unit"),
            )
            .select(
                "vid", "unit", (-F.col("_b._neg")).alias("list_id")
            )
        )

    for _ in range(int(rounds)):
        assigned = _assign(cents)
        sums = (
            assigned.select(
                "list_id", F.posexplode("unit").alias("pos", "val")
            )
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("list_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("_pm")
            )
            .select(
                "list_id",
                F.transform("_pm", lambda s: s["m"]).alias("mean"),
            )
        )
        new_rows = {
            r.list_id: list(r.mean) for r in sums.collect()
        }
        next_cents = []
        for r in cents.collect():
            m = new_rows.get(r.probe_list)
            if m is None:
                next_cents.append((r.probe_list, list(r.centroid)))
            else:
                nrm = sum(x * x for x in m) ** 0.5
                next_cents.append(
                    (r.probe_list, [x / nrm for x in m])
                )
        cents = local_df(spark, next_cents, "probe_list int, centroid array<double>")
    final = _assign(cents)
    return final.select("vid", "unit", "list_id"), cents


def _semdedup_pairs(
    assigned: DataFrame, min_cos: float, max_cell: int | None
) -> DataFrame:
    """Within-cell duplicate pairs (src, dst) from a Lloyd assignment —
    the capped self-join stage of :func:`semdedup`, factored out so the
    count-then-filter cap plan is directly testable: the cell census is
    a k-bounded dim broadcast back onto the corpus side, over-cap cells
    never reach the equi self-join."""
    joinable = assigned
    if max_cell is not None:
        sizes = assigned.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("_cn")
        )
        ok = sizes.where(F.col("_cn") <= int(max_cell)).select("list_id")
        joinable = assigned.join(F.broadcast(ok), "list_id")
    a = joinable.select(
        F.col("list_id"), F.col("vid").alias("_va"),
        F.col("unit").alias("_ua"),
    )
    b = joinable.select(
        F.col("list_id"), F.col("vid").alias("_vb"),
        F.col("unit").alias("_ub"),
    )
    return (
        a.join(b, "list_id")
        .where(F.col("_va") < F.col("_vb"))
        .where(dot_product_col("_ua", "_ub") >= F.lit(float(min_cos)))
        .select(F.col("_va").alias("src"), F.col("_vb").alias("dst"))
    )


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 3,
    seed: int = 17,
    min_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, public
    paper): lexical near-dup (MinHash over tokens) misses paraphrases
    and templated rewrites; this op clusters the embedding space with
    the deterministic Lloyd quantizer, thresholds within-cluster cosine,
    and connects the resulting duplicate graph — the embedding-space
    rung of the dedup ladder.

    Returns a TOTAL verdict table (every vector):
    (vid, list_id, component, is_dup) — component is the min reachable
    vid of the duplicate group (singletons: the vid itself, so the
    survivor of every group is component == vid and is_dup = vid <>
    component). Duplicate pairs crossing a cluster boundary are missed
    by construction — the SemDeDup recall/cost trade (raise k for
    cheaper clusters, lower k for better recall).

    Scale shape: Lloyd rounds (broadcast crossJoin + partial-agged
    argmax each), then the pair generation is an equi self-join ON THE
    CLUSTER ID — candidate volume is sum over cells of |cell|^2, never
    corpus^2; choose k ~ corpus/avg_cell to bound cells, exactly the
    IVF sizing rule. That sizing alone is NOT a hard bound: a
    boilerplate-heavy embedding space collapses into mega-cells the
    same way hot MinHash buckets do (the 1M-page census saw a
    221k-doc bucket), and one mega-cell is a ~1e10-pair stage — so the
    self-join applies the repo-wide count-then-filter cap discipline
    (VERDICT r4 item 2, same as minhash_band_candidates): cells larger
    than ``max_cell`` are excluded from pair generation and their
    members pass through as singletons (is_dup = false — the
    conservative side: an uncapped run can only mark MORE duplicates).
    Pair volume is then bounded by k * max_cell^2. ``max_cell=None``
    disables the cap (contract/oracle-replay use). CC runs on the
    thresholded edge set (duplicate pairs only — a corpus-scale run
    feeds kg/cc.py's large-star/small-star path via
    local_threshold=0)."""
    from kg.cc import connected_components

    assigned, _ = lloyd_kmeans(
        embeddings, k=k, rounds=rounds, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    # three+ consumers (cell census, both self-join sides, final verdict
    # join) — materialize once so Catalyst doesn't replay the Lloyd
    # assignment crossJoin per consumer
    assigned = materialize(assigned)
    pairs = _semdedup_pairs(assigned, min_cos, max_cell)
    comps = connected_components(pairs)  # (node, component), edge nodes only
    return (
        assigned.select("vid", "list_id")
        .join(comps, assigned["vid"] == comps["node"], "left")
        .select(
            "vid",
            "list_id",
            F.coalesce("component", "vid").cast("long").alias("component"),
        )
        .withColumn("is_dup", F.col("vid") != F.col("component"))
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    k: int = 8,
    per_cluster: int = 64,
    rounds: int = 3,
    seed: int = 17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity subsampling for training corpora: cluster the embedding
    space with the deterministic Lloyd quantizer, then keep at most
    ``per_cluster`` vectors per cell, chosen by md5-hash rank (ties ->
    vid) — so no semantic region dominates the sample and the draw is
    reproducible and oracle-replayable (the DataComp-style
    cluster-balanced sampler, the embedding-space analogue of
    kg/ops/curation.py's per-host domain_cap).

    Returns (vid, list_id, kept) for EVERY vector (total verdict table,
    same contract as curate_corpus) — filter kept=1 for the sample.

    Scale shape: lloyd_kmeans's rounds (broadcast crossJoin + argmax +
    (list, dim) groupBy each), then ONE window keyed by the cluster for
    the rank. Cluster sizes are corpus/k — if k is small relative to the
    corpus, raise k (the quantizer cost grows linearly in k, the window
    partitions shrink).
    """
    assigned, _ = lloyd_kmeans(
        embeddings, k=k, rounds=rounds, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("vid").cast("string"),
                              F.lit(f"samp{seed}"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    ranked = assigned.select("vid", "list_id").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("list_id").orderBy(h.asc(), F.col("vid"))
        ),
    )
    return ranked.select(
        "vid",
        "list_id",
        (F.col("_rn") <= int(per_cluster)).cast("int").alias("kept"),
    )


def rp_signs(out_dim: int, in_dim: int, seed: str = "rp") -> list:
    """Deterministic Rademacher (±1) projection matrix, row j / col i
    sign = +1 iff the first hex digit of md5("{seed}:{j}:{i}") < '8'.
    Derived from md5 so the DuckDB oracle can inline the identical
    matrix; exposed so callers persist/replay the exact projection."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    out_dim: int,
    in_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp",
    decimals: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: (id, proj) with
    proj_j = (1/sqrt(out_dim)) * Σ_i s_ji · v_i, s = :func:`rp_signs`.
    Achlioptas (2001) showed Rademacher entries satisfy the JL lemma, so
    pairwise distances/cosines survive within the usual JL distortion —
    this is the cheap front half of an ANN stack (project 1024→64, then
    band/bucket the short vectors) and the standard way to make
    brute-force re-ranking k× cheaper at 10^12 vectors.

    Scale shape: a PURE MAP — per output dim one zip_with (sign flip)
    + one in-order aggregate fold, all JVM codegen; no shuffle, no
    Python, the matrix is out_dim×in_dim literals baked into the plan.
    Rounded to ``decimals`` (sums of ≤in_dim float32 values in double:
    cross-engine ULP noise is far below the rounding grain).
    """
    import math

    signs = rp_signs(out_dim, in_dim, seed)
    inv = 1.0 / math.sqrt(out_dim)
    cols = []
    for j in range(out_dim):
        sj = F.array(*[F.lit(s) for s in signs[j]])
        flipped = F.zip_with(
            F.col(vec_col), sj, lambda v, s: v.cast("double") * s
        )
        acc = F.aggregate(flipped, F.lit(0.0), lambda a, x: a + x)
        cols.append(F.round(acc * F.lit(inv), decimals))
    return emb.select(F.col(id_col), F.array(*cols).alias("proj"))


def _pq_subvectors(
    embeddings: DataFrame,
    m_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, int]:
    """(vid, sub, x) long-format subvector table: dimension D split into
    ``m_sub`` contiguous blocks of D/m_sub. Pure map (one explode of a
    transform — no shuffle); returns (table, d_sub)."""
    first = embeddings.select(vec_col).first()
    if first is None:
        raise ValueError("empty embeddings input")
    d = len(first[0])
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub {m_sub}")
    dsub = d // m_sub
    e = F.col(vec_col).cast("array<double>")
    sv = (
        embeddings.select(
            F.col(id_col).cast("long").alias("vid"), e.alias("_e")
        )
        .select(
            "vid",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(int(m_sub) - 1)),
                    lambda s: F.struct(
                        s.cast("int").alias("sub"),
                        F.slice("_e", s * dsub + 1, dsub).alias("x"),
                    ),
                )
            ).alias("_sx"),
        )
        .select("vid", F.col("_sx.sub").alias("sub"), F.col("_sx.x").alias("x"))
    )
    return sv, dsub


def _pq_d2(x, c) -> Column:
    # expansion form ||x-c||^2 = x.x - 2 x.c + c.c — the SAME op sequence
    # the DuckDB oracle uses, so rounding agrees cross-engine
    return (
        dot_product_col(x, x)
        - 2.0 * dot_product_col(x, c)
        + dot_product_col(c, c)
    )


def pq_train(
    embeddings: DataFrame,
    m_sub: int = 4,
    k: int = 8,
    rounds: int = 2,
    seed: int = 17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product quantization (Jegou et al. 2011): train per-subspace
    codebooks and encode every vector — the memory side of the ANN
    ladder (sign-LSH blocks, IVF partitions, PQ compresses: D doubles
    become m_sub bytes, ~64x, so a 10^12-vector index fits a cluster's
    RAM). Deterministic by the module's discipline: initial centroids
    are the subvectors of the k ids with the smallest md5(vid|seed) —
    no engine randomness — so the oracle replays every Lloyd round in
    SQL.

    Per-subspace plain-L2 Lloyd (NOT spherical — PQ quantizes raw
    subvectors): assign each (vid, sub) row to the centroid minimizing
    ||x-c||^2 (ties -> smaller code), recompute centroids as per-dim
    means (an emptied cell keeps its centroid), fixed ``rounds``, then
    one final assignment under the final codebooks (fit+transform
    consistency, same contract as lloyd_kmeans).

    Returns (codes(vid, sub, code), codebooks(sub, code, centroid)).

    Scale shape: ALL m_sub subspaces train in the SAME distributed job —
    the subvector table carries ``sub`` as a key, each round is one
    broadcast join (m_sub*k centroid rows) + a partial-aggregable
    min_by argmax + one (sub, code, dim) groupBy for means; codebooks
    (m_sub*k*d_sub doubles) are driver-collected and re-broadcast,
    exactly the lloyd_kmeans / ml.KMeans discipline."""
    sv, dsub = _pq_subvectors(embeddings, m_sub, id_col, vec_col)
    spark = embeddings.sparkSession

    # init: subvectors of the k smallest-md5 ids, same ids per subspace
    hashed = embeddings.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("_e"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col(id_col).cast("string"), F.lit(str(seed))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long").alias("_h"),
    )
    init_rows = hashed.orderBy("_h", "vid").limit(int(k)).select("_e").collect()
    cents = local_df(
        spark,
        [
            (s, j, list(r._e[s * dsub : (s + 1) * dsub]))
            for s in range(m_sub)
            for j, r in enumerate(init_rows)
        ],
        "sub int, code int, centroid array<double>",
    )

    def _assign(cents_df: DataFrame) -> DataFrame:
        scored = sv.join(F.broadcast(cents_df), "sub").withColumn(
            "_d2", _pq_d2(F.col("x"), F.col("centroid"))
        )
        return (
            scored.groupBy("vid", "sub")
            .agg(F.min(F.struct("_d2", "code")).alias("_b"))
            .select("vid", "sub", F.col("_b.code").alias("code"))
        )

    for _ in range(int(rounds)):
        assigned = _assign(cents)
        means = (
            assigned.join(sv, ["vid", "sub"])
            .select("sub", "code", F.posexplode("x").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("sub", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm")
            )
            .select(
                "sub",
                "code",
                F.transform("_pm", lambda s: s["m"]).alias("mean"),
            )
        )
        new = {(r.sub, r.code): list(r.mean) for r in means.collect()}
        cents = local_df(
            spark,
            [
                (r.sub, r.code, new.get((r.sub, r.code), list(r.centroid)))
                for r in cents.collect()
            ],
            "sub int, code int, centroid array<double>",
        )
    return _assign(cents), cents


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    m_sub: int = 4,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over a PQ-encoded corpus:
    for each query, squared-L2 distance to every encoded vector is the
    SUM over subspaces of the query-to-centroid distance of that
    vector's code — one m_sub*k lookup table per query instead of a
    D-dim computation per pair. Returns (qid, nid, rank, d2) with
    rank <= topk (ties -> smaller nid; self-matches dropped).

    ``refine`` (ADC+R, Jegou et al. 2011 §VI): keep the top ``refine``
    ADC candidates per query, then re-rank that shortlist by EXACT
    squared L2 against the raw ``vectors`` table (required when refine
    is set); d2 in the output is then exact. On concentrated
    (structure-free) embeddings ADC ordering is dominated by
    quantization noise — measured on the synthetic fixture: recall@5
    0.08 pure-ADC vs 0.81 with refine=200 — so production searches
    should always refine; the shortlist join touches |q| x refine raw
    vectors, not the corpus.

    Scale shape: the distance table dt is |queries| x m_sub x k rows
    (broadcast-sized); the corpus-side ``codes`` joins it on the tiny
    (sub, code) key — ADC is still an exhaustive scan (combine with IVF
    lists for sublinear candidates), but each corpus row costs a lookup
    + add, and the only corpus-sized exchange is the (qid, nid) partial
    sum."""
    q_sv, _ = _pq_subvectors(queries, m_sub, id_col, vec_col)
    dt = q_sv.withColumnRenamed("vid", "qid").join(
        F.broadcast(codebooks), "sub"
    ).select(
        "qid", "sub", "code",
        _pq_d2(F.col("x"), F.col("centroid")).alias("_d2"),
    )
    cand = (
        codes.join(dt, ["sub", "code"])
        .where(F.col("vid") != F.col("qid"))
        .groupBy("qid", F.col("vid").alias("nid"))
        .agg(F.sum("_d2").alias("d2"))
    )
    return _pq_rank(
        cand, queries, topk, refine, vectors, id_col, vec_col
    )


def _pq_rank(
    cand: DataFrame,
    queries: DataFrame,
    topk: int,
    refine: int | None,
    vectors: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared ADC ranking tail: plain top-k over approximate d2, or —
    with ``refine`` — exact-L2 re-rank of the ADC shortlist (ADC+R)."""
    w = Window.partitionBy("qid").orderBy("d2", "nid")
    if refine is None:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= topk)
            .select(
                "qid", "nid", F.col("rank").cast("long").alias("rank"),
                F.round("d2", 6).alias("d2"),
            )
        )
    if vectors is None:
        raise ValueError("refine requires the raw `vectors` table")
    shortlist = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= refine)
        .select("qid", "nid")
    )
    qv = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    nv = vectors.select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    exact = shortlist.join(F.broadcast(qv), "qid").join(nv, "nid").select(
        "qid", "nid", _pq_d2(F.col("_qv"), F.col("_nv")).alias("d2")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "qid", "nid", F.col("rank").cast("long").alias("rank"),
            F.round("d2", 6).alias("d2"),
        )
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 4,
    m_sub: int = 4,
    k_codes: int = 8,
    pq_rounds: int = 2,
    ivf_rounds: int = 3,
    seed: int = 17,
    query_filter: Column | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int | None = None,
) -> DataFrame:
    """IVF-PQ: the COMPOSED ANN stack (Jegou et al. 2011) — the IVF
    coarse quantizer prunes each query's candidates to its ``n_probe``
    nearest cells (~n_probe/n_lists of the corpus), and PQ codes rank
    those candidates by asymmetric distance (a per-query lookup table,
    no full-dimension math per pair). This is the shape a 10^12-vector
    index actually serves: sublinear candidates x constant-memory codes,
    exact vectors never touched at query time.

    Deterministic end-to-end (both quantizers are md5-seeded Lloyd), so
    the contract oracle unrolls BOTH trainings, the probe ranking, and
    the ADC sum in one SQL query. ``query_filter`` follows the module's
    uniform contract (applied after the id renames to ``qid``).

    Output: (qid, nid, rank, d2) — d2 is the PQ-approximated squared L2
    on raw vectors, rank <= k, ties -> smaller nid. ``refine`` switches
    on ADC+R (exact-L2 re-rank of the top ``refine`` ADC candidates
    against the raw vectors; d2 becomes exact) — see
    :func:`pq_adc_topk` for the measured recall cliff on concentrated
    embeddings that makes refinement the production default.

    Scale shape: one Lloyd fit each for cells and codebooks (driver-
    synchronized, corpus-linear per round), then per query batch: a
    broadcast centroid probe, ONE equi-join on list_id against the
    assignment table, one (sub, code) lookup join against the broadcast
    distance table, and a partial-aggregable (qid, nid) sum."""
    assigned, cents = _ivf_fit(
        embeddings, n_lists, id_col, vec_col,
        quantizer="lloyd", rounds=ivf_rounds, kseed=seed,
    )
    codes, books = pq_train(
        embeddings, m_sub=m_sub, k=k_codes, rounds=pq_rounds, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    q = assigned.select(
        F.col("vid").alias("qid"), F.col("unit").alias("qunit")
    )
    if query_filter is not None:
        q = q.where(query_filter)
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("cdot", dot_product_col("qunit", "centroid"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cdot"), F.asc("probe_list")
                )
            ),
        )
        .where(F.col("probe_rank") <= n_probe)
        .select("qid", F.col("probe_list").alias("list_id"))
    )
    cands = (
        probed.join(assigned.select("vid", "list_id"), "list_id")
        .where(F.col("qid") != F.col("vid"))
        .select("qid", F.col("vid").alias("nid"))
    )
    # ADC lookup table from the RAW query subvectors (asymmetric: the
    # query is exact, candidates are code lookups)
    queries_raw = embeddings.select(
        F.col(id_col).cast("long").alias("qid"), F.col(vec_col)
    ).join(q.select("qid"), "qid")
    q_sv, _ = _pq_subvectors(queries_raw, m_sub, "qid", vec_col)
    dt = q_sv.withColumnRenamed("vid", "qid").join(
        F.broadcast(books), "sub"
    ).select(
        "qid", "sub", "code",
        _pq_d2(F.col("x"), F.col("centroid")).alias("_d2"),
    )
    scored = (
        cands.join(codes.withColumnRenamed("vid", "nid"), "nid")
        .join(dt, ["qid", "sub", "code"])
        .groupBy("qid", "nid")
        .agg(F.sum("_d2").alias("d2"))
    )
    return _pq_rank(
        scored, queries_raw.withColumnRenamed("qid", id_col), k,
        refine, embeddings, id_col, vec_col,
    )


def mmr_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 5,
    lam: float = 0.7,
    n_candidates: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): a
    diversified top-k — greedily pick the candidate maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` — so
    near-duplicate results don't crowd the answer list. The re-ranking
    rung above :func:`cosine_topk_bruteforce`/the ANN ladder.

    Returns (rank, vec_id, relevance, mmr_score), both scores rounded
    to 6; rank 1 is the pure-relevance argmax (the MMR recurrence's
    base case). Ties break on vec_id ascending — fully deterministic.

    Two phases (the IVF build/probe split): candidate generation is
    DISTRIBUTED — relevance = cosine vs the query vector over the whole
    corpus, exact top-``n_candidates`` via TakeOrdered (never a full
    sort); the greedy loop then runs k rounds of DataFrame ops over the
    BOUNDED candidate table (each round: one broadcast join against the
    selected set + a max-aggregate + a TakeOrdered argmax — tiny jobs,
    the standard head-of-query cost, like pagerank's dangling-mass
    scalar). Float determinism: dot products fold arrays in index order
    (identical in the DuckDB oracle); max-over-selected is
    order-insensitive; each score is a single expression."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    base = embeddings.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    ).withColumn("cnorm", _norm_col("cvec"))
    qrow = embeddings.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qvec")
    )
    cands = (
        base.where(F.col("cid") != query_id)
        .crossJoin(F.broadcast(qrow))
        .withColumn(
            "rel",
            dot_product_col("cvec", "qvec")
            / (F.col("cnorm") * _norm_col("qvec")),
        )
        .orderBy(F.desc("rel"), F.asc("cid"))
        .limit(int(n_candidates))
        .select("cid", "cvec", "cnorm", "rel")
    )
    cands = materialize(cands)
    spark = embeddings.sparkSession
    picked: list[tuple] = []
    for rank in range(1, int(k) + 1):
        remaining = cands.where(
            ~F.col("cid").isin([p[1] for p in picked])
            if picked
            else F.lit(True)
        )
        if not picked:
            best = remaining.orderBy(F.desc("rel"), F.asc("cid")).first()
            if best is None:
                break
            score = best["rel"]
        else:
            sel = cands.where(
                F.col("cid").isin([p[1] for p in picked])
            ).select(
                F.col("cvec").alias("svec"), F.col("cnorm").alias("snorm")
            )
            scored = (
                remaining.crossJoin(F.broadcast(sel))
                .withColumn(
                    "sim",
                    dot_product_col("cvec", "svec")
                    / (F.col("cnorm") * F.col("snorm")),
                )
                .groupBy("cid", "rel")
                .agg(F.max("sim").alias("maxsim"))
                .withColumn(
                    "score",
                    F.lit(float(lam)) * F.col("rel")
                    - F.lit(1.0 - float(lam)) * F.col("maxsim"),
                )
            )
            best = scored.orderBy(F.desc("score"), F.asc("cid")).first()
            if best is None:
                break
            score = best["score"]
        picked.append(
            (rank, int(best["cid"]), round(float(best["rel"]), 6),
             round(float(score), 6))
        )
    return local_df(
        spark, picked, "rank INT, vec_id LONG, relevance DOUBLE, mmr_score DOUBLE"
    )


def mine_contrastive_pairs(
    embeddings: DataFrame,
    clusters: DataFrame,
    k_neg: int = 4,
    n_candidates: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive training pairs for embedding-model fine-tuning:
    per anchor, a POSITIVE from its near-duplicate cluster
    (:func:`embedding_cosine_near_dup`'s (vec_id, component)) and the
    ``k_neg`` HARDEST negatives — the highest-cosine neighbors OUTSIDE
    the cluster, exactly the in-batch-negatives-are-too-easy fix hard-
    negative mining exists for. Anchors without a cluster partner emit
    nothing (no positive to contrast against).

    Returns (anchor_id, pos_id, neg_rank, neg_id, neg_cos): pos_id is
    the smallest OTHER member of the anchor's cluster (deterministic);
    negatives rank by (cosine desc, id asc) over the anchor's
    ``n_candidates`` nearest neighbors with same-cluster rows
    anti-filtered, cosine rounded 6.

    Scale shape: the neighbor sweep is :func:`cosine_topk_bruteforce`
    at bounded n_candidates (swap in ann_lsh_topk/ann_ivf_topk at
    corpus scale — same (query, neighbor, rank) contract); cluster
    lookups are two joins against the (vec_id, component) assignment,
    both keyed on the id; the per-anchor positive and the negative
    rerank are partial-aggable min/window over <= n_candidates rows per
    anchor.
    """
    comp = clusters.select(
        F.col(id_col).alias("_id"), F.col("component").alias("_c")
    )
    pos = (
        comp.alias("a")
        .join(
            comp.alias("b"),
            (F.col("a._c") == F.col("b._c"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("anchor_id"))
        .agg(F.min(F.col("b._id")).cast("long").alias("pos_id"))
    )
    base = embeddings.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).withColumn("nnorm", _norm_col("nvec"))
    q = embeddings.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn("qnorm", _norm_col("qvec"))
    # neighbor sweep restricted to anchors that HAVE a positive: the
    # query side prunes before the pair join
    q = q.join(
        pos.select(F.col("anchor_id").alias("qid")), "qid", "left_semi"
    )
    pairs = F.broadcast(q).crossJoin(base).where(
        F.col("qid") != F.col("nid")
    )
    scored = pairs.withColumn(
        "cos",
        dot_product_col("qvec", "nvec") / (F.col("qnorm") * F.col("nnorm")),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(n_candidates))
        .select("qid", "nid", "cos")
    )
    # anti-filter same-cluster neighbors (positives must not leak into
    # the negative set), then re-rank the survivors
    ac = comp.select(F.col("_id").alias("qid"), F.col("_c").alias("qc"))
    nc = comp.select(F.col("_id").alias("nid"), F.col("_c").alias("nc"))
    negs = (
        cand.join(ac, "qid", "left")
        .join(nc, "nid", "left")
        .where(
            F.col("qc").isNull()
            | F.col("nc").isNull()
            | (F.col("qc") != F.col("nc"))
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    topn = (
        negs.withColumn("neg_rank", F.row_number().over(w2))
        .where(F.col("neg_rank") <= int(k_neg))
    )
    return topn.join(
        pos, topn["qid"] == pos["anchor_id"]
    ).select(
        "anchor_id",
        "pos_id",
        F.col("neg_rank").cast("int").alias("neg_rank"),
        F.col("nid").cast("long").alias("neg_id"),
        F.round("cos", 6).alias("neg_cos"),
    )
