"""Deduplication operators: exact, sorted-shingle signature, MinHash-LSH,
SimHash, and n-gram Jaccard — the standard near-dup ladder for pre-training
corpora (exact -> cheap signature -> probabilistic blocking -> verify).

Scale shapes:
- exact/shingle/simhash-band dedup: one partial-aggregated groupBy each.
- MinHash near-dup (canonical): hand-rolled banded LSH with bucket-size
  capping + exact-Jaccard verification, then connected components
  (kg/cc.py) so transitive duplicate chains collapse into one cluster
  (pairwise-only dedup leaves A~B~C split). The pyspark.ml
  approxSimilarityJoin variant is retained ONLY as a small-fixture
  cross-check — its uncapped bucket join is quadratic under skew.
- SimHash: Arrow-batched pandas UDF (numpy bit math; no JVM equivalent),
  then JVM-side band grouping for candidate pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.cc import connected_components
from kg.session import local_df, materialize


#: rotation step per gram position for the word-hash gram key (coprime
#: to 60 so k <= 60 positions get distinct rotations)
_GRAM_ROT_STEP = 7


def gram_hash_array(words_col, k: int):  # noqa: ANN001
    """60-bit k-gram keys from PER-WORD md5 hashes, as a pure-long
    array expression: each word is hashed ONCE
    (conv(substr(md5(word),1,15)) — the repo's SQL-replayable 60-bit
    convention), and gram i's key is the XOR over j of
    rot_{7j mod 60}(h[i+j]), with rotation expressed overflow-free as
    (h % 2^(60-r)) * 2^r + h // 2^(60-r) (identical integer algebra in
    Spark and DuckDB — BIGINT left-shift overflows error in both ANSI
    engines, so no shifts).

    Why: the previous key md5-hashed the JOINED K-WORD STRING per
    position — ~50 allocated+hashed bytes per gram. Per-word hashing
    cuts md5 input ~k-fold and the combination is register arithmetic,
    which matters because the gram map measured memory-bandwidth-bound
    (BENCH/AB_TEXTOPS_r4.md). Positional rotations keep the key
    order-sensitive; collisions stay ~2^-60-ish per pair for natural
    text (an xor-rotation family, not cryptographic — the same
    documented dedup trade as key truncation).

    Returns an ARRAY<LONG> column of n-k+1 keys (empty when the doc has
    fewer than k words)."""
    w = words_col if not isinstance(words_col, str) else F.col(words_col)
    k = int(k)
    hs_expr = F.transform(
        w,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
    )

    def rot(h, j: int):
        # (h % 2^(60-r)) * 2^r + (h >> (60-r)) — right shifts only (left
        # shifts of 60-bit values overflow-error in BOTH ANSI engines;
        # double-division floor would lose bits past 2^53)
        r = (_GRAM_ROT_STEP * j) % 60
        if r == 0:
            return h
        return (h % F.lit(1 << (60 - r))) * F.lit(1 << r) + F.shiftright(
            h, 60 - r
        )

    # hs MUST be a bound lambda variable (the dedupe_paragraphs
    # let-binding idiom): referencing the transform expression directly
    # inside the per-gram lambda re-evaluates the ENTIRE word-hash pass
    # per element_at — O(n^2 k) per doc (observed hanging the bench)
    def _body(hs):
        def gram(i):
            out = None
            for j in range(k):
                term = rot(F.element_at(hs, i + j + 1), j)
                out = term if out is None else out.bitwiseXOR(term)
            return out

        n = F.size(hs)
        return F.when(
            n >= k,
            F.transform(F.sequence(F.lit(0), n - k), gram),
        ).otherwise(F.array().cast("array<long>"))

    return F.element_at(F.transform(F.array(hs_expr), _body), 1)


def gram_hash_arrow(words_col, k: int):  # noqa: ANN001
    """Arrow-batched twin of :func:`gram_hash_array`: the SAME 60-bit
    per-word-md5 rotation/xor gram keys, computed in a pandas UDF
    instead of the interpreted Catalyst HOF.

    Why this exists (BENCH/AB_TEXTOPS_r4.md): the JVM gram map measured
    memory-bandwidth-bound with the interpreted transform's per-element
    dispatch dominating — this path moves the map to Arrow-batched
    worker processes where (a) each DISTINCT word in a batch is md5'd
    ONCE (a dict memo — boilerplate-dense corpora repeat words heavily;
    the JVM expression hashes every occurrence) and (b) the k-term
    rotation/xor combine is k vectorized numpy passes over the whole
    doc instead of per-gram lambda dispatch. Key values are
    BIT-IDENTICAL to gram_hash_array (pinned in tests), so oracles and
    downstream plans are unchanged; only the map's execution venue
    moves. Python workers are separate processes — the usual pandas-UDF
    serialization tax applies, which is why both venues stay available
    and the bench A/B picks per corpus shape."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    k = int(k)
    rots = [(_GRAM_ROT_STEP * j) % 60 for j in range(k)]

    @pandas_udf("array<long>")
    def _grams(words: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}
        empty = np.empty(0, dtype=np.int64)
        out = []
        for wlist in words:
            if wlist is None or len(wlist) < k:
                out.append(empty)
                continue
            n = len(wlist)
            h = np.empty(n, dtype=np.int64)
            for i, wd in enumerate(wlist):
                v = memo.get(wd)
                if v is None:
                    v = int(
                        hashlib.md5(wd.encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                    memo[wd] = v
                h[i] = v
            acc = None
            m = n - k + 1
            for j, r in enumerate(rots):
                hj = h[j:j + m]
                if r:
                    t = (hj % (1 << (60 - r))) * (1 << r) + (
                        hj >> (60 - r)
                    )
                else:
                    t = hj
                acc = t if acc is None else np.bitwise_xor(acc, t)
            out.append(acc)
        return pd.Series(out)

    w = words_col if not isinstance(words_col, str) else F.col(words_col)
    return _grams(w)


def gram_hash_sql(arr_expr: str, k: int, idx: str = "g.i") -> str:
    """DuckDB expression computing the SAME gram key as
    :func:`gram_hash_array` for the gram starting at 1-based ``idx`` of
    word-list ``arr_expr`` — the oracle half of the construction."""
    k = int(k)

    def rot(h: str, j: int) -> str:
        r = (_GRAM_ROT_STEP * j) % 60
        if r == 0:
            return h
        return (f"(({h}) % {1 << (60 - r)}) * {1 << r}"
                f" + (({h}) >> {60 - r})")

    def wh(j: int) -> str:
        return (f"('0x' || substr(md5({arr_expr}[{idx} + {j}]), 1, 15))"
                "::BIGINT")

    out = rot(wh(0), 0)
    for j in range(1, k):
        out = f"xor({out}, {rot(wh(j), j)})"
    return out


def _norm_text(col: str = "text") -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _words(col: str = "text") -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization) docs:
    (text_hash, n_docs, keep_id). keep_id = min id, the canonical survivor."""
    return (
        docs.select(F.col(id_col), F.md5(_norm_text()).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def shingle_signature_dedup(
    docs: DataFrame, id_col: str = "doc_id", k: int = 3, sig_size: int = 8
) -> DataFrame:
    """Sorted-shingle signature: md5 over the first ``sig_size`` sorted
    distinct k-word shingles. Near-dup docs sharing their rare shingles
    collide; cheap one-shuffle alternative to MinHash for coarse dedup.
    Output: (doc_id, shingle_sig)."""
    words = _words()
    shingles = F.array_sort(
        F.array_distinct(
            F.when(F.size(words) >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size(words) - k),
                    lambda i: F.array_join(F.slice(words, i + 1, k), " "),
                )
            ).otherwise(F.array(F.array_join(words, " ")))
        )
    )
    sig = F.md5(F.array_join(F.slice(shingles, 1, sig_size), ""))
    return docs.select(F.col(id_col), sig.alias("shingle_sig"))


def minhash_near_dup_ml(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    num_hash_tables: int = 6,
    num_features: int = 1 << 18,
) -> DataFrame:
    """pyspark.ml MinHashLSH near-dup clustering — TEST CROSS-CHECK ONLY.

    ``approxSimilarityJoin`` joins every pair inside each band bucket with no
    size cap; on boilerplate-heavy corpora near-identical docs pile into the
    same buckets and the join goes quadratic (measured hanging >9 min on 20k
    template pages). The production path is :func:`minhash_near_dup` (banded,
    bucket-capped, exact-Jaccard-verified); this variant exists to cross-check
    it on small fixtures.

    (doc_id, component, keep_id): docs sharing a component are near-dups;
    keep_id is the cluster survivor (min doc_id). Transitive closure via
    connected components, not just pairs.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    toks = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       _words().alias("tokens")).where(F.size("tokens") > 0)
    tf = HashingTF(inputCol="tokens", outputCol="features",
                   numFeatures=num_features, binary=True)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=7)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=1.0 - min_jaccard + 1e-9, distCol="d"
    )
    edges = (
        pairs.select(F.col("datasetA.doc_id").alias("src"),
                     F.col("datasetB.doc_id").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    comps = connected_components(edges)
    all_docs = toks.select("doc_id")
    membered = all_docs.join(comps, all_docs.doc_id == comps.node, "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    keep = membered.groupBy("component").agg(F.min("doc_id").alias("keep_id"))
    return membered.join(keep, "component").select("doc_id", "component", "keep_id")


def minhash_signatures(
    toksets: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "tokset",
    k: int = 64,
) -> DataFrame:
    """(_id, sig ARRAY<LONG>) k-hash MinHash signatures. Factored out so
    band blocking and the verify-stage estimate gate share ONE signature
    computation (callers materialize it once and pass it to both)."""
    toks = toksets.select(
        F.col(id_col).cast("long").alias("_id"), F.col(tok_col).alias("_ts")
    ).withColumn("_hs", F.transform("_ts", lambda t: F.xxhash64(t)))

    def _minhash(seed: int):
        # single-parameter lambda only: a 2-arg lambda would be called with
        # (element, array_index) and the index would silently replace the
        # seed (same trap as noted in kg/ops/textstats.py lang_id)
        return F.array_min(
            F.transform("_hs", lambda h: F.xxhash64(F.lit(seed), h))
        )

    return toks.select(
        "_id", F.array(*[_minhash(i) for i in range(k)]).alias("sig")
    )


def _band_key_structs(k: int, bands: int):
    """Array of (band, bkey) structs over a ``sig`` column — the banded-LSH
    bucket keys (xxhash64 over k/bands-wide signature slices). Single source
    of truth for batch blocking (minhash_band_candidates) and the
    incremental index probe (incremental_near_dup), so a persisted index
    and a fresh batch always hash to the same buckets."""
    r = k // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), F.slice("sig", b * r + 1, r)).alias("bkey"),
        )
        for b in range(bands)
    ])


def minhash_band_candidates(
    toksets: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "tokset",
    k: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs (a < b, int64 ids) from banded MinHash over a
    token-set column, with BUCKET-SIZE CAPPING: buckets larger than
    ``max_bucket`` are dropped before the self-join, bounding candidate
    volume at buckets * max_bucket^2. Shared by near-dup clustering
    (minhash_near_dup) and alias canonicalization (kg/stages/canon.py).

    All JVM-side. Each token STRING is hashed once (xxhash64 over
    variable-length UTF-8 is the expensive part); the k per-seed minhash
    values then come from re-hashing the resulting fixed-width long
    (xxhash64(seed, h)) — measured ~2x on the signature stage vs hashing
    the string k times, identical recall math (uniform 64-bit family
    either way). Band keys = xxhash64 over signature slices. Pair the
    output with an exact verifier (jaccard_verified_edges) — blocking
    affects recall only.
    """
    r = k // bands
    if signatures is None:
        signatures = minhash_signatures(toksets, id_col, tok_col, k)
    sig = signatures
    band_structs = _band_key_structs(k, bands)
    buckets = sig.select("_id", F.explode(band_structs).alias("bk")).select(
        "_id", "bk.band", "bk.bkey"
    )
    # THREE consumers read the bucket table (size count + both sides of the
    # self-join); without a materialization barrier Catalyst recomputes the
    # whole signature tree per consumer (measured 3x: 34s -> ~11s on the
    # 100k-doc bench corpus). The table is small — O(n * bands) fixed-width
    # rows — so the barrier is cheap and also cuts the lineage the
    # downstream CC iterations would otherwise drag along (reliable when a
    # checkpoint dir is set — kg.session.materialize).
    buckets = materialize(buckets)
    sizes = buckets.groupBy("band", "bkey").agg(F.count("*").alias("n"))
    kept = buckets.join(
        sizes.where(F.col("n") <= max_bucket).select("band", "bkey"),
        ["band", "bkey"],
    )
    left = kept.alias("l")
    right = kept.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )


def jaccard_verified_edges(
    toksets: DataFrame,
    candidates: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    tok_col: str = "tokset",
    signatures: DataFrame | None = None,
    est_margin: float | None = None,
) -> DataFrame:
    """Exact token-set Jaccard gate over candidate (a, b) pairs ->
    (src, dst) edges with jaccard >= min_jaccard. JVM-side set algebra.

    Size-ratio prefilter: jaccard(A, B) <= min(|A|,|B|) / max(|A|,|B|), so
    pairs whose set sizes are too unbalanced are rejected from the two int
    columns BEFORE the O(|A|+|B|) intersection — semantics-preserving, and
    it prunes exactly the candidates LSH banding lets through between
    differently-sized docs.

    Signature-estimate gate (``signatures`` + ``est_margin``): before the
    exact intersection, pairs are scored by their MinHash agreement
    fraction (k fixed-width longs per doc vs a full token-string array —
    ~4x less shuffle per pair, integer equality instead of string set
    intersection) and dropped when est < min_jaccard - est_margin. The
    estimate is Binomial(k, j)/k, so for a TRUE pair (j >= min_jaccard)
    the miss probability is the lower tail at margin — for k=64 and
    margin 0.3 that is ~1e-9 per pair (6 sigma), negligible against the
    banding recall itself; precision is untouched (exact Jaccard still
    decides). On self-similar corpora the gate removes ~99% of candidate
    pairs before any token array moves."""
    toks = toksets.select(
        F.col(id_col).cast("long").alias("_id"), F.col(tok_col).alias("_ts")
    )
    # PHASE 1 — size-ratio prune on NARROW columns only: the candidate
    # table joins two (id, size) int dims, never the token arrays, so the
    # pairs the ratio rejects (most of them, on banded candidates between
    # differently-sized docs) are dropped before any array is shuffled.
    # The dims are |reps| rows of two ints — AQE broadcasts them when
    # small; at any size this phase moves ~16 bytes/pair, not ~KBs/pair.
    sizes = toks.select("_id", F.size("_ts").alias("_sz"))
    survivors = (
        candidates.join(
            sizes.select(F.col("_id").alias("a"), F.col("_sz").alias("sz_a")),
            "a",
        )
        .join(
            sizes.select(F.col("_id").alias("b"), F.col("_sz").alias("sz_b")),
            "b",
        )
        .where(
            F.least("sz_a", "sz_b")
            >= F.lit(float(min_jaccard)) * F.greatest("sz_a", "sz_b")
        )
        .select("a", "b", "sz_a", "sz_b")
    )
    # PHASE 1.5 — MinHash-estimate gate on fixed-width signature arrays
    if signatures is not None and est_margin is not None:
        sa = signatures.select(
            F.col("_id").alias("a"), F.col("sig").alias("_sig_a")
        )
        sb = signatures.select(
            F.col("_id").alias("b"), F.col("sig").alias("_sig_b")
        )
        matches = F.size(
            F.filter(
                F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        )
        est = matches / F.size("_sig_a")
        survivors = (
            survivors.join(sa, "a")
            .join(sb, "b")
            .where(est >= F.lit(float(min_jaccard) - float(est_margin)))
            .select("a", "b", "sz_a", "sz_b")
        )
    # PHASE 2 — exact Jaccard on the survivors only
    ta = toks.select(F.col("_id").alias("a"), F.col("_ts").alias("ts_a"))
    tb = toks.select(F.col("_id").alias("b"), F.col("_ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        survivors.join(ta, "a").join(tb, "b")
        .where(inter / F.greatest(union, F.lit(1)) >= F.lit(float(min_jaccard)))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def minhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.5,
    max_bucket: int = 64,
    est_margin: float | None = 0.3,
) -> DataFrame:
    """Banded-MinHash near-dup clustering with BUCKET-SIZE CAPPING — the
    canonical near-dup operator and the 10^12-doc scale path.

    ``est_margin``: the verify stage's MinHash-estimate gate (see
    jaccard_verified_edges) — drops candidate pairs whose signature
    agreement is below min_jaccard - est_margin before the exact Jaccard
    join. Default 0.3: ~1e-9 per-true-pair miss probability at k=64,
    orders of magnitude below the banding miss rate it sits behind, and
    it removes ~99% of false candidates on boilerplate-heavy corpora
    before any token array is shuffled. ``None`` disables the gate
    (pure exact verification).

    pyspark.ml's MinHashLSH approxSimilarityJoin joins every pair inside a
    band bucket; on boilerplate-heavy web corpora near-identical docs pile
    into the same buckets and the join goes quadratic (measured: hung on
    20k template-generated pages where the .ml path is fine on distinct
    docs). Here the bucket join is explicit, so oversized buckets — the
    skew — are dropped and COUNTED: a bucket of b near-identical docs still
    clusters via its other (smaller) bands or transitive chains, and the
    cap bounds candidate pairs at buckets * max_bucket^2.

    Everything is JVM-side: k minhashes = array_min over per-seed
    xxhash64(token), band keys = xxhash64 over signature slices, candidate
    pairs verified with exact token-set Jaccard before clustering.

    Identical token sets are collapsed to one representative BEFORE the
    LSH (so exact duplicates always cluster, immune to the cap, and the
    heaviest boilerplate groups become one row each).

    Tune (bands, k) to the threshold: the LSH S-curve midpoint sits near
    (1/bands)^(bands/k); the default 16 bands x 4 rows targets ~0.5. Because
    every candidate pair is verified with exact token-set Jaccard, extra
    bands only cost candidate volume, never precision — with bands=32/k=64
    (2 rows per band) the per-pair miss probability at j>=0.8 is
    (1-j^2)^32 <= 7e-15, i.e. the result equals the exact all-pairs
    clustering in practice (the contract query is oracle-checked against a
    DuckDB exact-Jaccard transitive closure on that basis).

    Returns (doc_id, component, keep_id) for every non-empty input doc.
    """
    all_toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.array_sort(F.array_distinct(_words())).alias("tokset"),
    ).where(F.size("tokset") > 0)
    # collapse IDENTICAL token sets to one representative before LSH:
    # exact duplicates (jaccard 1.0) cluster by construction — immune to
    # the bucket cap — and the heaviest boilerplate groups become one row
    membership = all_toks.select(
        "doc_id", F.md5(F.concat_ws("\x1f", "tokset")).alias("bow")
    )
    rep_of = membership.groupBy("bow").agg(F.min("doc_id").alias("rep"))
    # membership feeds the rep filter AND the final component fan-out;
    # toks feeds candidates + both sides of the verify join + the CC
    # re-attach — materialize each once instead of re-tokenizing the corpus
    # per consumer (measured: full near-dup 86s -> ~35s on the bench corpus)
    membership = materialize(
        membership.join(rep_of, "bow").select("doc_id", "rep")
    )
    toks = materialize(
        all_toks.join(membership, "doc_id")
        .where(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "tokset")
    )
    # ONE signature computation feeds both band blocking and the verify
    # estimate gate (materialized: two consumers)
    sigs = materialize(
        minhash_signatures(toks, id_col="doc_id", tok_col="tokset", k=k)
    )
    cand = minhash_band_candidates(
        toks, id_col="doc_id", tok_col="tokset",
        k=k, bands=bands, max_bucket=max_bucket, signatures=sigs,
    )
    edges = jaccard_verified_edges(
        toks, cand, min_jaccard, id_col="doc_id", tok_col="tokset",
        signatures=sigs, est_margin=est_margin,
    )
    comps = connected_components(edges)
    rep_comp = toks.select("doc_id").join(
        comps, F.col("doc_id") == comps.node, "left"
    ).select(
        F.col("doc_id").alias("rep"),
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    # every doc inherits its representative's component (reps are the group
    # minima, so component remains the min doc_id of the whole cluster)
    membered = membership.join(rep_comp, "rep").select("doc_id", "component")
    keep = membered.groupBy("component").agg(F.min("doc_id").alias("keep_id"))
    return membered.join(keep, "component").select("doc_id", "component", "keep_id")


def minhash_index_build(
    docs: DataFrame, id_col: str = "doc_id", k: int = 64
) -> DataFrame:
    """The persisted dedup INDEX for incremental ingestion:
    (doc_id, tokset, sig) — one row per non-empty doc of the accepted
    corpus. Write this partitioned parquet once per ingest; the next
    batch probes it instead of re-deduplicating the whole corpus (at
    10^12 docs, re-clustering the world per crawl increment is the
    difference between an hourly job and an impossible one). Band keys
    are NOT stored: they derive from ``sig`` array-locally at probe time
    (_band_key_structs), so the index stays compact and the band count
    can change between ingests without rebuilding it."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.array_sort(F.array_distinct(_words())).alias("tokset"),
    ).where(F.size("tokset") > 0)
    sigs = minhash_signatures(toks, id_col="doc_id", tok_col="tokset", k=k)
    return toks.join(
        sigs.withColumnRenamed("_id", "doc_id"), "doc_id"
    ).select("doc_id", "tokset", "sig")


def incremental_near_dup(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.8,
    max_bucket: int = 64,
    est_margin: float | None = 0.3,
) -> DataFrame:
    """Dedup a NEW ingest batch against the EXISTING corpus index —
    the shape a production pipeline actually runs (a crawl increment vs
    the accepted corpus), not batch-global re-clustering.

    ``index`` is ``minhash_index_build`` output (typically read back from
    parquet). Doc ids must be disjoint between batch and index — the
    caller's ingest protocol guarantees it (url-hash ids are).

    Returns one row per NON-EMPTY new doc (same non-empty domain as
    minhash_near_dup): (doc_id, keep, reason, dup_of) with reason in
    {'kept', 'batch_dup', 'index_dup'}:
    - the batch is first clustered within itself (minhash_near_dup);
    - every new doc is probed against the index (capped band join on the
      shared _band_key_structs buckets, then the exact-Jaccard verify
      ladder);
    - a component ANY member of which matches the index is dropped whole
      ('index_dup', dup_of = the smallest matching index doc id across
      the component — deterministic);
    - otherwise the component keeps its min-id representative ('kept',
      dup_of NULL) and drops the rest ('batch_dup', dup_of = keep_id).

    Scale shape: the index side never re-shuffles as a whole — the probe
    explodes band keys on BOTH sides, caps oversized buckets per side
    (the same boilerplate-skew guard as the batch path), and equi-joins
    on (band, bkey). Cost per ingest is O(batch + matched buckets), not
    O(corpus)."""
    batch = materialize(
        minhash_near_dup(
            new_docs, id_col=id_col, k=k, bands=bands,
            min_jaccard=min_jaccard, max_bucket=max_bucket,
            est_margin=est_margin,
        )
    )

    # probe EVERY new doc (not just cluster representatives: near-dup is
    # not transitive, so a non-representative member may be the one that
    # matches the index)
    new_index = materialize(minhash_index_build(new_docs, id_col=id_col, k=k))
    bk = _band_key_structs(k, bands)

    def _buckets(side: DataFrame) -> DataFrame:
        b = materialize(
            side.select("doc_id", F.explode(bk).alias("b")).select(
                "doc_id", F.col("b.band").alias("band"),
                F.col("b.bkey").alias("bkey"),
            )
        )
        sizes = b.groupBy("band", "bkey").agg(F.count("*").alias("n"))
        return b.join(
            sizes.where(F.col("n") <= max_bucket).select("band", "bkey"),
            ["band", "bkey"],
        )

    cand = (
        _buckets(new_index).alias("n")
        .join(_buckets(index).alias("i"), ["band", "bkey"])
        .select(F.col("n.doc_id").alias("a"), F.col("i.doc_id").alias("b"))
        .distinct()
    )
    union_toks = new_index.select("doc_id", "tokset").unionByName(
        index.select("doc_id", "tokset")
    )
    union_sigs = new_index.select(
        F.col("doc_id").alias("_id"), "sig"
    ).unionByName(index.select(F.col("doc_id").alias("_id"), "sig"))
    hits = (
        jaccard_verified_edges(
            union_toks, cand, min_jaccard, id_col="doc_id",
            tok_col="tokset", signatures=union_sigs, est_margin=est_margin,
        )
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("_hit"))
    )
    comp_hit = (
        batch.join(hits, "doc_id")
        .groupBy("component")
        .agg(F.min("_hit").alias("_dup_of_index"))
    )
    out = batch.join(comp_hit, ["component"], "left")
    is_index_dup = F.col("_dup_of_index").isNotNull()
    is_rep = F.col("doc_id") == F.col("keep_id")
    return out.select(
        "doc_id",
        (~is_index_dup & is_rep).alias("keep"),
        F.when(is_index_dup, F.lit("index_dup"))
        .when(is_rep, F.lit("kept"))
        .otherwise(F.lit("batch_dup"))
        .alias("reason"),
        F.when(is_index_dup, F.col("_dup_of_index"))
        .when(~is_rep, F.col("keep_id"))
        .cast("long")
        .alias("dup_of"),
    )


# ---- SimHash ----

SIMHASH_SCHEMA = "doc_id long, simhash long"


def _simhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    import numpy as np

    def words_of(t: str) -> list[str]:
        return (t or "").lower().split()

    def h64(w: str) -> int:
        return int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            ws = words_of(text)
            if not ws:
                out.append((int(doc_id), 0))
                continue
            hs = np.array([h64(w) for w in set(ws)], dtype=np.uint64)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
                np.int32
            )
            votes = (2 * bits - 1).sum(axis=0)
            sim = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sim |= np.uint64(1) << np.uint64(b)
            out.append((int(doc_id), int(sim.astype(np.int64))))
        yield pd.DataFrame(out, columns=["doc_id", "simhash"])


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc (md5-based word hashes; deterministic across
    runs and partitionings). Arrow-batched pandas UDF — bit-vote math has no
    reasonable JVM-builtin expression."""
    src = docs.select(F.col(id_col).cast("long").alias("doc_id"), "text")
    return src.mapInPandas(_simhash_batches, schema=SIMHASH_SCHEMA)


def simhash_band_candidates(
    sim: DataFrame, n_bands: int = 4, max_bucket: int = 1024
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any 64/n_bands-bit SimHash band
    (Hamming-distance blocking), with BUCKET-SIZE CAPPING: band buckets
    larger than ``max_bucket`` are dropped before the self-join, bounding
    candidate volume at buckets * max_bucket^2 — the same skew guard as
    minhash_band_candidates / cosine_band_candidates (on boilerplate-heavy
    corpora thousands of near-identical docs share a 16-bit band key and an
    uncapped join goes quadratic). Docs in a dropped bucket still pair via
    their other n_bands-1 bands; pair the output with an exact verifier
    (ngram_jaccard_pairs) — the cap affects recall only, never precision.
    Output: (a, b) with a < b."""
    width = 64 // n_bands
    bands = sim.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for i in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # three consumers (size count + both self-join sides): materialize once
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
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def similar_topk(
    docs: DataFrame,
    k: int = 5,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    minhash_k: int = 64,
    bands: int = 64,
    max_bucket: int = 1024,
) -> DataFrame:
    """Top-``k`` most similar documents per document by exact token-set
    Jaccard — the "related articles" primitive. Returns
    (doc_id, neighbor_id, jaccard, rank), only pairs >= min_jaccard;
    docs with no neighbor above threshold emit nothing.

    Shape: banded-MinHash candidates (capped) -> exact Jaccard scored
    once per unordered pair -> symmetrized -> per-doc top-k window.
    With r = minhash_k/bands rows per band the per-pair miss probability
    at similarity j is (1 - j^r)^bands — the default 64 single-hash
    bands give < 6e-20 at j >= 0.5, so the result equals the exact
    all-pairs computation (the contract oracle) when the bucket cap is
    above corpus scale; production runs keep the cap for skew safety.
    """
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.array_sort(F.array_distinct(_words())).alias("tokset"),
    ).where(F.size("tokset") > 0)
    toks = materialize(toks)
    sigs = materialize(
        minhash_signatures(toks, id_col="doc_id", tok_col="tokset",
                           k=minhash_k)
    )
    cand = minhash_band_candidates(
        toks, id_col="doc_id", tok_col="tokset",
        k=minhash_k, bands=bands, max_bucket=max_bucket, signatures=sigs,
    )
    ta = toks.select(F.col("doc_id").alias("a"), F.col("tokset").alias("_ta"))
    tb = toks.select(F.col("doc_id").alias("b"), F.col("tokset").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    scored = (
        cand.join(ta, "a").join(tb, "b")
        .select(
            "a", "b",
            F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )
    sym = scored.unionByName(
        scored.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "jaccard"
        )
    )
    w = Window.partitionBy("a").orderBy(F.desc("jaccard"), F.asc("b"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("a").alias("doc_id"),
            F.col("b").alias("neighbor_id"),
            "jaccard",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def simhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """End-to-end SimHash near-dup clustering: simhash → capped band
    blocking → exact Hamming verification → connected components.
    Returns (doc_id, component, keep_id) like :func:`minhash_near_dup`.

    EXACT by pigeonhole when ``max_hamming < n_bands``: a pair differing
    in at most n_bands-1 bit positions cannot touch all n_bands bands,
    so at least one 64/n_bands-bit band is bit-identical and the pair IS
    a blocking candidate — banding loses no recall (unlike MinHash
    banding, which is probabilistic). The only recall trade is the
    bucket cap (dropped buckets are the skew guard; set the cap above
    the corpus size for exact-equality configs — the contract query
    does, and its DuckDB oracle recomputes the all-pairs Hamming
    clustering with no banding anywhere).

    Identical simhashes collapse to one representative before blocking
    (hamming 0 pairs cluster by construction, immune to the cap), the
    same exact-dup collapse minhash_near_dup applies to token sets.
    """
    if not 0 <= max_hamming < n_bands:
        raise ValueError("exactness requires 0 <= max_hamming < n_bands")
    sim = simhash(docs, id_col=id_col)
    rep_of = sim.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    membership = materialize(
        sim.join(rep_of, "simhash").select("doc_id", "rep", "simhash")
    )
    reps = materialize(
        membership.where(F.col("doc_id") == F.col("rep")).select(
            "doc_id", "simhash"
        )
    )
    cand = simhash_band_candidates(reps, n_bands=n_bands,
                                   max_bucket=max_bucket)
    sa = reps.select(F.col("doc_id").alias("a"), F.col("simhash").alias("_ha"))
    sb = reps.select(F.col("doc_id").alias("b"), F.col("simhash").alias("_hb"))
    edges = (
        cand.join(sa, "a")
        .join(sb, "b")
        .where(
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            <= max_hamming
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    comps = connected_components(edges)
    rep_comp = reps.select("doc_id").join(
        comps, F.col("doc_id") == comps.node, "left"
    ).select(
        F.col("doc_id").alias("rep"),
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    membered = membership.join(rep_comp, "rep").select("doc_id", "component")
    keep = membered.groupBy("component").agg(F.min("doc_id").alias("keep_id"))
    return membered.join(keep, "component").select(
        "doc_id", "component", "keep_id"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact k-gram Jaccard verification over candidate pairs (a, b):
    the verify half of blocking+verify near-dup. JVM-side set algebra."""
    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), _words().alias("_w")
    )
    w = F.col("_w")
    grams = src.select(
        "doc_id",
        F.when(
            F.size(w) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - k),
                    lambda i: F.array_join(F.slice(w, i + 1, k), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(w, " "))).alias("grams"),
    )
    a = grams.select(F.col("doc_id").alias("a"), F.col("grams").alias("grams_a"))
    b = grams.select(F.col("doc_id").alias("b"), F.col("grams").alias("grams_b"))
    joined = candidates.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1)), 4)
    return (
        joined.select("a", "b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )


# ---- Exact set-similarity self-join (prefix filtering) ----


def prefix_filter_candidates(
    toksets: DataFrame,
    min_jaccard: float,
    id_col: str = "doc_id",
    tok_col: str = "tokset",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs from PREFIX FILTERING (the AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08), the EXACT-recall
    counterpart of the LSH blockers on the dedup ladder.

    Tokens get a global total order by ascending document frequency
    (ties broken by the token string); a doc's prefix is its first
    ``|s| - ceil(t*|s|) + 1`` tokens under that order. For any pair with
    jaccard >= t, ``|A∩B| >= t*|A∪B| >= t*max(|A|,|B|)``, so the
    globally-minimum-rank common token sits within the first
    ``|A| - |A∩B| + 1 <= |A| - ceil(t*|A|) + 1`` positions of A's order
    (and symmetrically B's) — i.e. inside BOTH prefixes. Joining prefixes
    on token therefore loses NO true pair, unlike MinHash banding.

    Scale shape: token df = one partial-aggregated groupBy; the per-doc
    ordering joins df back by token (one vocab-keyed shuffle) and
    re-aggregates; candidates = one self-join on exploded prefix tokens.
    Rarest-first ordering is what bounds the join: a prefix token present
    in d docs costs <= d^2/2 pairs, and high-df boilerplate tokens are
    pushed out of every prefix, so buckets shrink as the corpus grows
    boilerplate-heavy — the opposite of LSH band buckets.

    ``max_bucket``: optional count-then-filter cap on prefix-token
    buckets. OFF (None) by default because the cap trades exact recall
    for boundedness; production corpora with degenerate prefix skew
    (e.g. near-empty docs whose whole set is one rare token) can set it
    and accept the documented miss.
    """
    t = float(min_jaccard)
    toks = toksets.select(
        F.col(id_col).cast("long").alias("_id"), F.col(tok_col).alias("_ts")
    ).where(F.size("_ts") > 0)
    ex = toks.select("_id", F.explode("_ts").alias("tok"))
    # toksets are distinct-per-doc, so count(*) IS document frequency
    df_tok = ex.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        ex.join(df_tok, "tok")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("_p"))
        .select(
            "_id", F.transform("_p", lambda s: s["tok"]).alias("sorted_toks")
        )
    )
    n = F.size("sorted_toks")
    plen = (n - F.ceil(F.lit(t) * n).cast("int") + 1).cast("int")
    pref = ordered.select(
        "_id", F.explode(F.slice("sorted_toks", F.lit(1), plen)).alias("tok")
    )
    if max_bucket is not None:
        pref = materialize(pref)
        sizes = pref.groupBy("tok").agg(F.count("*").alias("n"))
        pref = pref.join(
            sizes.where(F.col("n") <= int(max_bucket)).select("tok"), "tok"
        )
    left = pref.select(F.col("tok"), F.col("_id").alias("a"))
    right = pref.select(F.col("tok"), F.col("_id").alias("b"))
    return (
        left.join(right, "tok")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_join_exact(
    docs: DataFrame,
    min_jaccard: float = 0.8,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT distributed set-similarity self-join: every pair (a < b) of
    docs whose token-set Jaccard >= ``min_jaccard``, with the similarity.

    This is the deterministic end of the near-dup ladder: prefix-filter
    blocking (exact recall — see prefix_filter_candidates) feeding the
    same size-ratio-prefiltered exact verification the MinHash path uses
    (exact precision). Use it when a probabilistic miss is not acceptable
    (contamination audits, legal dedup); use minhash_near_dup when an
    ~1e-14 per-pair miss is acceptable and the corpus carries mega-groups
    (the clusterer collapses identical token sets before blocking, the
    pair join by definition must emit every pair of an identical group).

    Returns (a, b, jaccard) with jaccard rounded to 4dp; the >= filter is
    applied on the UNROUNDED value so blocking recall and the filter agree.
    """
    toks = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.array_sort(F.array_distinct(_words())).alias("_ts"),
    ).where(F.size("_ts") > 0)
    # two consumers (blocking + both sides of verify): compute tokens once
    toks = materialize(toks)
    cand = prefix_filter_candidates(
        toks, min_jaccard, id_col="_id", tok_col="_ts", max_bucket=max_bucket
    )
    sizes = toks.select("_id", F.size("_ts").alias("_sz"))
    survivors = (
        cand.join(sizes.select(F.col("_id").alias("a"), F.col("_sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("_id").alias("b"), F.col("_sz").alias("sz_b")), "b")
        .where(
            F.least("sz_a", "sz_b")
            >= F.lit(float(min_jaccard)) * F.greatest("sz_a", "sz_b")
        )
    )
    ta = toks.select(F.col("_id").alias("a"), F.col("_ts").alias("ts_a"))
    tb = toks.select(F.col("_id").alias("b"), F.col("_ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = inter / F.greatest(union, F.lit(1))
    return (
        survivors.join(ta, "a").join(tb, "b")
        .where(jac >= F.lit(float(min_jaccard)))
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )


def keep_best_per_cluster(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    score_col: str = "quality",
) -> DataFrame:
    """Survivor selection for dedup clusters by QUALITY instead of min-id:
    real pipelines keep the best copy of a near-dup group (longest /
    cleanest / highest-scoring), not the one with the smallest id.

    ``assignments``: (id, cluster) — e.g. :func:`minhash_near_dup` output;
    ``scores``: (id, score) — e.g. kg.ops.textstats.quality_score.
    Returns (doc_id, component, best_id, keep) where best_id is the
    cluster's argmax score, ties broken to the SMALLEST id (deterministic).

    Scale shape: argmax is a partial-aggregable max over a (score, -id)
    struct — no per-cluster window, so a pathological mega-cluster
    pre-aggregates map-side instead of serializing through one window
    partition; then one broadcast-or-shuffle join back.
    """
    joined = assignments.select(id_col, cluster_col).join(
        scores.select(id_col, score_col), id_col
    )
    best = joined.groupBy(cluster_col).agg(
        F.max(
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("negid"),
            )
        ).alias("b")
    ).select(cluster_col, (-F.col("b.negid")).cast("long").alias("best_id"))
    return (
        assignments.select(id_col, cluster_col)
        .join(best, cluster_col)
        .select(
            id_col,
            cluster_col,
            "best_id",
            (F.col(id_col) == F.col("best_id")).alias("keep"),
        )
    )


def soft_dedup_weights(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """SoftDeDup-style sampling re-weighting (He et al. 2024, "SoftDedup:
    an Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training", public paper): instead of DELETING duplicates, keep
    every copy and down-weight each to 1/|cluster| so a duplicate group
    contributes one document's worth of expected gradient mass — the
    information hard dedup throws away (which copy survives, spelling
    variants) is preserved while the over-representation is not.

    ``clusters``: (id, cluster) assignment — e.g. minhash_near_dup's
    (doc_id, component) or cdc/simhash clusters; default is EXACT
    clusters (md5 of whitespace/case-normalized text, the exact_dedup
    key). Docs absent from a supplied ``clusters`` are singletons; a doc
    listed more than once takes its smallest cluster id.
    Returns one row per doc (TOTAL verdict table):
    (id, cluster, cluster_size, weight) with weight = 1/cluster_size
    (one exact-BIGINT count, one float division — the hash-class-C
    discipline).

    Scale shape: one partial-aggregable groupBy collapses the
    assignment to its cluster histogram (dim-sized: one row per
    cluster); the weight joins back on the cluster key — broadcast
    while the histogram is dim-sized, AQE-shuffled if a degenerate
    corpus makes it corpus-sized. The corpus text is only read if the
    default exact clustering computes it (one pure-map md5)."""
    if clusters is None:
        clusters = docs.select(
            F.col(id_col), F.md5(_norm_text()).alias(cluster_col)
        )
    else:
        # one row per id first: a duplicated id would fan out the join
        assignment = clusters.groupBy(id_col).agg(
            F.min(cluster_col).alias(cluster_col)
        )
        clusters = docs.select(id_col).join(
            assignment, id_col, "left"
        ).select(
            id_col,
            # singleton fallback: docs outside the assignment cluster
            # with themselves (unique key = the id rendered as string)
            F.coalesce(
                F.col(cluster_col).cast("string"),
                F.concat(F.lit("__solo__"), F.col(id_col).cast("string")),
            ).alias(cluster_col),
        )
    sizes = clusters.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return clusters.join(sizes, cluster_col).select(
        F.col(id_col),
        F.col(cluster_col),
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 9).alias("weight"),
    )


def substring_duplicates(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document EXACT substring duplication: every k-token span that
    occurs in at least ``min_docs`` distinct documents, with how widely it
    spreads — the span-level signal document-level near-dup misses
    (boilerplate headers, license blocks, templated paragraphs repeated
    inside otherwise-distinct pages; the dedup granularity Lee et al.'s
    "Deduplicating Training Data" argues for).

    Returns (gram_h, gram, n_docs, n_occurrences): md5 of the space-joined
    lowercased k-gram (the shuffle key — 32 hex chars instead of k words),
    one exemplar surface (min, deterministic), distinct-doc spread, and
    total occurrence count (within-doc repeats included).

    Scale shape: the gram explode is linear in corpus tokens (the same
    volume a tokenizer pass reads); ONE partial-agged shuffle keyed on the
    hash does the counting (count-distinct docs is exact two-phase). The
    ``min_docs`` HAVING drops the long unique tail at the reducer, so the
    output is only the duplicated spans.
    """
    w = _words(text_col)
    spans = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.array_join(F.slice(w, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        F.col(id_col), F.explode(spans).alias("gram")
    ).select(id_col, "gram", F.md5("gram").alias("gram_h"))
    return (
        exploded.groupBy("gram_h")
        .agg(
            F.min("gram").alias("gram"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= int(min_docs))
        .select(
            "gram_h",
            "gram",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
        )
    )


def remove_duplicate_substrings(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    arrow_grams: bool = False,
) -> DataFrame:
    """ExactSubstr REMOVAL (the rewrite half of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better"; the
    detection half is ``substring_duplicates``): every k-token span that
    occurs >= 2 times in the corpus (cross- OR within-doc) keeps exactly
    its globally-first occurrence — min (doc_id, pos), fully
    deterministic — and every other occurrence has its k tokens removed
    from the rewritten document.

    Returns (id, text_clean, n_removed): the doc rewritten from its kept
    tokens (lowercased, single-space joined — the same normalization the
    grams hash), plus how many tokens were dropped. Docs shorter than k
    tokens pass through unchanged (modulo normalization).

    Scale shape (r4 rework): grams are built ARRAY-LOCALLY (no doc-keyed
    window exchange); ONE exchange keyed on the 60-bit md5-derived gram
    long feeds ONE window pass (per-partition count + canonical-first
    min(struct(id, pos)), no orderBy — the partition sort compares a
    single 8-byte long); then one per-doc groupBy collects duplicate
    positions and an id-keyed join rewrites the text ARRAY-LOCALLY:
    sorted positions -> merged [p, p+k) intervals via linear zip_with
    shifts (never the O(n*m) exists-per-token probe) -> gap slices
    reassembled. Total: 1 gram shuffle + 2 id shuffles, everything else
    narrow JVM expressions.
    """
    k = int(k)
    base = docs.select(F.col(id_col), _words(text_col).alias("_w"))
    gram_keys = (
        gram_hash_arrow(F.col("_w"), k)
        if arrow_grams
        else gram_hash_array(F.col("_w"), k)
    )
    # gram build (r4 rework, measured on the 200k-doc scaling legs):
    # ARRAY-LOCAL — the old posexplode + lead() window was dropped
    # (the doc-keyed corpus exchange + per-doc sort cost more than the
    # interpreted lambda: local[8] 22.8s -> 18.0s, local[2] 56.3s ->
    # 49.7s through the dup-position stage), and the key is built from
    # PER-WORD 60-bit md5 longs combined by rotation/xor
    # (gram_hash_array) instead of md5 over the joined k-word string —
    # ~k-fold less hashed+allocated bytes in the map the A/B ledger
    # measured memory-bandwidth-bound. 60-bit key space: a colliding
    # gram pair falsely marks one occurrence as duplicate — expected
    # collisions n^2/2^61 ≈ 4e-4 at the 30M-gram bench corpus and a
    # ~4e-7 FRACTION of grams at 10^13 (the Lee et al. BigQuery
    # implementations accept the same 64-bit-fingerprint trade).
    # venue switch (r5, BENCH/AB_TEXTOPS_r5.md): arrow_grams moves the
    # SAME key computation to an Arrow-batched pandas UDF
    # (gram_hash_arrow — bit-identical keys, per-batch word-hash memo);
    # default stays the JVM expression; callers opt in with the kwarg
    exploded = base.select(
        F.col(id_col),
        F.posexplode(gram_keys).alias("pos", "gram_h"),
    )
    # duplicate occurrences in ONE window pass over ONE gram_h exchange
    # (r4): per-partition count + min(struct(id, pos)) with NO orderBy —
    # WindowExec then sorts by the single 8-byte gram key only (the old
    # row_number formulation sorted by (gram_h, id-string, pos); a
    # groupBy + join-back formulation consumed the expensive gram map
    # twice, and a materialize barrier between two consumers measured
    # WORSE: its block write is storage-lock/GC-bound, stage eff 0.36
    # on the scaling legs). min(struct) under (id, pos) ordering IS the
    # global-first rule row_number expressed; every other occurrence of
    # a gram seen >= 2 times is a duplicate. Hot boilerplate grams
    # concentrate one gram's occurrences into one partition run —
    # bounded by the gram's occurrence count, same exposure as before.
    gwin = Window.partitionBy("gram_h")
    marked = exploded.select(
        F.col(id_col),
        "pos",
        F.count(F.lit(1)).over(gwin).alias("_c"),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).over(gwin).alias("_first"),
    )
    dup_pos = (
        marked.where(
            (F.col("_c") >= 2)
            & (
                (F.col(id_col) != F.col("_first.i"))
                | (F.col("pos") != F.col("_first.p"))
            )
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_dp"))
    )

    # Linear interval merge. All intervals are [p, p+k) with the SAME
    # length k over sorted positions, so the running merged end is always
    # lastpos + k — a break between consecutive positions happens exactly
    # where next > p + k. starts/ends fall out of one zip_with against
    # the 1-shifted array each (array-local, O(m)); an aggregate fold
    # that concats the accumulator per element would copy it each step —
    # O(m^2) per doc, which on a boilerplate-dense corpus (dup positions
    # ~ token count) dominates the whole operator.
    dp = F.coalesce(F.col("_dp"), F.array().cast("array<int>"))
    tail = F.slice(dp, 2, F.greatest(F.size(dp) - 1, F.lit(0)))
    prev = F.concat(F.array(F.lit(None).cast("int")),
                    F.slice(dp, 1, F.greatest(F.size(dp) - 1, F.lit(0))))
    nxt = F.concat(tail, F.array(F.lit(None).cast("int")))
    starts = F.array_compact(
        F.zip_with(dp, prev,
                   lambda p, q: F.when(q.isNull() | (p > q + k), p))
    )
    ends = F.array_compact(
        F.zip_with(dp, nxt,
                   lambda p, nx: F.when(nx.isNull() | (nx > p + k), p + k))
    )
    iv = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    rewritten = base.join(dup_pos, [id_col], "left").withColumn("_iv", iv)
    gap = F.transform(
        F.sequence(F.lit(0), F.size("_iv")),
        lambda i: F.slice(
            F.col("_w"),
            F.when(i == 0, F.lit(0)).otherwise(F.get("_iv", i - 1)["e"]) + 1,
            F.greatest(
                F.when(i == F.size("_iv"), F.size("_w")).otherwise(
                    F.get("_iv", i)["s"]
                )
                - F.when(i == 0, F.lit(0)).otherwise(
                    F.get("_iv", i - 1)["e"]
                ),
                F.lit(0),
            ),
        ),
    )
    kept = F.flatten(gap)
    return rewritten.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed"),
    )


def cdc_chunks(
    docs: DataFrame,
    k: int = 4,
    boundary_hexes: tuple[str, ...] = ("0",),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (CDC): split each document into
    VARIABLE-LENGTH chunks whose boundaries depend only on local content —
    the storage-dedup primitive (LBFS/Venti/restic style) the fixed-k
    substring ops above can't provide. A boundary falls after token ``e``
    whenever the hash of the trailing k-token window ends a chunk there
    (first hex nibble of md5 in ``boundary_hexes``; one nibble =
    boundary probability 1/16 = mean chunk ~16 tokens). Because the cut
    decision looks only at the window, an insertion early in a doc shifts
    ONE chunk's boundary instead of re-aligning every fixed-size block —
    shared suffixes keep identical chunk hashes, which is exactly what
    chunk-level dedup needs.

    Returns (id, chunk_idx, n_tokens, chunk_hash): 0-based chunk index,
    token count, md5 of the space-joined lowercased chunk. Docs shorter
    than ``k`` tokens are one whole-doc chunk.

    Scale shape: the cut scan, bound assembly, and chunk hashing are all
    array-local JVM expressions over the per-doc token array — a pure map,
    NO shuffle; only a downstream consumer (``cdc_chunk_dedup``) shuffles,
    keyed on the 32-hex chunk hash. Stateless cuts (no min/max chunk
    clamping) keep every position's decision independent, so the operator
    is embarrassingly parallel and byte-replayable in SQL.
    """
    k = int(k)
    hexset = list(boundary_hexes)
    base = docs.select(F.col(id_col), _words(text_col).alias("_w"))
    n = F.size("_w")
    cuts = F.when(
        n >= k,
        F.filter(
            F.sequence(F.lit(k), n),
            lambda e: F.substring(
                F.md5(F.array_join(F.slice(F.col("_w"), e - k + 1, k), " ")),
                1, 1,
            ).isin(hexset),
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.array_distinct(
        F.concat(F.array(F.lit(0)), cuts, F.array(n))
    )
    with_b = base.withColumn("_b", bounds)
    chunk_structs = F.when(
        F.size("_b") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_b") - 1),
            lambda j: F.struct(
                (j - 1).cast("int").alias("chunk_idx"),
                (F.get("_b", j) - F.get("_b", j - 1)).cast("long").alias(
                    "n_tokens"
                ),
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("_w"),
                            F.get("_b", j - 1) + 1,
                            F.get("_b", j) - F.get("_b", j - 1),
                        ),
                        " ",
                    )
                ).alias("chunk_hash"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<chunk_idx:int,n_tokens:bigint,chunk_hash:string>>"
        )
    )
    return with_b.select(
        F.col(id_col), F.explode(chunk_structs).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.n_tokens").alias("n_tokens"),
        F.col("_c.chunk_hash").alias("chunk_hash"),
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    k: int = 4,
    boundary_hexes: tuple[str, ...] = ("0",),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level dedup accounting over :func:`cdc_chunks`: per document,
    how many of its CDC chunks (and how many tokens) are redundant copies
    of a chunk already stored elsewhere in the corpus. A chunk occurrence
    is a duplicate when its hash occurs >= 2 times corpus-wide AND it is
    not the globally-first occurrence (min (doc_id, chunk_idx) — fully
    deterministic). ``dup_tokens / n_tokens`` is the doc's chunk-store
    dedup ratio — the signal that catches pages sharing large verbatim
    regions (mirrors, templated bodies, quoted reposts) that document-level
    hashing misses and fixed-k-gram spans over-count.

    Returns (id, n_chunks, n_tokens, n_dup_chunks, dup_tokens), all BIGINT.

    Scale shape: the chunking itself is a shuffle-free map; dedup marking
    is ONE exchange keyed on the 32-hex chunk hash (row_number + count per
    hash — per-key work bounded by that chunk's occurrence count, the same
    exposure any dedup groupBy has), then ONE partial-agged per-doc
    groupBy. Hot boilerplate chunks concentrate into single sort runs, not
    join blowups — there is no self-join anywhere on this path.
    """
    chunks = cdc_chunks(docs, k, boundary_hexes, id_col, text_col)
    gw = Window.partitionBy("chunk_hash").orderBy(id_col, "chunk_idx")
    marked = chunks.select(
        F.col(id_col),
        "n_tokens",
        F.row_number().over(gw).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("chunk_hash")).alias("_c"),
    )
    is_dup = (F.col("_c") >= 2) & (F.col("_rn") > 1)
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(is_dup.cast("int")).cast("long").alias("n_dup_chunks"),
        F.coalesce(
            F.sum(F.when(is_dup, F.col("n_tokens"))), F.lit(0)
        ).cast("long").alias("dup_tokens"),
    )


def md5_minhash_band_candidates(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded MinHash blocker whose hash family is md5 STRINGS instead of
    xxhash64 — per-seed signature value = min over the doc's distinct
    tokens of md5('<seed>|' || token) (binary string order), band key =
    md5 of the band's concatenated seed-mins. Same recall math as
    :func:`minhash_band_candidates` (uniform hash family, s-curve
    1-(1-J^r)^bands) and the same count-then-filter bucket cap; it exists
    because md5-over-strings is replayable in ANSI SQL, which makes
    blocking QUALITY itself oracle-checkable (see :func:`blocking_eval`)
    — the xxhash64 production blocker is faster (fixed-width longs vs 32
    hex chars per hash) but only pin-testable, not SQL-replayable.

    Returns candidate (a, b) pairs, a < b, int64. All JVM expressions.
    """
    k, bands = int(k), int(bands)
    r = k // bands
    toks = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.array_distinct(_words()).alias("_ts"),
    ).where(F.size("_ts") > 0)

    def _seed_min(i: int):
        return F.array_min(
            F.transform("_ts", lambda t: F.md5(F.concat(F.lit(f"{i}|"), t)))
        )

    sig = toks.select(
        "_id", F.array(*[_seed_min(i) for i in range(k)]).alias("sig")
    )
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.get("sig", b * r + j) for j in range(r)])
            ).alias("bkey"),
        )
        for b in range(bands)
    ])
    buckets = sig.select("_id", F.explode(band_structs).alias("bk")).select(
        "_id", "bk.band", "bk.bkey"
    )
    # same 3-consumer barrier rationale as minhash_band_candidates
    buckets = materialize(buckets)
    sizes = buckets.groupBy("band", "bkey").agg(F.count("*").alias("n"))
    kept = buckets.join(
        sizes.where(F.col("n") <= max_bucket).select("band", "bkey"),
        ["band", "bkey"],
    )
    left, right = kept.alias("l"), kept.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )


def blocking_eval(
    docs: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocking-quality metrics — the record-linkage literature's two
    numbers (pair completeness + reduction ratio) that tell you whether a
    blocker is SAFE (not dropping true matches) and WORTH IT (not passing
    everything through). Ground truth = the EXACT set-similarity self-join
    (:func:`jaccard_join_exact`: prefix-filter blocking, exact recall), so
    the metric is against certainty, not another approximation.

    Returns ONE row: (n_docs, n_true_pairs, n_candidate_pairs, n_captured,
    pair_completeness = captured/true (1.0 when no true pairs exist),
    reduction_ratio = 1 - candidates / (n_docs choose 2)), ratios rounded
    to 6dp.

    Scale shape: truth generation is the exact join's cost (run this at
    audit-sample scale, not the full corpus — the point of a blocker is
    that exact truth at 100 TB is unaffordable; an eval on a stratified
    sample bounds the production blocker's recall). The candidate/truth
    overlap is one join on (a, b); the metric row is a global aggregate.
    """
    truth = jaccard_join_exact(
        docs, min_jaccard=min_jaccard, id_col=id_col
    ).select("a", "b")
    truth = materialize(truth)
    cand = materialize(candidates.select("a", "b").distinct())
    captured = truth.join(cand, ["a", "b"], "left_semi")
    n_docs = (
        docs.select(F.array_distinct(_words()).alias("_ts"))
        .where(F.size("_ts") > 0)
        .count()
    )
    total_pairs = n_docs * (n_docs - 1) // 2
    n_true = truth.count()
    n_cand = cand.count()
    n_cap = captured.count()
    pc = 1.0 if n_true == 0 else n_cap / n_true
    rr = 1.0 if total_pairs == 0 else 1.0 - n_cand / total_pairs
    spark = docs.sparkSession
    return local_df(
        spark,
        [(n_docs, n_true, n_cand, n_cap, round(pc, 6), round(rr, 6))],
        "n_docs long, n_true_pairs long, n_candidate_pairs long, "
        "n_captured long, pair_completeness double, reduction_ratio double",
    )


def cluster_agreement(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "cluster",
    b_col: str = "cluster",
) -> DataFrame:
    """Pair-counting agreement between two clusterings of the same ids
    (Rand-family): treating ``a`` as prediction and ``b`` as truth,
    returns ONE row (n_items, pair_tp, pairs_pred, pairs_true,
    precision, recall, f1, ari) — the evaluation primitive for the
    dedup/canonicalization ladder ("how do near-dup clusters relate to
    exact-dup groups", "how close is capped blocking to uncapped").

    The CONTINGENCY trick: same-cluster pair counts come from
    C(n, 2) sums over the (a_cluster, b_cluster) cell table and its two
    marginals — pairs are COUNTED, never materialized, so cost is
    O(cells) where the naive pair join is O(n^2). Three dim-sized
    aggregations; the id table shuffles once for the contingency
    groupBy. ARI is the Hubert-Arabie adjusted Rand index (expected
    agreement subtracted); identical all-singleton partitions define
    ari = 1.0 (degenerate 0/0)."""

    def _c2(col):
        return F.sum(col * (col - F.lit(1)) / F.lit(2)).cast("double")

    j = a.select(
        F.col(id_col).alias("_id"), F.col(a_col).alias("_ca")
    ).join(
        b.select(F.col(id_col).alias("_id"), F.col(b_col).alias("_cb")),
        "_id",
    )
    cells = j.groupBy("_ca", "_cb").agg(F.count(F.lit(1)).alias("n"))
    core = cells.agg(
        F.sum("n").cast("long").alias("n_items"),
        _c2(F.col("n")).alias("tp"),
    ).first()
    pa = (
        cells.groupBy("_ca").agg(F.sum("n").alias("na"))
        .agg(_c2(F.col("na"))).first()[0]
    )
    pb = (
        cells.groupBy("_cb").agg(F.sum("n").alias("nb"))
        .agg(_c2(F.col("nb"))).first()[0]
    )
    n, tp = int(core.n_items), float(core.tp)
    tot = n * (n - 1) / 2.0
    prec = tp / pa if pa else 0.0
    rec = tp / pb if pb else 0.0
    f1 = 2 * prec * rec / (prec + rec) if (prec + rec) else 0.0
    exp = pa * pb / tot if tot else 0.0
    denom = (pa + pb) / 2.0 - exp
    ari = (tp - exp) / denom if denom else 1.0
    spark = a.sparkSession
    return local_df(
        spark,
        [(
            n, int(tp), int(pa), int(pb),
            round(prec, 6), round(rec, 6), round(f1, 6), round(ari, 6),
        )],
        "n_items long, pair_tp long, pairs_pred long, pairs_true long, "
        "precision double, recall double, f1 double, ari double",
    )


def containment_join(
    docs: DataFrame,
    min_containment: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1024,
) -> DataFrame:
    """Broder CONTAINMENT join: pairs where the smaller token set sits
    mostly inside the larger — C(A,B) = |A∩B| / |A|. Resemblance
    (Jaccard) dedup structurally misses subset duplication (a quoted
    article inside a commentary page, a doc wrapped in boilerplate):
    J(A,B) = |A∩B|/|A∪B| stays low when |B| >> |A| even at C(A,B) = 1,
    and the prefix-filter pruning in jaccard_join_exact deliberately
    rejects size-unbalanced pairs. This operator is the subset-dup rung
    of the dedup ladder.

    Returns one row per unordered candidate pair with
    (a, b, inter, size_a, size_b, containment) where a < b (int64 ids),
    inter/size_* are EXACT BIGINTs, and containment =
    inter / min(size_a, size_b) rounded to 4dp, filtered to
    >= ``min_containment``.

    Scale shape: tokens explode once; a partial-agged document-frequency
    pass drops tokens with df > ``max_df`` (boilerplate super-tokens —
    the skew cap; a pair sharing ONLY capped tokens is missed, the
    documented recall trade, same family as every blocking cap in this
    module); the surviving postings self-join token-by-token and ONE
    partial-agged pair groupBy counts |A∩B|. Candidate volume is
    sum_token df^2 <= max_df * corpus_postings — linear in the corpus
    for fixed max_df. Sizes join back from the per-doc token counts
    (dim-sized vs the pair table)."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.explode(
            F.array_distinct(_words(text_col))
        ).alias("tok"),
    )
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    kept = toks.join(
        df_counts.where(F.col("_df") <= int(max_df)).select("tok"), "tok"
    )
    a = kept.select(F.col("tok"), F.col("_id").alias("a"))
    b = kept.select(F.col("tok"), F.col("_id").alias("b"))
    pairs = (
        a.join(b, "tok")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.size(F.array_distinct(_words(text_col))).cast("long").alias("_sz"),
    )
    out = (
        pairs.join(sizes.select(F.col("_id").alias("a"),
                                F.col("_sz").alias("size_a")), "a")
        .join(sizes.select(F.col("_id").alias("b"),
                           F.col("_sz").alias("size_b")), "b")
        .select(
            "a", "b", F.col("inter").cast("long").alias("inter"),
            "size_a", "size_b",
            F.round(
                F.col("inter")
                / F.least(F.col("size_a"), F.col("size_b")),
                4,
            ).alias("containment"),
        )
    )
    return out.where(F.col("containment") >= float(min_containment))
