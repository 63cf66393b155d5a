"""Statistical language-model scoring and Naive Bayes classification for
corpus curation.

Two filters every large-scale training-data pipeline runs that the ladder
did not yet cover:

- ``lm_score``: CCNet-style n-gram LM quality scoring (Wenzek et al. 2020
  train a KenLM on a reference corpus and bucket CommonCrawl docs by
  perplexity). Here: an add-k-smoothed **bigram** LM whose training
  (``train_bigram_lm``) and scoring are pure DataFrame algebra — counts,
  broadcast joins, one shuffle each — so unlike a KenLM binary the whole
  operator is deterministic and has an exact cross-engine DuckDB oracle.
  Score = mean log P(w_i | w_{i-1}) per doc; low scores flag
  out-of-domain / garbled text against the reference corpus.
- ``nb_train`` / ``nb_predict``: multinomial Naive Bayes over bag-of-words
  — the classic cheap domain/language/quality classifier (fastText-tier
  baselines). Training is two grouped counts; the model is a dense
  (vocab+1) x labels table small enough to broadcast; prediction is one
  explode + broadcast join + one aggregation per doc.

Scale shape (100 TB story):
- Vocabulary is top-V by global count (``lm_vocab``): the candidate table
  after the count aggregation is #distinct-words sized (<< corpus), and
  the top-V is a sort-limit (TakeOrdered), not a full sort.
- OOV mapping is a broadcast LEFT JOIN against the vocab dim with
  coalesce to ``<unk>`` — never a collected literal list, so a 1M-word
  vocab costs one broadcast, not a megabyte of codegen.
- Bigram pairs are built array-locally (zip_with of the word array with
  its own shift) BEFORE exploding — no window/lead pass, so training is
  exactly one shuffle (the count groupBy, map-side partial-agged) and
  scoring is one shuffle (the per-doc aggregation).
- The trained model joins are broadcast by default (bigram table is
  bounded by corpus token count, typically <<GB after counting); pass
  ``broadcast_model=False`` to fall back to a shuffle hash join keyed on
  the bigram when the model outgrows the broadcast threshold.

Float determinism: log-probabilities are ``ln`` of ratios of exact
integer counts, summed/averaged in IEEE double and rounded to 4 places —
the same cross-engine convention as textstats/ranking (summation-order
noise is ~1e-13 relative, far below the rounding grain).

Reference parity note: the reference service (hutomadotAI/entity_recogniser)
has no corpus-statistics surface; these operators are part of the
training-data-pipeline extension mandated by the survey (SURVEY.md §2,
LLM-data ops), alongside dedup/ANN/curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.session import local_df

__all__ = [
    "UNK",
    "lm_vocab",
    "train_bigram_lm",
    "lm_score",
    "nb_train",
    "nb_predict",
    "perplexity_buckets",
    "dsir_importance",
    "dsir_select",
    "lr_features",
    "lr_train",
    "lr_score",
]

UNK = "<unk>"


def _words(text_col: str = "text") -> Column:
    """Whitespace word tokens, lowercased, empties dropped — the corpus-wide
    tokenization convention (identical to textstats/curation/ranking)."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != F.lit(""))


def lm_vocab(docs: DataFrame, vocab_size: int = 4096, text_col: str = "text") -> DataFrame:
    """Top-``vocab_size`` words by corpus frequency -> (word) dim.

    Ties break deterministically on (count DESC, word ASC). The aggregate
    feeding the limit is #distinct-words sized; the limit itself is a
    TakeOrdered, so no full-corpus sort materializes.
    """
    return (
        docs.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("word").asc())
        .limit(int(vocab_size))
        .select("word")
    )


def _map_to_vocab(df: DataFrame, vocab: DataFrame, col: str) -> DataFrame:
    """Replace ``col`` with its vocab-mapped value (OOV -> <unk>) via a
    broadcast left join — scalable to vocabularies far beyond literal-list
    codegen."""
    dim = F.broadcast(vocab.withColumnRenamed("word", f"_v_{col}"))
    return (
        df.join(dim, F.col(col) == F.col(f"_v_{col}"), "left")
        .withColumn(col, F.coalesce(f"_v_{col}", F.lit(UNK)))
        .drop(f"_v_{col}")
    )


def _bigram_pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per adjacent word pair, built array-locally
    (zip_with the word array with its own 1-shift) so no shuffle happens
    before the explode. Docs with <2 words contribute no rows."""
    words = _words(text_col)
    n = F.size(words)
    m = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(words, 1, m),
        F.slice(words, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return docs.select(id_col, F.explode(pairs).alias("_p")).select(
        id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )


def train_bigram_lm(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram count table (w1, w2, c12) over vocab-mapped tokens.

    Exactly one shuffle (the groupBy, with map-side partial aggregation);
    the two vocab-mapping joins are broadcast. Context totals c(w1) are
    derivable by re-aggregating this table (``lm_score`` does), so the
    count table IS the model — no separate normalizer state to ship.
    """
    pairs = _bigram_pairs(docs, id_col, text_col)
    pairs = _map_to_vocab(_map_to_vocab(pairs, vocab, "w1"), vocab, "w2")
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )


def lm_score(
    docs: DataFrame,
    bigrams: DataFrame,
    vocab: DataFrame,
    add_k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-doc mean bigram log-likelihood under the trained LM:
    (id, n_bigrams, avg_logp).

    avg_logp = mean over adjacent pairs of
        ln( (c(w1,w2) + k) / (c(w1) + k * (V+1)) )
    with V = |vocab| (+1 for <unk>); unseen bigrams/contexts coalesce to
    count 0, so the score is total (every doc gets one, however
    out-of-domain). Docs with <2 tokens get n_bigrams=0, avg_logp NULL.

    Plan: array-local pair build -> explode -> 2 broadcast vocab joins ->
    model join on (w1,w2) + context join on w1 (broadcast by default,
    shuffle-hash when ``broadcast_model=False``) -> one per-doc groupBy.
    """
    v_plus = vocab.count() + 1  # tiny agg; the smoothing denominator needs a scalar
    contexts = bigrams.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    if broadcast_model:
        bigrams, contexts = F.broadcast(bigrams), F.broadcast(contexts)

    pairs = _bigram_pairs(docs, id_col, text_col)
    pairs = _map_to_vocab(_map_to_vocab(pairs, vocab, "w1"), vocab, "w2")
    logp = F.log(
        (F.coalesce("c12", F.lit(0)) + F.lit(float(add_k)))
        / (F.coalesce("c1", F.lit(0)) + F.lit(float(add_k) * v_plus))
    )
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, ["w1"], "left")
        .select(id_col, logp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg("_lp"), 4).alias("avg_logp"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            "avg_logp",
        )
    )


def nb_train(
    docs: DataFrame,
    vocab: DataFrame,
    label_col: str = "lang",
    add_k: float = 1.0,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Multinomial Naive Bayes: returns (priors, likelihoods).

    priors: (label, label_rank, log_prior) — rank is row_number over label
    ASC, the deterministic argmax tie-break shared with the oracle.
    likelihoods: DENSE (word, label, log_lik) over (vocab + <unk>) x labels
    — (V+1) x L rows, so every mapped token matches exactly L rows at
    predict time and per-label scores never silently skip a word. log_lik
    uses add-k (Laplace by default) smoothing:
        ln( (c(word,label) + k) / (tokens(label) + k * (V+1)) )

    Training cost: one token-count shuffle + one tiny doc-count shuffle;
    the dense model is built by a (V+1) x L crossJoin of two dims (both
    bounded) left-joined to the counts.
    """
    n_docs = docs.count()
    labels = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("_n")
    )
    w_rank = F.row_number().over(Window.orderBy("label"))
    priors = labels.select(
        "label",
        w_rank.alias("label_rank"),
        F.log(F.col("_n") / F.lit(float(n_docs))).alias("log_prior"),
    )

    toks = docs.select(
        F.col(label_col).alias("label"), F.explode(_words(text_col)).alias("word")
    )
    toks = _map_to_vocab(toks, vocab, "word")
    counts = toks.groupBy("label", "word").agg(F.count("*").alias("_c"))
    label_tot = counts.groupBy("label").agg(F.sum("_c").alias("_tot"))

    v_plus = vocab.count() + 1
    vocab_u = vocab.union(local_df(vocab.sparkSession, [(UNK,)], "word string"))
    dense = (
        # broadcast the label side: the dim x dim cross must never plan as
        # a shuffle CartesianProduct, whatever size the vocab dim reaches
        vocab_u.crossJoin(F.broadcast(priors.select("label")))
        .join(counts, ["label", "word"], "left")
        .join(F.broadcast(label_tot), ["label"], "left")
        .select(
            "word",
            "label",
            F.log(
                (F.coalesce("_c", F.lit(0)) + F.lit(float(add_k)))
                / (F.coalesce("_tot", F.lit(0)) + F.lit(float(add_k) * v_plus))
            ).alias("log_lik"),
        )
    )
    return priors, dense


def nb_predict(
    docs: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pred_col: str = "pred_label",
) -> DataFrame:
    """argmax_label [ log_prior(label) + sum_tokens log_lik(word, label) ]
    -> (id, pred_col, n_tokens).

    Ties break to the smallest label (label_rank from ``nb_train``) in
    both this plan and the SQL oracle. Docs with zero tokens predict the
    argmax-prior label with n_tokens=0.

    Plan: explode tokens -> broadcast vocab map -> broadcast model join
    (L rows per token; for large label sets pivot the model to
    word -> array<log_lik> and elementwise-sum instead) -> per-(doc,label)
    partial-agged sum -> per-doc struct-max argmax.
    """
    # driver-side scalar: the empty-doc default (max prior, tie -> min rank)
    default_label = (
        priors.orderBy(F.col("log_prior").desc(), F.col("label_rank").asc())
        .select("label")
        .first()[0]
    )

    toks = docs.select(id_col, F.explode(_words(text_col)).alias("word"))
    toks = _map_to_vocab(toks, vocab, "word")
    per_label = (
        toks.join(F.broadcast(likelihoods), ["word"])
        .groupBy(id_col, "label")
        .agg(
            F.sum("log_lik").alias("_s"),
            F.count("*").cast("long").alias("n_tokens"),
        )
        .join(F.broadcast(priors), ["label"])
        .select(
            id_col,
            "n_tokens",
            F.struct(
                (F.col("log_prior") + F.col("_s")).alias("score"),
                (-F.col("label_rank")).alias("neg_rank"),
                F.col("label").alias("label"),
            ).alias("_key"),
        )
    )
    best = (
        per_label.groupBy(id_col)
        .agg(F.max("_key").alias("_b"), F.max("n_tokens").alias("n_tokens"))
        .select(id_col, F.col("_b.label").alias(pred_col), "n_tokens")
    )
    return (
        docs.select(id_col)
        .join(best, [id_col], "left")
        .select(
            id_col,
            F.coalesce(pred_col, F.lit(default_label)).alias(pred_col),
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    group_col: str = "lang",
    score_col: str = "avg_logp",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity bucketing: within each group (language),
    rank documents by LM score and cut into ``n_buckets`` equal-count
    buckets — bucket 0 = best-scored ("head"), last = "tail". Rank-based
    (exact, deterministic ties on id) rather than a quantile threshold,
    the same interpolation-free discipline as
    kg.ops.curation.quality_prune. Null scores (docs with no bigrams)
    sort worst.

    Returns the input plus ``bucket`` (int). Scale shape: one group-key
    exchange shared by the rank and count windows; no join, no Python.
    """
    rank_w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col)
    )
    cnt_w = Window.partitionBy(group_col)
    return (
        scored.withColumn("_rn", F.row_number().over(rank_w))
        .withColumn("_n", F.count(F.lit(1)).over(cnt_w))
        .withColumn(
            "bucket",
            F.least(
                F.floor(
                    (F.col("_rn") - 1) * int(n_buckets) / F.col("_n")
                ).cast("int"),
                F.lit(int(n_buckets) - 1),
            ),
        )
        .drop("_rn", "_n")
    )


def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    vocab_size: int = 4096,
    add_k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection: score every doc
    under a TARGET-domain bigram LM and under the BASE LM (trained on
    ``docs`` itself), importance = avg_logp_target - avg_logp_base — the
    log importance ratio that upweights base-corpus documents resembling
    the target domain (Xie et al.'s Data Selection via Importance
    Resampling, reduced to the same hashed-ngram spirit with the engine's
    add-k bigram LM). Returns (id, importance) for every doc with >= 2
    tokens under both scorings.

    Scale shape: two LM trainings (one shuffle each over the TRAINING
    corpora — the target is typically tiny) and two scorings of the base
    corpus; each scoring is the lm_score plan (array-local pair build,
    broadcast model joins, one per-doc groupBy). Nothing new shuffles the
    corpus beyond the scoring groupBys.
    """
    tv = lm_vocab(target, vocab_size=vocab_size, text_col=text_col)
    tb = train_bigram_lm(target, tv, id_col=id_col, text_col=text_col)
    st = lm_score(
        docs, tb, tv, add_k=add_k, id_col=id_col, text_col=text_col
    ).select(id_col, F.col("avg_logp").alias("_lp_t"))
    bv = lm_vocab(docs, vocab_size=vocab_size, text_col=text_col)
    bb = train_bigram_lm(docs, bv, id_col=id_col, text_col=text_col)
    sb = lm_score(
        docs, bb, bv, add_k=add_k, id_col=id_col, text_col=text_col
    ).select(id_col, F.col("avg_logp").alias("_lp_b"))
    return (
        st.join(sb, [id_col])
        .where(F.col("_lp_t").isNotNull() & F.col("_lp_b").isNotNull())
        .select(
            id_col, (F.col("_lp_t") - F.col("_lp_b")).alias("importance")
        )
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    frac: float = 0.25,
    vocab_size: int = 4096,
    add_k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep the ceil(frac * n) docs with the highest DSIR importance
    (ties broken by id — fully deterministic). Returns (id, importance)
    of the selected docs.

    The exact top-fraction cut is a global row_number — single-reducer
    rank over the (id, importance) pairs only (tiny next to the corpus),
    the same disposition as token_budget_sample; at 10^12 docs use a
    percentile_approx threshold on ``dsir_importance`` instead.
    """
    import math

    from pyspark.sql.window import Window

    imp = dsir_importance(
        docs, target, vocab_size=vocab_size, add_k=add_k,
        id_col=id_col, text_col=text_col,
    )
    n = imp.count()
    k = math.ceil(float(frac) * n)
    w = Window.orderBy(F.desc("importance"), F.col(id_col))
    return (
        imp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _lr_bucket(col: Column, dim: int) -> Column:
    """md5-derived hashed-feature bucket in [0, dim) — the engine-portable
    hash convention (DuckDB replays it as ('0x'||substr(md5,1,15))::BIGINT
    % dim)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % int(dim)
    )


def lr_features(
    docs: DataFrame,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed binary bag-of-words features: DISTINCT (id, bucket) pairs,
    bucket = md5(word) % dim. One partial-agged distinct shuffle; feature
    count per doc bounded by dim."""
    return (
        docs.select(F.col(id_col), F.explode(_words(text_col)).alias("_w"))
        .select(id_col, _lr_bucket(F.col("_w"), dim).alias("bucket"))
        .distinct()
    )


def lr_train(
    docs: DataFrame,
    label_col: str,
    dim: int = 32,
    iters: int = 3,
    lr: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[list[float], float]:
    """Train a logistic-regression quality classifier (the CCNet/GPT-3-
    style trained corpus filter: label a reference slice positive, score
    everything) by ``iters`` rounds of full-batch gradient descent over
    hashed binary bag-of-words features. Returns (weights[dim], bias).

    Fully deterministic given the corpus: features are md5-hashed, the
    gradient is an exact mean over all docs, no sampling. The model is
    dim+1 doubles — driver-held and re-broadcast per round (the k-means
    centroid pattern); each round costs TWO partial-agged shuffles (per-
    doc score sum, per-bucket gradient sum) + a <= dim+1 row collect.
    Iteration 1 needs no exp (all-zero weights => p = 0.5 exactly), which
    the SQL oracle replays literally.

    Scale shape: the corpus flows through the feature explode once
    (cached by the caller if iterating many rounds); every join against
    the model is a broadcast of dim+1 doubles; gradients partial-agg
    map-side. No window, no driver-side row loops.
    """
    feats = lr_features(docs, dim=dim, id_col=id_col, text_col=text_col)
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("double").alias("_y")
    )
    n = labels.count()
    w = [0.0] * int(dim)
    b = 0.0
    for it in range(int(iters)):
        if it == 0:
            resid = labels.select(id_col, (0.5 - F.col("_y")).alias("_r"))
        else:
            warr = F.array(*[F.lit(float(x)) for x in w])
            z = labels.join(
                feats.select(
                    id_col, F.get(warr, F.col("bucket")).alias("_wj")
                ).groupBy(id_col).agg(F.sum("_wj").alias("_s")),
                [id_col],
                "left",
            ).select(
                id_col,
                "_y",
                (F.lit(float(b)) + F.coalesce("_s", F.lit(0.0))).alias("_z"),
            )
            resid = z.select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))
                    - F.col("_y")
                ).alias("_r"),
            )
        grad = {
            r["bucket"]: r["g"]
            for r in feats.join(resid, [id_col])
            .groupBy("bucket")
            .agg((F.sum("_r") / F.lit(float(n))).alias("g"))
            .collect()
        }
        gb = resid.agg((F.sum("_r") / F.lit(float(n))).alias("g")).first()[
            "g"
        ]
        for j, g in grad.items():
            w[j] = w[j] - lr * g
        b = b - lr * gb
    return w, b


def lr_score(
    docs: DataFrame,
    weights: list[float],
    bias: float,
    dim: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score docs under a trained LR model: (id, score, pred) with
    score = round(sigmoid(bias + sum of bucket weights), 4) and
    pred = score >= 0.5. One feature shuffle + one broadcast-array sum."""
    dim = len(weights) if dim is None else int(dim)
    warr = F.array(*[F.lit(float(x)) for x in weights])
    feats = lr_features(docs, dim=dim, id_col=id_col, text_col=text_col)
    sums = (
        feats.select(id_col, F.get(warr, F.col("bucket")).alias("_wj"))
        .groupBy(id_col)
        .agg(F.sum("_wj").alias("_s"))
    )
    z = F.lit(float(bias)) + F.coalesce("_s", F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return (
        docs.select(id_col)
        .join(sums, [id_col], "left")
        .select(
            id_col,
            score.alias("score"),
            (score >= 0.5).alias("pred"),
        )
    )
