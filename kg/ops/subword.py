"""Subword tokenization (WordPiece-style greedy longest match) with a
corpus-derived piece vocabulary — the tokenizer-application half of a
pre-training data pipeline (token budgeting with a real subword fertility
instead of whitespace counts; generalizes the reference's regex tokenizer
ladder, cf. /root/reference entity_recogniser tokenizer tests).

Two halves:

- ``subword_vocab``: derive the piece vocabulary from the corpus itself,
  fully deterministically — top-W whole words, top-T within-word character
  trigrams, top-B bigrams (all ranked by occurrence-weighted frequency,
  ties broken lexicographically), plus every single character seen inside
  a word (the fallback floor that makes greedy matching total). A piece
  reachable from several tiers keeps the highest-priority kind
  (word > trigram > bigram > char).

- ``subword_tokenize``: greedy longest-match each word left-to-right
  against the vocabulary, longest piece first (the WordPiece inference
  rule, sans continuation markers). Per doc: word count, subword count,
  and fertility = subwords/words (the standard tokenizer-quality metric).

Scale shape: the vocabulary build is three partial-agged groupBys over
exploded (bounded-length) grams with TakeOrdered tops — never a full
sort. The Python matcher (the only non-relational step) runs over the
DISTINCT-WORD dimension, not the corpus: Zipf makes |distinct words|
orders of magnitude smaller than corpus tokens, so the Arrow-batched UDF
touches a dim table and the corpus itself only flows through JVM explode
+ one broadcast join + one partial-agged per-doc sum. The walk itself is
O(word_len * max_piece_len) per distinct word with a set probe per
candidate length.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.session import local_df, materialize

__all__ = ["subword_vocab", "subword_tokenize", "bpe_merges"]

_KIND_PRIORITY = {"word": 0, "trigram": 1, "bigram": 2, "char": 3}


def _words(text_col: str) -> "F.Column":
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda x: x != F.lit(""))


def _occurrences(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, n) occurrence counts over the corpus — one partial-agged
    shuffle on the word."""
    return (
        docs.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _char_grams(occ: DataFrame, k: int) -> DataFrame:
    """Within-word character k-grams weighted by word occurrences:
    the gram explode runs over the DISTINCT-word table (bounded), the
    weights ride along — no second corpus pass."""
    grams = F.when(
        F.length("word") >= k,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - k + 1),
            lambda i: F.col("word").substr(i, F.lit(k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        occ.select(F.explode(grams).alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
    )


def subword_vocab(
    docs: DataFrame,
    top_words: int = 256,
    top_trigrams: int = 128,
    top_bigrams: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """The deterministic piece vocabulary: (piece, kind). See module
    docstring for the tiering + tie rules."""
    return _vocab_from_occ(
        _occurrences(docs, text_col), top_words, top_trigrams, top_bigrams
    )


def _vocab_from_occ(
    occ: DataFrame,
    top_words: int,
    top_trigrams: int,
    top_bigrams: int,
) -> DataFrame:
    words = (
        occ.orderBy(F.desc("n"), "word")
        .limit(int(top_words))
        .select(F.col("word").alias("piece"), F.lit("word").alias("kind"))
    )
    tris = (
        _char_grams(occ, 3)
        .orderBy(F.desc("n"), "piece")
        .limit(int(top_trigrams))
        .select("piece", F.lit("trigram").alias("kind"))
    )
    bis = (
        _char_grams(occ, 2)
        .orderBy(F.desc("n"), "piece")
        .limit(int(top_bigrams))
        .select("piece", F.lit("bigram").alias("kind"))
    )
    chars = (
        occ.select(
            F.explode(F.split(F.col("word"), "(?!^)")).alias("piece")
        )
        .where(F.col("piece") != "")
        .distinct()
        .select("piece", F.lit("char").alias("kind"))
    )
    pri = F.create_map(
        *[F.lit(x) for kv in _KIND_PRIORITY.items() for x in kv]
    )
    allp = words.unionByName(tris).unionByName(bis).unionByName(chars)
    return (
        allp.withColumn("_p", pri[F.col("kind")])
        .groupBy("piece")
        .agg(F.min(F.struct("_p", "kind")).alias("_best"))
        .select("piece", F.col("_best.kind").alias("kind"))
    )


def subword_tokenize(
    docs: DataFrame,
    vocab: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    pieces: list[str] | None = None,
    **vocab_kwargs,
) -> DataFrame:
    """Greedy longest-match subword stats per doc:
    (id, n_words, n_subwords, fertility). ``vocab`` defaults to
    ``subword_vocab(docs)``. Fertility is NULL for empty docs and rounded
    to 4dp (engine-portable).

    ``pieces``: optional pre-collected piece list. A production tokenizer
    is trained ONCE and applied to every ingest batch, so the trained
    piece set is per-job driver state — passing it here skips the
    per-call vocab collect job (the same hoist disposition as the
    gazetteer plan / LM vocab)."""
    dim = None
    if pieces is None and vocab is None:
        # share ONE corpus token pass between the vocab build and the
        # distinct-word dim (occ already is the dim + counts)
        occ = materialize(_occurrences(docs, text_col))
        vocab = _vocab_from_occ(
            occ,
            vocab_kwargs.get("top_words", 256),
            vocab_kwargs.get("top_trigrams", 128),
            vocab_kwargs.get("top_bigrams", 128),
        )
        dim = occ.select("word")
    if pieces is None:
        pieces = [r["piece"] for r in vocab.select("piece").collect()]
    pieces = sorted(pieces)
    pset = frozenset(pieces)
    lmax = max((len(p) for p in pieces), default=1)
    bc = docs.sparkSession.sparkContext.broadcast((pset, lmax))

    def count_subwords(word: str) -> int:
        ps, lm = bc.value
        pos, n = 0, 0
        wl = len(word)
        while pos < wl:
            step = 1
            for ln in range(min(lm, wl - pos), 0, -1):
                if word[pos : pos + ln] in ps:
                    step = ln
                    break
            pos += step
            n += 1
        return n

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_pieces": pdf["word"].map(count_subwords).astype("int64"),
                }
            )

    # explode_outer keeps ONE null-word row for empty docs, so the
    # per-doc aggregation below already covers every doc — the old
    # restore-empty-docs left join was a THIRD corpus-sized shuffle
    # (docs ids x per-doc stats SMJ), removed r4 for the scaling legs
    toks = docs.select(
        F.col(id_col), F.explode_outer(_words(text_col)).alias("word")
    )
    if dim is None:
        dim = toks.where(F.col("word").isNotNull()).select("word").distinct()
    dim_pieces = dim.mapInPandas(batches, "word string, n_pieces long")
    # broadcast dim join straight onto the exploded tokens: the per-doc
    # aggregation below is then the ONLY corpus-sized shuffle (a
    # groupBy(id, word) pre-aggregation would add a second corpus shuffle
    # and save nothing — the dim join is broadcast either way)
    joined = toks.join(F.broadcast(dim_pieces), "word", "left")
    stats = joined.groupBy(id_col).agg(
        F.count("word").alias("n_words"),
        F.sum("n_pieces").alias("n_subwords"),
    )
    return stats.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.coalesce("n_subwords", F.lit(0)).cast("long").alias("n_subwords"),
        F.when(
            F.col("n_words") > 0,
            F.round(F.coalesce("n_subwords", F.lit(0)) / F.col("n_words"), 4),
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Byte-pair encoding: the iterative merge-rule trainer (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

def _merge_pair(syms: "F.Column", a: str, b: str) -> "F.Column":
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into a single symbol — the BPE apply step — as a pure JVM array
    fold (one pass, pending-symbol accumulator; 'aaa' + (a,a) ->
    ['aa','a'], the standard greedy semantics)."""
    merged = F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


def _initial_symbols(word: "F.Column") -> "F.Column":
    """Character symbols plus the word-final '</w>' marker (the Sennrich
    formulation: merges crossing the marker learn word-final units)."""
    chars = F.filter(F.split(word, ""), lambda x: x != F.lit(""))
    return F.concat(chars, F.array(F.lit("</w>")))


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 8,
    min_pair_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Learn BPE merge rules from the corpus: repeatedly merge the
    globally most frequent adjacent symbol pair (ties broken
    lexicographically on (left, right) — fully deterministic, like every
    trainer in this engine). Returns (rank, left, right, merged, n)
    with one row per learned rule in application order.

    Complements :func:`subword_vocab` (frequency-tiered WordPiece-style
    vocabulary, single pass): BPE is the ITERATIVE trainer whose merge
    order IS the tokenizer — the construction used by GPT-style byte
    BPE. Rounds stop early when no pair reaches ``min_pair_count``.

    Scale shape: the corpus is touched ONCE (the word-occurrence
    groupBy, same partial-agged shuffle as subword_vocab); the merge
    loop then runs entirely over the DISTINCT-WORD dimension weighted
    by occurrence counts — Zipf makes that orders of magnitude smaller
    than the corpus. Each round is one adjacent-pair explode +
    partial-agged groupBy + a driver argmax (a scalar, like pagerank's
    dangling mass) + one JVM array-fold map over the dim, with the dim
    re-materialized per round so round i+1 never replays history. A
    production 32k-merge run keeps the same corpus cost (one pass) and
    pays n_merges dim-sized rounds — the known MapReduce-BPE shape.
    """
    occ = _occurrences(docs, text_col)
    w = materialize(
        occ.select("n", _initial_symbols(F.col("word")).alias("syms"))
    )
    spark = docs.sparkSession
    rules: list[tuple] = []
    for rank in range(int(n_merges)):
        pairs = (
            w.select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias(
                            "a"
                        ),
                        F.slice(
                            F.col("syms"), 2, F.size("syms") - 1
                        ).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "a", "b").first()
        if best is None or best["cnt"] < int(min_pair_count):
            break
        a, b = best["a"], best["b"]
        rules.append((rank, a, b, a + b, int(best["cnt"])))
        w = materialize(
            w.select("n", _merge_pair(F.col("syms"), a, b).alias("syms"))
        )
    return local_df(
        spark, rules, "rank INT, left STRING, right STRING, merged STRING, n LONG"
    )
