"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. Everything is built-in column expressions (JVM-side,
whole-stage codegen) — each has a line-for-line ANSI-SQL oracle in
__spark_entry__.oracle_sql, so the driver's DuckDB gate covers them.

Float determinism: ratios are computed from ints in IEEE double and rounded
to 4 places, which is reproducible across Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# BPE-ish word-piece tokenization: word characters runs OR single non-space
# symbols (the classic GPT-2-style pre-tokenizer shape, simplified).
BPE_ISH_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# marker stopwords per language for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "une", "du", "est"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "del", "con", "sono"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em", "um", "para"],
    "nl": ["de", "het", "een", "en", "van", "ik", "te", "dat", "die", "niet"],
}


def _words(col: str = "text") -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != F.lit(""))


def token_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_ws_tokens, n_bpe_tokens, n_chars) per document."""
    return docs.select(
        id_col,
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))).alias(
            "n_ws_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars"),
    )


def _quality_cols() -> dict[str, Column]:
    """Quality feature expressions keyed by output name — shared by
    quality_score (per-doc table) and corpus_report (single-scan rollup)."""
    words = _words()
    n_words = F.size(words)
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
    en_stops = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(en_stops, x)))

    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(n_stop / F.greatest(n_words, F.lit(1)), 4)
    mean_word_len = F.round(
        (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1)), 4
    )
    length_ok = (n_words >= 5).cast("int")
    score = F.round(
        0.4 * length_ok
        + 0.3 * F.least(stop_ratio * F.lit(2.0), F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))),
        4,
    )
    return {
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality": score,
    }


def quality_score(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + a composite score in [0, 1]:
    penalizes very short docs, extreme punctuation density, and absence of
    common-word (stopword) mass — the usual pre-training quality gates."""
    cols = _quality_cols()
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


def _lang_cols() -> dict[str, Column]:
    """Language-ID expressions keyed by output name — shared by lang_id
    and corpus_report."""
    words = _words()

    def _marker_hits(markers: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in markers])
        # single-arg lambda: a 2-arg lambda would be treated as (elem, index)
        return F.size(F.filter(words, lambda x: F.array_contains(arr, x)))

    scores = [
        F.struct(_marker_hits(markers).alias("hits"), F.lit(lang).alias("lang"))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # max over (hits, lang) — ties resolve to the lexicographically LAST code,
    # deterministic in both engines; a doc with zero hits is "unknown"
    best = F.greatest(*scores)
    n_cjk = F.size(F.regexp_extract_all("text", F.lit(r"[一-鿿]"), 0))
    pred = (
        F.when(n_cjk > 0, F.lit("zh"))
        .when(best["hits"] > 0, best["lang"])
        .otherwise(F.lit("unknown"))
    )
    return {"lang_pred": pred, "marker_hits": best["hits"]}


def lang_id(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID with a CJK fast path. Deterministic
    tie-break: highest marker hits, then language code ascending."""
    cols = _lang_cols()
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


def winnow_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", k: int = 8, n: int = 8
) -> DataFrame:
    """Rolling character-k-gram min-sampled fingerprint (winnowing-style):
    hash every k-char window of the normalized text, keep the ``n``
    lexicographically smallest distinct hashes, fingerprint = md5 of their
    concatenation. Robust to local edits (an edit perturbs only the windows
    crossing it, usually outside the min-sample). md5 as the window hash
    keeps the DuckDB oracle bit-identical; entirely JVM-side expressions.
    """
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    src = docs.select(id_col, norm.alias("_t"))
    t = F.col("_t")
    grams = F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: F.md5(F.substring(t, i, k)),
        ),
    ).otherwise(F.array(F.md5(t)))
    sample = F.slice(F.array_sort(F.array_distinct(grams)), 1, n)
    return src.select(
        id_col, F.md5(F.array_join(sample, "")).alias("winnow_fp")
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Two content fingerprints per doc: exact (md5 of whitespace-normalized
    lowercase text) and bag-of-words (md5 of the sorted distinct word set —
    order/duplication-insensitive, catches shuffled boilerplate)."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    bow = F.array_join(F.array_sort(F.array_distinct(_words())), " ")
    return docs.select(
        id_col,
        F.md5(norm).alias("exact_fp"),
        F.md5(bow).alias("bow_fp"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per doc (Rae et al. 2021, public —
    see PAPERS.md): training corpora drop docs dominated by repeated
    n-grams. (id, n_words, distinct_word_frac, top_bigram_frac):

    - distinct_word_frac: type/token ratio (low => repetitive vocabulary)
    - top_bigram_frac: occurrences of the most frequent word bigram over
      all bigram slots (high => looping/boilerplate text)

    Entirely built-in expressions: bigram counting is a local
    sort+aggregate over each doc's array (no shuffle; the per-doc arrays
    are bounded by doc length), so the operator is a pure map at any scale.
    """
    src = docs.select(id_col, _words().alias("_w"))
    w = F.col("_w")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.element_at(w, i + 1),
                                  F.element_at(w, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    src = src.select(id_col, w.alias("_w"), bigrams.alias("_bg"))
    bg = F.col("_bg")
    # occurrences of the modal bigram: sort the bigram array, then the
    # longest run of equal adjacent values == max frequency. Run lengths
    # via aggregate() carrying (prev, run, best).
    sorted_bg = F.array_sort(bg)
    top_count = F.when(
        F.size(bg) > 0,
        F.aggregate(
            sorted_bg,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("int").alias("run"),
                F.lit(0).cast("int").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        ),
    ).otherwise(F.lit(0))
    return src.select(
        id_col,
        F.size("_w").cast("long").alias("n_words"),
        F.round(
            F.size(F.array_distinct("_w")) / F.greatest(F.size("_w"), F.lit(1)),
            4,
        ).alias("distinct_word_frac"),
        F.round(
            top_count / F.greatest(F.size("_bg"), F.lit(1)), 4
        ).alias("top_bigram_frac"),
    )


def corpus_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_words: int = 5,
    min_distinct_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    max_punct_ratio: float = 0.25,
) -> DataFrame:
    """C4/Gopher-style document filter composing the quality + repetition
    signals into a keep/drop decision with machine-readable reasons:
    (id, keep, reasons) where reasons is a comma-joined, fixed-order list of
    failed rules ('' when kept). Thresholds compare the ROUNDED signal
    columns, so the decision is engine-exact and oracle-checkable.

    Scale shape: two column passes over the doc scan joined by id — both
    sides partial-aggregate-free pure maps, so the join is the only
    shuffle and AQE usually folds it into a broadcast at dim-like sizes;
    inline the expressions into one select if the extra scan matters.
    """
    q = quality_score(docs, id_col).select(id_col, "punct_ratio")
    r = repetition_stats(docs, id_col)
    j = r.join(q, id_col)
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_words") < min_words, F.lit("too_short")),
            F.when(
                F.col("distinct_word_frac") < min_distinct_frac,
                F.lit("repetitive_vocab"),
            ),
            F.when(
                F.col("top_bigram_frac") > max_top_bigram_frac,
                F.lit("looping_bigrams"),
            ),
            F.when(F.col("punct_ratio") > max_punct_ratio, F.lit("punct_heavy")),
        )
    )
    return j.select(
        id_col,
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("reasons"),
    )


#: fixed Gopher repetition-free stop set (Rae et al. 2021 §A1.1: a doc
#: must contain >= 2 of these to pass the "stop word" rule)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style quality-rule ladder (Rae et al. 2021 §A1.1, public
    paper — the document filter most web-scale LM corpora start from),
    one row per doc with every rule's verdict, the overall ``keep``, and
    the FIRST failing rule in the paper's order:

    (id, n_words, word_count_ok, mean_word_len_ok, symbol_ok, bullet_ok,
     ellipsis_ok, alpha_ok, stop_ok, keep, first_fail)

    Rules (thresholds as integer cross-multiplications — the whole
    contract is BIGINT/BOOLEAN, no float in the hash surface):
      word_count_ok:   min_words <= n <= max_words
      mean_word_len_ok: 3 <= sum(len)/n <= 10  (3n <= sum <= 10n)
      symbol_ok:       words containing '#' or '...' are <= 10% of words
      bullet_ok:       <= 90% of non-blank lines start with -, *, or •
      ellipsis_ok:     <= 30% of non-blank lines end with '...'
      alpha_ok:        >= 80% of words contain an alphabetic character
      stop_ok:         >= 2 distinct GOPHER_STOPS present

    Scale shape: pure-map array algebra over one text scan — zero
    shuffle, the same disposition as quality_score; the filter runs at
    ingest rate on any corpus size."""
    w = _words()
    lines = F.filter(
        F.transform(F.split("text", r"\n"), lambda x: F.btrim(x)),
        lambda x: x != F.lit(""),
    )
    n_w = F.size(w)
    sum_len = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_sym = F.size(F.filter(
        w, lambda x: x.contains("#") | x.contains("...")
    ))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines,
        lambda x: x.startswith("-") | x.startswith("*")
        | x.startswith("•"),
    ))
    n_ell = F.size(F.filter(lines, lambda x: x.endswith("...")))
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(w),
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
        )
    )
    base = docs.select(
        F.col(id_col),
        n_w.cast("long").alias("n_words"),
        sum_len.cast("long").alias("_sl"),
        n_sym.cast("long").alias("_sym"),
        n_lines.cast("long").alias("_nl"),
        n_bullet.cast("long").alias("_bul"),
        n_ell.cast("long").alias("_ell"),
        n_alpha.cast("long").alias("_alp"),
        n_stops.cast("long").alias("_stp"),
    )
    n = F.col("n_words")
    rules = [
        ("word_count_ok",
         (n >= int(min_words)) & (n <= int(max_words))),
        ("mean_word_len_ok",
         (n > 0) & (F.col("_sl") >= 3 * n) & (F.col("_sl") <= 10 * n)),
        ("symbol_ok", F.col("_sym") * 10 <= n),
        ("bullet_ok", F.col("_bul") * 10 <= F.col("_nl") * 9),
        ("ellipsis_ok", F.col("_ell") * 10 <= F.col("_nl") * 3),
        ("alpha_ok", F.col("_alp") * 10 >= n * 8),
        ("stop_ok", F.col("_stp") >= 2),
    ]
    out = base
    for name, cond in rules:
        out = out.withColumn(name, cond)
    keep = F.lit(True)
    for name, _ in rules:
        keep = keep & F.col(name)
    first_fail = F.coalesce(
        *[F.when(~F.col(name), F.lit(name)) for name, _ in rules],
        F.lit(None).cast("string"),
    )
    return out.select(
        id_col, "n_words", *[name for name, _ in rules],
        keep.alias("keep"), first_fail.alias("first_fail"),
    )


def quality_rollup(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-source/per-domain QUALITY rollup — the crawl-prioritization
    table a web-scale ingest keeps next to the corpus ("which feeds are
    worth re-crawling", the doc-side companion of weblinks.host_stats):
    aggregate the :func:`gopher_rules` verdicts and token mass per group
    and name each group's dominant failure mode.

    One row per group: (group, n_docs, n_keep, n_fail, sum_words,
    sum_chars, top_fail, top_fail_n) — top_fail is the most common
    first-failing rule among the group's rejected docs (ties ->
    lexicographically smallest rule name, deterministic; NULL with
    top_fail_n = 0 for all-keep groups). Docs with a NULL group form
    one group of their own. Everything in the hash surface
    is BIGINT/STRING — exact counts, no ratios (readers derive keep
    rate as n_keep / n_docs).

    Scale shape: the gopher ladder is the same zero-shuffle pure map;
    then TWO partial-aggregable groupBys — one to the group dim, one to
    the (group, first_fail) dim — and a partial-agged argmax
    (min(struct(-n, fail))) folds the failure histogram, so no window
    and no mega-group serialization; the dims join broadcast."""
    g = gopher_rules(
        docs, id_col=id_col, min_words=min_words, max_words=max_words
    ).select(id_col, "n_words", "keep", "first_fail")
    base = docs.select(
        F.col(id_col),
        F.col(group_col).cast("string").alias("grp"),
        F.length(text_col).cast("long").alias("_chars"),
    ).join(g, id_col)
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.sum("_chars").cast("long").alias("sum_chars"),
    )
    fails = (
        base.where(~F.col("keep"))
        .groupBy("grp", "first_fail")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .groupBy("grp")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_n")).alias("nn"),
                    F.col("first_fail").alias("f"),
                )
            ).alias("_b")
        )
        .select(
            F.col("grp").alias("_fgrp"),
            F.col("_b.f").alias("top_fail"),
            (-F.col("_b.nn")).cast("long").alias("top_fail_n"),
        )
    )
    return (
        per.join(
            F.broadcast(fails), F.col("grp").eqNullSafe(F.col("_fgrp")), "left"
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_keep",
            (F.col("n_docs") - F.col("n_keep")).cast("long").alias(
                "n_fail"
            ),
            "sum_words",
            "sum_chars",
            "top_fail",
            F.coalesce("top_fail_n", F.lit(0)).cast("long").alias(
                "top_fail_n"
            ),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    scope_col: str | None = None,
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal: a line whose
    normalized form (lower + trim) appears in >= ``min_docs`` distinct
    documents is boilerplate (nav bars, cookie banners, footers) and is
    dropped from every document; the text is reassembled in original line
    order. Blank lines are document structure, never counted or removed.

    ``scope_col`` (e.g. host) restricts "appears in N documents" to within
    each scope value — the CCNet per-shard / RefinedWeb per-site variant;
    default is corpus-wide.

    Returns (id, clean_text, n_lines, n_removed). Whole documents made of
    boilerplate come back with clean_text = ''.

    Scale shape: the line explode is a flatMap (no shuffle); the document
    frequency is one distinct + one partial-aggregated groupBy on the
    normalized line; membership is a left-anti join on the same key (the
    optimizer's runtime bloom filter prunes scanned lines before the
    shuffle); reassembly is one groupBy on the doc id with an in-group
    array_sort — no window, no driver collection. Line strings as shuffle
    keys dictionary-encode well; the boilerplate side is tiny after the
    ``min_docs`` filter, so AQE usually broadcasts it.
    """
    scope = [scope_col] if scope_col else []
    lines = docs.select(
        id_col,
        *scope,
        F.posexplode(F.split(text_col, "\n", -1)).alias("pos", "line"),
    ).withColumn("norm", F.lower(F.trim("line")))
    boiler = (
        lines.where(F.col("norm") != "")
        .select(*scope, "norm", id_col)
        .distinct()
        .groupBy(*scope, "norm")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_docs)
        .select(*scope, "norm")
    )
    kept = lines.join(boiler, scope + ["norm"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def corpus_report(
    docs: DataFrame, id_col: str = "doc_id", group_col: str = "source"
) -> DataFrame:
    """Per-group corpus report card — the summary table every curation
    run ends with: (group, n_docs, n_dups, dup_rate, avg_quality,
    n_langs, top_lang).

    Scale shape: ONE scan of the text column computes quality, language,
    and the exact-dup hash side by side (the expression builders are
    shared with quality_score/lang_id, so this does not re-scan per
    feature); then one text-hash shuffle (dup groups), one group shuffle
    (the rollup), and a (group, lang) mini-aggregation joined back for
    the deterministic language mode (ties -> lexicographically last).
    """
    from kg.ops.dedup import _norm_text

    per_doc = docs.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        _quality_cols()["quality"].alias("_q"),
        _lang_cols()["lang_pred"].alias("_lang"),
        # coalesce: a null text hashes like the empty doc in BOTH engines
        # (md5(null) is null, and SQL null-joins would silently drop rows)
        F.md5(F.coalesce(_norm_text(), F.lit(""))).alias("_th"),
    )
    per_doc = per_doc.withColumn(
        "_keep", F.min("_id").over(Window.partitionBy("_th"))
    ).withColumn("_is_dup", (F.col("_id") != F.col("_keep")).cast("int"))
    agg = per_doc.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_is_dup").cast("long").alias("n_dups"),
        F.round(F.avg("_q"), 4).alias("avg_quality"),
        F.countDistinct("_lang").cast("long").alias("n_langs"),
    )
    lc = per_doc.groupBy("_g", "_lang").agg(F.count("*").alias("_c"))
    top = (
        lc.groupBy("_g")
        .agg(F.max(F.struct(F.col("_c"), F.col("_lang"))).alias("_t"))
        .select("_g", F.col("_t._lang").alias("top_lang"))
    )
    return (
        agg.join(top, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            "n_dups",
            F.round(F.col("n_dups") / F.col("n_docs"), 4).alias("dup_rate"),
            "avg_quality",
            "n_langs",
            "top_lang",
        )
    )


def doc_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shannon-entropy quality signals per doc (the gibberish /
    mono-token-spam detector a corpus filter ladder wants next to the
    repetition stats): (id, n_tokens, word_entropy, char_entropy), each
    entropy = -sum p ln p over the doc's own word / character
    distribution, rounded 4dp; NULL for empty docs.

    Scale shape: ZERO shuffles — the distributions come from sorting the
    doc's own token/char arrays and extracting run lengths array-locally
    (shift+zip_with boundaries, linear); entropy is one aggregate over
    the bounded run-length list. The oracle recomputes via
    unnest + GROUP BY (same exact integer counts, same ln)."""

    def ent(arr: Column) -> Column:
        s = F.array_sort(arr)
        n = F.size(s)
        prev = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
        )
        flags = F.zip_with(
            s, prev, lambda x, p: F.when(p.isNull() | (x != p), F.lit(1))
            .otherwise(F.lit(0))
        )
        # 0-based start positions of each run
        starts = F.array_compact(
            F.zip_with(
                flags,
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))),
                lambda fl, i: F.when(fl == 1, i),
            )
        )
        nxt = F.concat(
            F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
            F.array(n),
        )
        lens = F.zip_with(starts, nxt, lambda a, b: b - a)
        h = -F.aggregate(
            lens,
            F.lit(0.0),
            lambda acc, c: acc
            + (c.cast("double") / n) * F.log(c.cast("double") / n),
        )
        return F.when(n > 0, F.round(h, 4))

    words = _words(text_col)
    # characters of the lowercased text, whitespace excluded (the word
    # separator carries no signal and its count would just track doc
    # length)
    chars = F.filter(
        F.split(F.lower(text_col), "(?!^)"),
        lambda c: (c != F.lit("")) & ~c.rlike(r"^\s$"),
    )
    return docs.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_tokens"),
        ent(words).alias("word_entropy"),
        ent(chars).alias("char_entropy"),
    )


#: (pattern, replacement) chain for normalize_text — order matters:
#: named entities before &amp; (so "&amp;lt;" unescapes exactly once),
#: mojibake digraphs longest-first. A FIXED table of literal replaces
#: keeps the op a pure map that DuckDB replays verbatim; arbitrary
#: numeric entities would need per-occurrence code conversion and are
#: deliberately out of scope (the common web set below covers the bulk).
NORMALIZE_REPLACEMENTS: list[tuple[str, str]] = [
    # UTF-8-read-as-Latin-1 mojibake (ftfy's bread and butter);
    # longest patterns first so the bare \u00e2\u20ac prefix of the
    # quote/dash trigraphs never fires early
    ("\u00e2\u20ac\u2122", "'"),     # right single quote
    ("\u00e2\u20ac\u0153", '"'),     # left double quote
    ("\u00e2\u20ac\u009d", '"'),     # right double quote
    ("\u00e2\u20ac\u201d", "-"),     # em dash
    ("\u00e2\u20ac\u201c", "-"),     # en dash
    ("\u00c3\u00a9", "\u00e9"),      # e acute
    ("\u00c3\u00a8", "\u00e8"),      # e grave
    ("\u00c3\u00a4", "\u00e4"),      # a umlaut
    ("\u00c3\u00b6", "\u00f6"),      # o umlaut
    ("\u00c3\u00bc", "\u00fc"),      # u umlaut
    # HTML entities: named + the common numeric quotes; &amp; LAST
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&#34;", '"'),
    ("&#8217;", "'"),
    ("&#8220;", '"'),
    ("&#8221;", '"'),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def normalize_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ftfy-lite text normalization — the cleaning pass between HTML
    extraction and every downstream text op: undo the two ubiquitous
    web corruptions (HTML entities left in extracted text; UTF-8 bytes
    decoded as Latin-1 "mojibake"), strip control characters, and
    collapse whitespace runs. Returns (id_col, text, changed) with
    ``changed`` = whether any rule fired.

    Pure map: a fixed chain of literal replaces (NORMALIZE_REPLACEMENTS,
    order-sensitive — see its comment) + two regexp_replace passes; no
    shuffle, no Python; DuckDB replays the identical chain so the
    contract pins the rule table itself."""
    c = F.col(text_col)
    out = c
    for pat, rep in NORMALIZE_REPLACEMENTS:
        out = F.replace(out, F.lit(pat), F.lit(rep))
    out = F.regexp_replace(
        out, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""
    )
    out = F.trim(F.regexp_replace(out, "\\s+", " "))
    return docs.select(
        F.col(id_col),
        out.alias("text"),
        (out != c).alias("changed"),
    )


def dedupe_paragraphs(
    docs: DataFrame,
    sep: str = "\n\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document paragraph dedup (the C4-style "repeated block"
    cleanup): split on ``sep``, keep only the FIRST occurrence of each
    (trimmed) paragraph, re-join in order. Returns
    (id_col, text, n_paragraphs, n_dropped).

    Array-local first-occurrence test — ``array_position`` returns the
    first index, so paragraph i survives iff array_position(parr, p_i)
    == i+1; no fold, no shuffle, a pure JVM map (the cross-document
    variant is remove_boilerplate_lines / the dedup ladder — this one
    never leaves the row)."""
    parr_expr = F.filter(
        F.transform(F.split(F.col(text_col), sep, -1), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )

    def _result(parr):
        # parr is a bound lambda VARIABLE (kg/ops/summarize.py let-binding
        # idiom): evaluated once, and — unlike four separate output
        # columns over shared subtrees — immune to the cross-column
        # subexpression merging that produced out-of-bounds element_at
        # accesses here (Spark 4.1, reproduced in tests)
        # sequence(0, -1) DESCENDS on an empty parr — guard explicitly
        kept = F.when(
            F.size(parr) > 0,
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.size(parr) - 1),
                    lambda i: F.struct(
                        i.alias("i"), F.element_at(parr, i + 1).alias("p")
                    ),
                ),
                lambda s: F.array_position(parr, s["p"]) == s["i"] + 1,
            ),
        ).otherwise(F.array().cast("array<struct<i:int,p:string>>"))
        return F.struct(
            F.concat_ws(sep, F.transform(kept, lambda s: s["p"])).alias(
                "text"
            ),
            F.size(parr).cast("long").alias("n_paragraphs"),
            (F.size(parr) - F.size(kept)).cast("long").alias("n_dropped"),
        )

    out = F.element_at(F.transform(F.array(parr_expr), _result), 1)
    return docs.select(F.col(id_col), out.alias("_o")).select(
        id_col,
        F.col("_o.text").alias("text"),
        F.col("_o.n_paragraphs").alias("n_paragraphs"),
        F.col("_o.n_dropped").alias("n_dropped"),
    )


def dedupe_paragraphs_global(
    docs: DataFrame,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CROSS-document paragraph dedup (the CCNet step: web boilerplate
    repeats at paragraph granularity across pages, which document-level
    near-dup cannot see and intra-doc dedupe_paragraphs cannot reach):
    every (trimmed, non-empty) paragraph occurring >= 2 times anywhere in
    the corpus keeps exactly its globally-first occurrence — min
    (id, idx), deterministic — and every other occurrence is dropped from
    the rewritten document. Returns (id, text, n_paragraphs, n_dropped).

    Scale shape (the ExactSubstr discipline at paragraph granularity):
    paragraph explode is linear in corpus paragraphs; ONE count shuffle
    keyed on the 60-bit md5-derived paragraph hash (8-byte shuffle/sort
    key, not the paragraph string) marks non-first occurrences via a
    single window; one per-doc groupBy collects dropped indexes and an
    id-keyed join rewrites the paragraph array locally."""
    parr = F.filter(
        F.transform(F.split(F.col(text_col), sep, -1), lambda p: F.trim(p)),
        lambda p: p != F.lit(""),
    )
    base = docs.select(F.col(id_col), parr.alias("_ps"))
    exploded = base.select(
        F.col(id_col), F.posexplode("_ps").alias("idx", "_p")
    ).select(
        F.col(id_col),
        "idx",
        F.conv(F.substring(F.md5("_p"), 1, 15), 16, 10).cast("long").alias(
            "_ph"
        ),
    )
    pw = Window.partitionBy("_ph").orderBy(id_col, "idx")
    drops = (
        exploded.select(
            F.col(id_col),
            "idx",
            F.row_number().over(pw).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("_ph")).alias("_c"),
        )
        .where((F.col("_c") >= 2) & (F.col("_rn") > 1))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("idx")).alias("_drop"))
    )
    dropped = F.coalesce(F.col("_drop"), F.array().cast("array<int>"))
    # sequence(0, -1) DESCENDS on an empty array (dedupe_paragraphs
    # precedent) — guard explicitly
    kept = F.when(
        F.size("_ps") > 0,
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.size("_ps") - 1),
                lambda i: F.struct(
                    i.alias("i"), F.element_at("_ps", i + 1).alias("p")
                ),
            ),
            lambda s: ~F.array_contains(dropped, s["i"]),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,p:string>>"))
    joined = base.join(drops, [id_col], "left")
    return joined.select(
        F.col(id_col),
        F.concat_ws(sep, F.transform(kept, lambda s: s["p"])).alias("text"),
        F.size("_ps").cast("long").alias("n_paragraphs"),
        (F.size("_ps") - F.size(kept)).cast("long").alias("n_dropped"),
    )


def readability(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease scoring — the classic curation signal for
    "is this prose or keyword soup" (used alongside quality_score's
    ratios; CCNet-style pipelines bucket on it):
    ``206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)``.

    Counts are deterministic approximations, identical cross-engine:
    sentences = count of [.!?]+ runs (min 1), words = whitespace
    tokens, syllables = vowel-group runs [aeiouy]+ per word (min 1 per
    word — the standard heuristic; exact CMU-dict syllables would need
    a lexicon dim). Returns (id, n_sentences, n_words, n_syllables,
    flesch) with flesch NULL on empty docs, else one float expression
    from exact integers, rounded 6.

    Scale shape: pure map — three regexp counts over the text column,
    no shuffle, no Python (plan-pinned)."""
    words = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")
    )
    n_words = F.size(words)
    n_sent = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
    )
    syl = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.split(F.concat(F.lit("#"), w), r"[aeiouy]+")) - 1,
            F.lit(1),
        ),
    )
    flesch = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (syl.cast("double") / n_words.cast("double")),
            6,
        ),
    )
    return docs.select(
        F.col(id_col),
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        syl.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def lang_confusion(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Declared-vs-detected language confusion matrix — the ingest-QA
    table for the ``lang`` metadata column: per (lang, lang_pred) cell,
    counts and the row-normalized rate. A crawl slice whose declared
    labels disagree with :func:`lang_id` en masse has a broken upstream
    tagger (or a boilerplate-flooded extraction); the diagonal rate is
    the quick health number.

    Returns (lang, lang_pred, n, n_declared, rate) with rate =
    n / n_declared rounded 6. Scale shape: the lang_id expressions are
    a pure map; then ONE partial-agged groupBy on the (declared,
    predicted) pair; per-declared totals reduce from the cell table
    (dim-sized), not the corpus."""
    cols = _lang_cols()
    cells = (
        docs.select(
            F.col("lang"), cols["lang_pred"].alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_declared")
    )
    return cells.join(totals, "lang").select(
        "lang",
        "lang_pred",
        "n",
        "n_declared",
        F.round(F.col("n") / F.col("n_declared").cast("double"), 6).alias(
            "rate"
        ),
    )


#: (class name, codepoint ranges) — fixed order; majority ties break to
#: the earlier class. Ranges chosen to be expressible in BOTH Java regex
#: (Spark) and RE2 (DuckDB) character classes.
SCRIPT_CLASSES: list[tuple[str, list[tuple[int, int]]]] = [
    ("latin", [(0x41, 0x5A), (0x61, 0x7A)]),
    ("digit", [(0x30, 0x39)]),
    ("cyrillic", [(0x400, 0x4FF)]),
    ("greek", [(0x370, 0x3FF)]),
    ("cjk", [(0x4E00, 0x9FFF), (0x3040, 0x30FF)]),
    ("arabic", [(0x600, 0x6FF)]),
    ("hangul", [(0xAC00, 0xD7AF)]),
]


def _script_re(ranges: list[tuple[int, int]]) -> str:
    return "[" + "".join(
        f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges
    ) + "]"


def script_profile(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unicode-script composition per document — the mixed-script spam /
    wrong-lang-tag signal a multilingual crawl needs before routing docs
    to per-language pipelines (a "lang=en" page that is 40% Cyrillic is
    either mislabelled or keyword-stuffed). One row per doc:

    (id, n_chars, n_<class>... , majority_script, mixed_script)

    Counts are EXACT BIGINTs (length minus length-after-strip per
    class); majority is the argmax in fixed SCRIPT_CLASSES order (ties
    -> earlier class; all-zero -> 'other'); mixed_script flags a
    second script at >= 20% of the first (integer cross-multiplication
    5*second >= first — no float anywhere, the r4 hash discipline).

    Scale shape: pure-map regexp algebra over one text scan, zero
    shuffle — ingest-rate at any corpus size."""
    text = F.col("text")
    counts = {
        name: (
            F.length(text)
            - F.length(F.regexp_replace(text, _script_re(ranges), ""))
        ).cast("long")
        for name, ranges in SCRIPT_CLASSES
    }
    base = docs.select(
        F.col(id_col),
        F.length(text).cast("long").alias("n_chars"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )
    names = [name for name, _ in SCRIPT_CLASSES]
    # majority / mixed consider WRITING SYSTEMS only — digits are script-
    # neutral (an English page full of figures is not "mixed-script")
    letters = [n for n in names if n != "digit"]
    top1 = F.greatest(*[F.col(f"n_{n}") for n in letters])
    majority = F.when(top1 == 0, F.lit("other"))
    for n in letters:
        majority = majority.when(F.col(f"n_{n}") == top1, F.lit(n))
    # second-highest: max over letter classes != the (first) argmax
    second = F.lit(0).cast("long")
    picked = F.when(top1 == 0, F.lit(""))
    for n in letters:
        picked = picked.when(F.col(f"n_{n}") == top1, F.lit(n))
    for n in letters:
        second = F.greatest(
            second,
            F.when(F.lit(n) != picked, F.col(f"n_{n}")).otherwise(
                F.lit(0).cast("long")
            ),
        )
    return base.select(
        id_col, "n_chars", *[f"n_{n}" for n in names],
        majority.alias("majority_script"),
        ((second * 5 >= top1) & (second > 0)).alias("mixed_script"),
    )


def ngram_novelty(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document k-gram NOVELTY against the whole corpus (the
    RefinedWeb-style marginal-value signal: a doc whose grams all first
    appeared elsewhere adds little to a training set even if it is not
    a near-dup of any single document): for each doc,

    (id, n_grams, n_novel, novelty)

    where a gram occurrence is NOVEL iff this doc holds the gram's
    globally-FIRST occurrence (min (id, pos) — the ExactSubstr
    canonical rule), and novelty = n_novel / n_grams rounded to 4dp
    (NULL for docs shorter than k tokens).

    Scale shape: identical to remove_duplicate_substrings' front half —
    array-local gram build on the 60-bit md5-derived key, ONE gram_h
    exchange + one orderBy-free window pass (min-struct first), then a
    partial-agged per-doc rollup. Docs with no grams are restored by a
    left join against the (dim-like at healthy sizes) stats."""
    from kg.ops.dedup import _words, gram_hash_array

    k = int(k)
    base = docs.select(F.col(id_col), _words(text_col).alias("_w"))
    exploded = base.select(
        F.col(id_col),
        F.posexplode(gram_hash_array(F.col("_w"), k)).alias(
            "pos", "gram_h"
        ),
    )
    gwin = Window.partitionBy("gram_h")
    marked = exploded.select(
        F.col(id_col),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).over(gwin).alias("_first"),
    )
    stats = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(
            F.when(F.col("_first.i") == F.col(id_col), 1).otherwise(0)
        ).alias("n_novel"),
    )
    return (
        base.select(id_col)
        .join(stats, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(F.col("n_novel") / F.col("n_grams"), 4),
            ).alias("novelty"),
        )
    )
