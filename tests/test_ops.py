"""Training-data operators: dedup ladder, similarity search, text stats,
multimodal plumbing — tested on /root/testdata/sf0.001 + synthetic media."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg.ops.dedup import (
    exact_dedup,
    minhash_near_dup,
    minhash_near_dup_ml,
    ngram_jaccard_pairs,
    shingle_signature_dedup,
    simhash,
    simhash_band_candidates,
)
from kg.ops.multimodal import media_metadata, sample_frames, synth_media
from kg.ops.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk_bruteforce,
    embedding_cosine_near_dup,
    embedding_stats,
)
from kg.ops.textstats import fingerprint, lang_id, quality_score, token_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  quick Brown fox jumps over the lazy dog"),  # exact after norm
        (3, "The quick brown fox jumps over the lazy cat"),  # near-dup
        (4, "Completely different content about spark engines"),
        (5, "completely different content about spark engines"),  # exact of 4
        (6, "An unrelated sentence mentioning nothing shared"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_docs):
    groups = exact_dedup(dup_docs).collect()
    sizes = sorted(r["n_docs"] for r in groups)
    assert sizes == [1, 1, 2, 2]
    keeps = {r["keep_id"] for r in groups if r["n_docs"] == 2}
    assert keeps == {1, 4}


def test_shingle_signature_groups_near_dups(spark, dup_docs):
    sig = shingle_signature_dedup(dup_docs, sig_size=4).collect()
    by_id = {r["doc_id"]: r["shingle_sig"] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[4] == by_id[5]
    assert by_id[1] != by_id[6]


def test_minhash_near_dup_clusters(spark, dup_docs):
    got = minhash_near_dup(dup_docs, min_jaccard=0.5).collect()
    comp = {r["doc_id"]: r["component"] for r in got}
    assert comp[1] == comp[2] == comp[3]  # near-dup chain collapses
    assert comp[4] == comp[5]
    assert comp[6] not in (comp[1], comp[4])
    keep = {r["doc_id"]: r["keep_id"] for r in got}
    assert keep[3] == 1 and keep[5] == 4


def test_incremental_near_dup_semantics(spark):
    """Batch-vs-index ingestion dedup: index hits drop whole components,
    clean clusters keep their min-id representative, empty docs are out of
    domain (same as the batch op)."""
    from kg.ops.dedup import incremental_near_dup, minhash_index_build

    index = minhash_index_build(
        spark.createDataFrame(
            [(100, "a b c d e"), (101, "z y x w v")],
            "doc_id long, text string",
        )
    )
    new = spark.createDataFrame(
        [
            (0, "a b c d e"),  # matches index doc 100
            (4, "a b c d e"),  # same component as 0 -> index_dup too
            (8, "p q r s t"),  # fresh cluster representative
            (12, "p q r s t"),  # batch dup of 8
            (16, ""),  # empty: excluded from the domain
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.keep, r.reason, r.dup_of)
        for r in incremental_near_dup(
            new, index, min_jaccard=0.8, max_bucket=10_000
        ).collect()
    }
    assert out == {
        0: (False, "index_dup", 100),
        4: (False, "index_dup", 100),
        8: (True, "kept", None),
        12: (False, "batch_dup", 8),
    }


def test_incremental_near_dup_clean_batch_matches_batch_op(spark, dup_docs):
    """Against an index the batch shares nothing with, incremental keep
    decisions == the batch-global operator's keep_id semantics."""
    from kg.ops.dedup import incremental_near_dup, minhash_index_build

    index = minhash_index_build(
        spark.createDataFrame(
            [(1000, "totally disjoint vocabulary qq ww ee rr")],
            "doc_id long, text string",
        )
    )
    inc = {
        r.doc_id: (r.keep, r.reason)
        for r in incremental_near_dup(
            dup_docs, index, min_jaccard=0.5, max_bucket=10_000
        ).collect()
    }
    batch = {
        r.doc_id: r.keep_id
        for r in minhash_near_dup(dup_docs, min_jaccard=0.5).collect()
    }
    assert set(inc) == set(batch)
    for i, keep_id in batch.items():
        assert inc[i] == ((i == keep_id), "kept" if i == keep_id else "batch_dup")
    assert all(r != "index_dup" for _, r in inc.values())


def test_incremental_index_bucket_cap_bounds_probe(spark):
    """An oversized index bucket (boilerplate pile-up) is dropped from the
    probe on the INDEX side: the op stays bounded and still returns a
    total verdict for every new doc."""
    from kg.ops.dedup import incremental_near_dup, minhash_index_build

    rows = [(100 + i, "same boilerplate text everywhere") for i in range(50)]
    index = minhash_index_build(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    new = spark.createDataFrame(
        [(0, "same boilerplate text everywhere"), (1, "fresh unique words")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.reason
        for r in incremental_near_dup(
            new, index, min_jaccard=0.9, max_bucket=4
        ).collect()
    }
    # the cap drops the oversized buckets -> the boilerplate match is
    # missed BY DESIGN (recall traded for boundedness, counted like the
    # batch op); both docs still get a verdict
    assert set(out) == {0, 1}
    assert out[1] == "kept"


def test_minhash_ml_variant_cross_checks_banded(spark, dup_docs):
    banded = {tuple(r) for r in minhash_near_dup(dup_docs, min_jaccard=0.5).collect()}
    ml = {tuple(r) for r in minhash_near_dup_ml(dup_docs, min_jaccard=0.5).collect()}
    assert banded == ml


def test_minhash_band_exact_dups_survive_bucket_cap(spark):
    # 100 identical docs + 1 outlier with max_bucket=4: every LSH bucket of
    # the identical group would be oversized, but the representative
    # collapse clusters them regardless
    rows = [(i, "same exact text in every row") for i in range(100)]
    rows.append((100, "completely different content"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_near_dup(docs, min_jaccard=0.9, max_bucket=4).collect()
    comp = {r["doc_id"]: r["component"] for r in got}
    assert all(comp[i] == 0 for i in range(100))
    assert comp[100] == 100


def test_simhash_deterministic_and_close(spark, dup_docs):
    a = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs.repartition(5)).collect()}
    assert a == b  # partition-invariant
    assert a[1] == a[2]  # same normalized word set
    ham13 = bin(a[1] ^ a[3]).count("1")
    ham16 = bin(a[1] ^ a[6]).count("1")
    assert ham13 < ham16  # near-dup closer than unrelated


def test_simhash_bands_and_jaccard_verify(spark, dup_docs):
    sim = simhash(dup_docs)
    cands = simhash_band_candidates(sim, n_bands=4)
    verified = ngram_jaccard_pairs(dup_docs, cands, min_jaccard=0.5).collect()
    pairs = {(r["a"], r["b"]) for r in verified}
    assert (1, 2) in pairs
    assert all(r["jaccard"] >= 0.5 for r in verified)


def test_cosine_topk_bruteforce(spark, embeddings):
    got = cosine_topk_bruteforce(
        embeddings, k=3, query_filter=F.col("qid") < 5
    ).toPandas()
    assert set(got["query_id"]) == {0, 1, 2, 3, 4}
    assert got.groupby("query_id")["rank"].max().eq(3).all()
    assert (got["query_id"] != got["neighbor_id"]).all()


def test_ann_lsh_recall_against_bruteforce(spark, embeddings):
    qf = F.col("qid") < 20
    exact = cosine_topk_bruteforce(embeddings, k=5, query_filter=qf).toPandas()
    approx = ann_lsh_topk(
        embeddings, k=5, n_bits=4, n_bands=32, query_filter=qf
    ).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, recall


def test_cosine_band_candidates_capped_and_verified(spark, embeddings):
    from kg.ops.similarity import cosine_band_candidates

    # a cap of 1 drops every bucket with >1 member -> no candidate pairs
    none = cosine_band_candidates(embeddings, n_bits=2, n_bands=8, max_bucket=1)
    assert none.count() == 0
    cands = cosine_band_candidates(embeddings, n_bits=2, n_bands=32)
    pdf = cands.toPandas()
    assert (pdf["src"] < pdf["dst"]).all()
    # blocked + exact verify == exact all-pairs clustering (high-recall cfg)
    blocked = {
        (r["vec_id"], r["component"])
        for r in embedding_cosine_near_dup(
            embeddings, threshold=0.4, candidates=cands
        ).collect()
    }
    exact = {
        (r["vec_id"], r["component"])
        for r in embedding_cosine_near_dup(embeddings, threshold=0.4).collect()
    }
    assert blocked == exact


def test_ann_ivf_recall_against_bruteforce(spark, embeddings):
    qf = F.col("qid") < 20
    exact = cosine_topk_bruteforce(embeddings, k=5, query_filter=qf).toPandas()
    approx = ann_ivf_topk(
        embeddings, k=5, n_lists=8, n_probe=6, query_filter=F.col("qid") < 20
    ).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    approx_set = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    recall = len(exact_set & approx_set) / len(exact_set)
    # random (unclustered) vectors are IVF's worst case: neighbors scatter
    # across cells, so recall tracks the probed fraction (6/8 here)
    assert recall >= 0.8, recall
    # the deterministic lloyd quantizer (the oracle-backed contract path)
    # must clear the same gate
    approx_l = ann_ivf_topk(
        embeddings, k=5, n_lists=8, n_probe=6,
        query_filter=F.col("qid") < 20, quantizer="lloyd",
    ).toPandas()
    lloyd_set = set(map(tuple, approx_l[["query_id", "neighbor_id"]].values))
    recall_l = len(exact_set & lloyd_set) / len(exact_set)
    assert recall_l >= 0.8, recall_l


def test_embedding_cosine_near_dup(spark):
    # 0 and 1 identical direction; 2 close to both (transitive chain);
    # 3 orthogonal -> singleton
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    comp = {
        r["vec_id"]: r["component"]
        for r in embedding_cosine_near_dup(emb, threshold=0.95).collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == 3


def test_embedding_stats(spark, embeddings):
    got = embedding_stats(embeddings).toPandas()
    assert got["n_vecs"].sum() == embeddings.count()
    assert (got["avg_norm"] > 0).all()


def test_token_stats_and_quality(spark, documents):
    ts = token_stats(documents).toPandas()
    assert (ts["n_bpe_tokens"] >= ts["n_ws_tokens"]).all()
    q = quality_score(documents).toPandas()
    assert q["quality"].between(0, 1).all()


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat and the dog sat in the garden of the house"),
        (2, "el perro y la casa de los amigos en la calle"),
        (3, "你好 世界 这是 中文"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "zh" and got[4] == "unknown"


def test_fingerprint_invariances(spark):
    rows = [
        (1, "Alpha beta gamma"),
        (2, "  alpha   BETA gamma "),  # ws/case-insensitive exact dup
        (3, "gamma beta alpha"),  # word-order permutation
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["exact_fp"], r["bow_fp"]) for r in fingerprint(df).collect()}
    assert got[1][0] == got[2][0]
    assert got[1][1] == got[2][1] == got[3][1]
    assert got[1][0] != got[3][0]


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(synth_media(40, seed=42))
    meta = media_metadata(media).toPandas()
    assert set(meta["kind"]) == {"image", "video"}
    img = meta[meta["kind"] == "image"]
    assert (img["n_bytes"] == img["width"] * img["height"] * img["channels"] + 9).all()

    frames = sample_frames(media, every_k=2).toPandas()
    vid = meta[meta["kind"] == "video"]
    # every video contributes ceil(n_frames/2) frames; channels col holds n_frames for video
    expected = int(sum((nf + 1) // 2 for nf in vid["channels"]))
    assert len(frames) == expected
    assert (frames["frame_idx"] % 2 == 0).all()


def test_repetition_stats_signals(spark):
    from kg.ops.textstats import repetition_stats

    rows = [
        (1, "spam spam spam spam spam"),          # one word repeated
        (2, "a b a b a b a b"),                    # looping bigram
        (3, "all words here are fully distinct"),  # clean text
        (4, "single"),                             # no bigrams
        (5, ""),                                   # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["distinct_word_frac"] == 0.2
    assert got[1]["top_bigram_frac"] == 1.0       # "spam spam" fills all slots
    assert got[2]["top_bigram_frac"] == round(4 / 7, 4)  # "a b" 4 of 7 slots
    assert got[3]["distinct_word_frac"] == 1.0
    assert got[3]["top_bigram_frac"] == 0.2       # 5 distinct bigrams, max 1
    assert got[4]["n_words"] == 1 and got[4]["top_bigram_frac"] == 0.0
    assert got[5]["n_words"] == 0


def test_url_normalization_dedups_crawl_variants(spark):
    from pyspark.sql import functions as F

    from kg.ops.webnorm import normalize_urls

    variants = [
        "https://Example.com/page/?utm_source=feed",
        "HTTPS://example.COM:443/page",
        "https://example.com/page#section-2",
    ]
    df = normalize_urls(
        spark.createDataFrame([(u,) for u in variants], "url string")
    )
    norms = {r["url_norm"] for r in df.collect()}
    assert norms == {"https://example.com/page"}  # all three collapse
    hosts = {r["host"] for r in df.collect()}
    assert hosts == {"example.com"}


def test_url_normalization_idempotent(spark):
    from pyspark.sql import functions as F

    from __spark_entry__ import MESSY_URLS
    from kg.ops.webnorm import normalize_urls

    df = spark.createDataFrame([(u,) for u, _, _ in MESSY_URLS], "url string")
    once = normalize_urls(df).select(F.col("url_norm").alias("url"))
    twice = normalize_urls(once).select("url_norm")
    assert [r["url"] for r in once.collect()] == [
        r["url_norm"] for r in twice.collect()
    ]


def test_pii_redaction_sequential_semantics(spark):
    from kg.ops.pii import redact_pii

    rows = [
        (1, "mail a.b@c.de or 192.168.1.1 or +1 (555) 123-4567"),
        (2, "digits 123456789 in an email x123456789@y.com stay one <EMAIL>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["text_redacted"] == "mail <EMAIL> or <IP> or <PHONE>"
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 1, 1)
    # the email is redacted FIRST, so its digit run is never phone-counted
    assert got[2]["n_phones"] == 1  # only the bare digit run
    assert got[2]["n_emails"] == 1
    assert "<EMAIL>" in got[2]["text_redacted"]


def test_corpus_filter_reasons(spark):
    from kg.ops.textstats import corpus_filter

    rows = [
        (1, "short"),                                         # too_short
        (2, "spam spam spam spam spam spam spam spam"),       # repetitive+looping
        (3, "a good clean document with many distinct words inside it"),
        (4, "!!! ??? *** !!! ??? (((" ),                      # punct_heavy+short-ish
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in corpus_filter(df).collect()}
    assert got[1]["keep"] is False and "too_short" in got[1]["reasons"]
    assert got[2]["keep"] is False
    assert "repetitive_vocab" in got[2]["reasons"]
    assert "looping_bigrams" in got[2]["reasons"]
    assert got[3]["keep"] is True and got[3]["reasons"] == ""
    assert "punct_heavy" in got[4]["reasons"]


def test_simhash_band_cap_drops_oversized_buckets(spark):
    """VERDICT r2: the cap that bounds the band self-join on boilerplate
    corpora — an oversized bucket contributes no pairs; smaller buckets
    still pair; an above-corpus cap reproduces the uncapped result."""
    sim = spark.createDataFrame(
        # 6 identical hashes (every band bucket size 6) + a distinct pair
        # sharing all bands with each other only
        [(i, 0x1234_5678_9ABC_0DEF) for i in range(6)]
        + [(10, 0x7777_0000_1111_2222), (11, 0x7777_0000_1111_2222)],
        "doc_id long, simhash long",
    )
    uncapped = {
        (r["a"], r["b"])
        for r in simhash_band_candidates(sim, n_bands=4, max_bucket=1024).collect()
    }
    assert (10, 11) in uncapped and len(uncapped) == 15 + 1
    capped = {
        (r["a"], r["b"])
        for r in simhash_band_candidates(sim, n_bands=4, max_bucket=4).collect()
    }
    # the 6-doc boilerplate bucket is dropped in every band; the small pair
    # survives — candidate volume is bounded, recall is band-local only
    assert capped == {(10, 11)}


def test_simhash_near_dup_exact_by_pigeonhole(spark):
    """Banded clustering == brute-force all-pairs Hamming clustering when
    max_hamming < n_bands (pigeonhole: some band must match), on a corpus
    with exact dups, near dups, and unrelated docs."""
    from kg.ops.dedup import simhash_near_dup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                          # exact dup of 1
        (3, base + " lambda"),              # near dup
        (4, "totally different words entirely unrelated content here"),
        (5, ""),                            # empty -> simhash 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["component"], r["keep_id"])
           for r in simhash_near_dup(
               docs, max_hamming=3, n_bands=4,
               max_bucket=10**6).collect()}
    # brute force in Python over the same simhashes
    from kg.ops.dedup import simhash as _sh

    sims = {r["doc_id"]: r["simhash"] for r in _sh(docs).collect()}
    import itertools

    parent = {d: d for d in sims}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(sims), 2):
        if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 3:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expect = {}
    for d in sims:
        comp = find(d)
        expect.setdefault(comp, []).append(d)
    want = {}
    for comp, members in expect.items():
        for m in members:
            want[m] = (min(members), min(members))
    assert got == want
    assert got[1] == got[2]  # exact dups always together


def test_simhash_near_dup_rejects_lossy_config(spark):
    from kg.ops.dedup import simhash_near_dup

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_near_dup(docs, max_hamming=4, n_bands=4)


def test_similar_topk_related_docs(spark):
    from kg.ops.dedup import similar_topk

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),      # j=4/6 with 1
        (3, "alpha beta gamma delta epsilon"),   # exact dup of 1
        (4, "unrelated totally different words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["rank"]): (r["neighbor_id"], r["jaccard"])
        for r in similar_topk(docs, k=2, min_jaccard=0.5).collect()
    }
    assert got[(1, 1)] == (3, 1.0)
    assert got[(1, 2)] == (2, 0.6667)
    assert got[(3, 1)] == (1, 1.0)
    assert (4, 1) not in got  # nothing >= 0.5


# ---- exact set-similarity join (prefix filtering) ----


def _bruteforce_jaccard_pairs(docs, t):
    from kg.ops.dedup import _words

    toks = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.array_sort(F.array_distinct(_words())).alias("ts"),
    ).where(F.size("ts") > 0)
    a = toks.select(F.col("id").alias("a"), F.col("ts").alias("ta"))
    b = toks.select(F.col("id").alias("b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jac = inter / F.greatest(union, F.lit(1))
    return {
        (r["a"], r["b"], r["jaccard"])
        for r in a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .where(jac >= F.lit(float(t)))
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
        .collect()
    }


@pytest.mark.parametrize("t", [0.3, 0.6, 0.9])
def test_jaccard_join_exact_equals_bruteforce(spark, documents, t):
    """Prefix filtering is EXACT-recall blocking: at every threshold the
    prefix-join + verify output must equal the all-pairs brute force —
    no LSH-style miss-probability argument allowed."""
    from kg.ops.dedup import jaccard_join_exact

    docs = documents.where(F.col("doc_id") < 120)
    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_join_exact(docs, min_jaccard=t).collect()
    }
    assert got == _bruteforce_jaccard_pairs(docs, t)


def test_jaccard_join_identical_docs_always_pair(spark, dup_docs):
    from kg.ops.dedup import jaccard_join_exact

    got = {
        (r["a"], r["b"])
        for r in jaccard_join_exact(dup_docs, min_jaccard=0.99).collect()
    }
    # the two exact-dup groups (1,2) and (4,5) must surface at j=1.0
    assert {(1, 2), (4, 5)} <= got


def test_prefix_filter_cap_only_shrinks_candidates(spark, documents):
    from kg.ops.dedup import _words, prefix_filter_candidates

    docs = documents.where(F.col("doc_id") < 80)
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_sort(F.array_distinct(_words())).alias("tokset"),
    ).where(F.size("tokset") > 0)
    full = {
        (r["a"], r["b"])
        for r in prefix_filter_candidates(toks, 0.7).collect()
    }
    capped = {
        (r["a"], r["b"])
        for r in prefix_filter_candidates(toks, 0.7, max_bucket=4).collect()
    }
    assert capped <= full


class TestKeepBestPerCluster:
    def test_argmax_with_min_id_tiebreak(self, spark):
        from kg.ops.dedup import keep_best_per_cluster

        assign = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
            "doc_id long, component long")
        scores = spark.createDataFrame(
            [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.1)],
            "doc_id long, quality double")
        got = {r["doc_id"]: (r["best_id"], r["keep"])
               for r in keep_best_per_cluster(assign, scores).collect()}
        # cluster 10: 2 and 3 tie at 0.9 -> min id 2 wins
        assert got == {1: (2, False), 2: (2, True), 3: (2, False),
                       4: (4, True), 5: (4, False)}

    def test_partition_invariant(self, spark):
        from kg.ops.dedup import keep_best_per_cluster

        assign = spark.createDataFrame(
            [(i, i % 4) for i in range(40)], "doc_id long, component long")
        scores = spark.createDataFrame(
            [(i, float((i * 7) % 5)) for i in range(40)],
            "doc_id long, quality double")
        a = sorted(map(tuple, keep_best_per_cluster(assign, scores).collect()))
        b = sorted(map(tuple, keep_best_per_cluster(
            assign.repartition(9), scores.repartition(3)).collect()))
        assert a == b


class TestQuantizeEmbeddings:
    def test_roundtrip_error_bounded(self, spark, embeddings):
        from kg.ops.similarity import quantize_embeddings

        out = quantize_embeddings(embeddings).collect()
        assert len(out) == embeddings.count()
        for r in out:
            codes = [int(x) for x in r["q"].split(",")]
            assert len(codes) == r["dim"]
            assert all(-127 <= c <= 127 for c in codes)
            # max-abs reconstruction error is within half a quantization step
            assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12

    def test_exact_vs_numpy(self, spark):
        import numpy as np
        from kg.ops.similarity import quantize_embeddings

        vecs = [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0]),
                (2, [-3.25, 3.25, 1.625])]
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        for vid, v in vecs:
            e = np.array(v, dtype=np.float64)
            s = max(np.abs(e).max(), 1e-30) / 127.0
            q = np.floor(e / s + 0.5).astype(int)
            assert got[vid]["q"] == ",".join(str(int(x)) for x in q)
            assert abs(got[vid]["scale"] - round(s, 9)) < 1e-12


class TestSubstringDuplicates:
    def test_matches_python_recompute(self, spark):
        from kg.ops.dedup import substring_duplicates

        rows = [
            (0, "the quick brown fox jumps"),
            (1, "a the quick brown fox leaps"),
            (2, "the quick brown fox jumps the quick brown fox jumps"),
            (3, "short"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["gram"]: (r["n_docs"], r["n_occurrences"])
               for r in substring_duplicates(df, k=4, min_docs=2).collect()}
        from collections import defaultdict
        occ, docs = defaultdict(int), defaultdict(set)
        for i, t in rows:
            toks = t.split()
            for s in range(len(toks) - 3):
                g = " ".join(toks[s:s + 4])
                occ[g] += 1
                docs[g].add(i)
        want = {g: (len(docs[g]), occ[g]) for g in occ if len(docs[g]) >= 2}
        assert got == want
        # the shared span is found; doc 2's internal repeat counts twice
        assert got["the quick brown fox"] == (3, 4)

    def test_partition_invariant(self, spark, documents):
        from kg.ops.dedup import substring_duplicates

        a = sorted(map(tuple,
                       substring_duplicates(documents, k=6).collect()))
        b = sorted(map(tuple, substring_duplicates(
            documents.repartition(11), k=6).collect()))
        assert a == b and len(a) > 0


class TestRemoveDuplicateSubstrings:
    @staticmethod
    def _py(rows, k):
        from collections import defaultdict

        toks = {i: t.lower().split() for i, t in rows}
        occ = defaultdict(list)
        for i, _ in rows:
            w = toks[i]
            for p in range(len(w) - k + 1):
                occ[" ".join(w[p:p + k])].append((i, p))
        dup = defaultdict(set)
        for lst in occ.values():
            if len(lst) >= 2:
                keep = min(lst)
                dup_positions = [x for x in lst if x != keep]
                for d, p in dup_positions:
                    dup[d].add(p)
        out = {}
        for i, _ in rows:
            w = toks[i]
            removed = [False] * len(w)
            for p in dup.get(i, ()):
                for j in range(p, min(p + k, len(w))):
                    removed[j] = True
            kept = [x for x, r in zip(w, removed) if not r]
            out[i] = (" ".join(kept), len(w) - len(kept))
        return out

    def test_matches_python_recompute(self, spark):
        from kg.ops.dedup import remove_duplicate_substrings

        rows = [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "intro words the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "short"),
            (4, "rep rep rep rep rep rep rep rep rep rep rep"),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["text_clean"], r["n_removed"])
               for r in remove_duplicate_substrings(df, k=4).collect()}
        assert got == self._py(rows, 4)
        # global-first wins: doc 0 intact, doc 2 (its full dup) emptied
        assert got[0][1] == 0 and got[2][0] == ""
        # within-doc repetition: dup windows at pos 1..7 cover tokens
        # [1, 11), so only the first token of the kept window survives
        assert got[4] == ("rep", 10)

    def test_partition_invariant_and_conserves_tokens(self, spark,
                                                      documents):
        from kg.ops.dedup import remove_duplicate_substrings

        a = sorted(map(tuple,
                       remove_duplicate_substrings(documents, k=6)
                       .collect()))
        b = sorted(map(tuple, remove_duplicate_substrings(
            documents.repartition(11), k=6).collect()))
        assert a == b and len(a) == documents.count()
        for _, clean, n_removed in a:
            assert n_removed >= 0

    def test_arrow_gram_keys_bit_identical(self, spark, documents):
        # gram_hash_arrow is a pure execution-venue switch
        # (BENCH/AB_TEXTOPS_r5.md): keys must be BIT-identical to the
        # JVM expression so oracles and downstream plans never notice
        from kg.ops.dedup import (
            _words,
            gram_hash_array,
            gram_hash_arrow,
            remove_duplicate_substrings,
        )

        base = documents.select("doc_id", _words("text").alias("_w"))
        for k in (3, 8):
            bad = base.select(
                gram_hash_array(F.col("_w"), k).alias("j"),
                gram_hash_arrow(F.col("_w"), k).alias("a"),
            ).where(~F.col("j").eqNullSafe(F.col("a"))).count()
            assert bad == 0, f"k={k}: arrow keys diverge from JVM keys"
        # degenerate docs: short-of-k and empty both yield EMPTY (not
        # null) arrays on both venues
        deg = spark.createDataFrame(
            [(1, "two words"), (2, "")], "doc_id long, text string"
        )
        rows = deg.select(
            gram_hash_array(_words("text"), 8).alias("j"),
            gram_hash_arrow(_words("text"), 8).alias("a"),
        ).collect()
        assert all(r.j == [] and r.a == [] for r in rows)
        # full-op equality on the fixture
        a = sorted(map(tuple, remove_duplicate_substrings(
            documents, k=8, arrow_grams=False).collect()))
        b = sorted(map(tuple, remove_duplicate_substrings(
            documents, k=8, arrow_grams=True).collect()))
        assert a == b


class TestSoftDedupWeights:
    def test_exact_clusters_and_weights(self, spark):
        from kg.ops.dedup import soft_dedup_weights

        df = spark.createDataFrame(
            [(1, "A  b"), (2, "a b"), (3, "a B "), (4, "unique text")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
        assert len(out) == 4  # TOTAL verdict table
        # docs 1-3 normalize identically -> one cluster of 3
        assert out[1].cluster == out[2].cluster == out[3].cluster
        assert out[1].cluster_size == 3
        assert out[1].weight == pytest.approx(round(1 / 3, 9), abs=1e-12)
        assert out[4].cluster_size == 1 and out[4].weight == 1.0
        # expected sampling mass: one doc's worth per cluster
        assert sum(r.weight for r in out.values()) == pytest.approx(2.0)

    def test_supplied_clusters_with_singleton_fallback(self, spark):
        from kg.ops.dedup import soft_dedup_weights

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(5)], "doc_id long, text string"
        )
        clusters = spark.createDataFrame(
            [(0, 7), (1, 7), (2, 7), (3, 9)], "doc_id long, cluster long"
        )
        out = {r.doc_id: r for r in
               soft_dedup_weights(docs, clusters=clusters).collect()}
        assert len(out) == 5
        assert out[0].cluster_size == 3 and out[3].cluster_size == 1
        # doc 4 absent from the assignment: singleton, unique key
        assert out[4].cluster_size == 1 and out[4].weight == 1.0
        assert out[4].cluster != out[3].cluster

    def test_duplicated_id_in_clusters_keeps_one_row_per_doc(self, spark):
        from kg.ops.dedup import soft_dedup_weights

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(5)], "doc_id long, text string"
        )
        rows = [(0, 7), (1, 7), (2, 7), (3, 9)]
        clusters = spark.createDataFrame(rows, "doc_id long, cluster long")
        dup = spark.createDataFrame(
            rows + [(1, 7), (2, 9)], "doc_id long, cluster long"
        )
        base = {r.doc_id: r.weight for r in
                soft_dedup_weights(docs, clusters=clusters).collect()}
        got = soft_dedup_weights(docs, clusters=dup).collect()
        assert sorted(r.doc_id for r in got) == list(range(5))
        # doc 2 keeps its smallest cluster id, so nothing moves
        assert {r.doc_id: r.weight for r in got} == base

    def test_partition_invariant(self, spark, documents):
        from kg.ops.dedup import soft_dedup_weights

        a = sorted(map(tuple, soft_dedup_weights(documents).collect()))
        b = sorted(map(tuple, soft_dedup_weights(
            documents.repartition(9)).collect()))
        assert a == b


class TestQualityRollup:
    def test_counts_and_top_fail(self, spark):
        from kg.ops.textstats import gopher_rules, quality_rollup

        good = ("the and for that with this from have "
                "words are plenty here truly " * 2)
        rows = (
            [(i, "s1", good) for i in range(3)]          # keepers
            + [(10, "s1", "short"), (11, "s1", "also short")]
            + [(20, "s2", good)]
        )
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r.source: r for r in quality_rollup(
            df, group_col="source", min_words=10).collect()}
        g = {r.doc_id: r for r in gopher_rules(df, min_words=10).collect()}
        assert out["s1"].n_docs == 5
        assert out["s1"].n_keep == sum(
            1 for i in (0, 1, 2, 10, 11) if g[i].keep
        )
        assert out["s1"].n_fail == out["s1"].n_docs - out["s1"].n_keep
        assert out["s1"].sum_words == sum(
            g[i].n_words for i in (0, 1, 2, 10, 11)
        )
        # the two short docs fail on word count first
        assert out["s1"].top_fail == "word_count_ok"
        assert out["s1"].top_fail_n == 2
        # all-keep group: NULL top_fail, 0 count
        assert out["s2"].top_fail is None and out["s2"].top_fail_n == 0

    def test_top_fail_tie_breaks_lexicographically(self, spark):
        from kg.ops.textstats import quality_rollup

        # one word-count failure + one stop-word failure (enough words
        # of healthy length, no Gopher stopwords): tie at n=1 ->
        # smallest rule name wins
        nostops = ("apple banana cherry orange grape melon peach "
                   "lemon mango berry ") * 2
        df = spark.createDataFrame(
            [(1, "s", "short"), (2, "s", nostops)],
            "doc_id long, source string, text string",
        )
        r = quality_rollup(df, group_col="source", min_words=10).first()
        assert r.n_fail == 2 and r.top_fail_n == 1
        assert r.top_fail == "stop_ok"  # 'stop_ok' < 'word_count_ok'

    def test_null_group_reports_its_failures_like_the_oracle(self, spark):
        import duckdb

        from __spark_entry__ import _quality_rollup_oracle_sql
        from kg.ops.textstats import quality_rollup

        rows = [(1, None, "short"), (2, None, "also short"), (3, "s", "short")]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = sorted(map(tuple, quality_rollup(
            df, group_col="source", min_words=10).collect()), key=str)
        con = duckdb.connect()
        con.register("documents", df.toPandas())
        want = sorted(map(tuple, con.execute(
            _quality_rollup_oracle_sql()).fetchall()), key=str)
        null_group = [r for r in got if r[0] is None]
        assert null_group[0][-2:] == ("word_count_ok", 2)
        assert got == want


class TestSubword:
    ROWS = [
        (1, "the theory of the theatre"),
        (2, "xyzzy"),
        (3, ""),
        (4, "the the the"),
        (5, "of of theory"),
    ]

    @staticmethod
    def _py_vocab(rows, top_w, top_t, top_b):
        from collections import Counter

        occ = Counter()
        for _, t in rows:
            occ.update(t.lower().split())
        def top(counter, k):
            return [p for p, _ in sorted(
                counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
        tri, bi = Counter(), Counter()
        for w, n in occ.items():
            for i in range(len(w) - 2):
                tri[w[i:i + 3]] += n
            for i in range(len(w) - 1):
                bi[w[i:i + 2]] += n
        chars = {c for w in occ for c in w}
        out = {}
        for kind, pieces in [("char", chars), ("bigram", top(bi, top_b)),
                             ("trigram", top(tri, top_t)),
                             ("word", top(occ, top_w))]:
            for p in pieces:
                out[p] = kind  # later (higher-priority) kinds overwrite
        return out

    @staticmethod
    def _py_count(word, pieces, lmax):
        pos, n = 0, 0
        while pos < len(word):
            step = 1
            for ln in range(min(lmax, len(word) - pos), 0, -1):
                if word[pos:pos + ln] in pieces:
                    step = ln
                    break
            pos += step
            n += 1
        return n

    def test_vocab_matches_python_recompute(self, spark):
        from kg.ops.subword import subword_vocab

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        got = {r["piece"]: r["kind"]
               for r in subword_vocab(df, 3, 4, 4).collect()}
        assert got == self._py_vocab(self.ROWS, 3, 4, 4)

    def test_tokenize_matches_python_recompute(self, spark):
        from kg.ops.subword import subword_tokenize, subword_vocab

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        v = subword_vocab(df, 3, 4, 4)
        got = {r["doc_id"]: (r["n_words"], r["n_subwords"], r["fertility"])
               for r in subword_tokenize(df, v).collect()}
        pieces = set(self._py_vocab(self.ROWS, 3, 4, 4))
        lmax = max(map(len, pieces))
        for i, t in self.ROWS:
            words = t.lower().split()
            n_sub = sum(self._py_count(w, pieces, lmax) for w in words)
            fert = (round(n_sub / len(words), 4) if words else None)
            assert got[i] == (len(words), n_sub, fert), i
        # empty doc: zero counts, NULL fertility
        assert got[3] == (0, 0, None)

    def test_partition_invariant_on_corpus(self, spark, documents):
        from kg.ops.subword import subword_tokenize

        a = sorted(map(tuple, subword_tokenize(documents).collect()))
        b = sorted(map(tuple,
                       subword_tokenize(documents.repartition(13))
                       .collect()))
        assert a == b and len(a) == documents.count()
        # fertility >= 1 whenever there are words: a word is at least
        # one piece
        for _, n_words, n_subwords, fert in a:
            if n_words:
                assert n_subwords >= n_words and fert >= 1.0


def test_sign_bit_margin_far_above_float_noise():
    """The ann_lsh oracle equality relies on no |vec . hyperplane| being
    within summation-order float noise of 0 (BLAS vs SQL SUM add in
    different orders). Pin the margin at >= 1e-7 on both fixture scales
    (measured ~5e-6; float error is ~1e-13)."""
    import duckdb
    import numpy as np

    from kg.ops.similarity import _md5_hyperplanes

    for sf in ("0.001", "0.01"):
        emb = duckdb.sql(
            f"SELECT embedding FROM "
            f"'/root/testdata/sf{sf}/embeddings.parquet'"
        ).fetchnumpy()["embedding"]
        vecs = np.array([np.asarray(e, dtype=np.float64) for e in emb])
        hyper = _md5_hyperplanes(29, 128, vecs.shape[1])
        assert np.abs(vecs @ hyper.T).min() > 1e-7, sf


class TestLloydKMeans:
    def _py_lloyd(self, vecs, k, rounds, seed):
        import hashlib

        import numpy as np

        ids = sorted(vecs)
        unit = {
            i: np.asarray(vecs[i], dtype=np.float64)
            / np.sqrt(np.dot(vecs[i], vecs[i]))
            for i in ids
        }
        ranked = sorted(
            ids,
            key=lambda i: (
                int(hashlib.md5(f"{i}|{seed}".encode()).hexdigest()[:15],
                    16), i),
        )
        cents = {j: unit[ranked[j]].copy() for j in range(k)}
        assign, margins = {}, []
        for _ in range(rounds):
            for i in ids:
                dots = sorted(
                    ((float(unit[i] @ cents[j]), -j) for j in cents),
                    reverse=True,
                )
                assign[i] = -dots[0][1]
                if len(dots) > 1:
                    margins.append(dots[0][0] - dots[1][0])
            for j in cents:
                members = [unit[i] for i in ids if assign[i] == j]
                if members:
                    m = np.mean(members, axis=0)
                    cents[j] = m / np.sqrt(m @ m)
        # final assignment under the final centroids (the fit+transform
        # contract lloyd_kmeans implements)
        for i in ids:
            dots = sorted(
                ((float(unit[i] @ cents[j]), -j) for j in cents),
                reverse=True,
            )
            assign[i] = -dots[0][1]
            if len(dots) > 1:
                margins.append(dots[0][0] - dots[1][0])
        return assign, min(margins)

    def test_matches_python_replay_and_margin(self, spark):
        import duckdb

        from kg.ops.similarity import lloyd_kmeans

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        assigned, cents = lloyd_kmeans(emb, k=8, rounds=3, seed=17)
        got = {r.vid: r.list_id for r in assigned.collect()}
        raw = duckdb.sql(
            "SELECT vec_id, embedding FROM "
            "'/root/testdata/sf0.001/embeddings.parquet'"
        ).fetchall()
        want, margin = self._py_lloyd(
            {int(v): list(e) for v, e in raw}, 8, 3, 17
        )
        assert got == want
        # assignment margins far above cross-engine float noise (~1e-13):
        # this is what makes the unrolled SQL oracle safe
        assert margin > 1e-6
        assert cents.count() == 8

    def test_partition_invariant(self, spark):
        from kg.ops.similarity import lloyd_kmeans

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        a, _ = lloyd_kmeans(emb.repartition(1), k=4, rounds=2)
        b, _ = lloyd_kmeans(emb.repartition(13), k=4, rounds=2)
        assert sorted((r.vid, r.list_id) for r in a.collect()) == sorted(
            (r.vid, r.list_id) for r in b.collect()
        )


def test_cluster_balanced_sample_caps_and_total(spark):
    from kg.ops.similarity import cluster_balanced_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    out = cluster_balanced_sample(emb, k=4, per_cluster=5, rounds=2)
    rows = out.collect()
    assert len(rows) == n  # total verdict table
    from collections import Counter

    kept = Counter(r.list_id for r in rows if r.kept == 1)
    assert all(v <= 5 for v in kept.values())
    assert sum(kept.values()) >= 5  # at least one full-ish cell
    # partition-invariant
    again = sorted(map(tuple, cluster_balanced_sample(
        emb.repartition(9), k=4, per_cluster=5, rounds=2).collect()))
    assert again == sorted(map(tuple, rows))


class TestProfileTable:
    def test_known_profile(self, spark):
        from kg.ops.profile import profile_table

        df = spark.createDataFrame(
            [(1, "ab", 2.0), (2, None, 4.0), (2, "wxyz", None)],
            "id long, s string, x double",
        )
        got = {r["column"]: r.asDict() for r in
               profile_table(df, exact_distinct=True).collect()}
        assert set(got) == {"id", "s", "x"}
        i = got["id"]
        assert (i["n_rows"], i["n_nulls"], i["n_distinct"]) == (3, 0, 2)
        # integral columns: exact BIGINT anchors, no doubles
        assert (i["min_int"], i["max_int"], i["sum_int"]) == (1, 2, 5)
        assert i["mean_num"] is None and i["min_num"] is None
        assert i["min_len"] is None and i["sum_len"] is None
        s = got["s"]
        assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
        assert (s["min_len"], s["max_len"], s["sum_len"]) == (2, 4, 6)
        assert s["min_num"] is None and s["min_int"] is None
        x = got["x"]
        assert (x["n_nulls"], x["min_num"], x["max_num"]) == (1, 2.0, 4.0)
        assert x["mean_num"] == pytest.approx(3.0, abs=1e-6)
        assert x["min_int"] is None
        assert x["dtype"] == "double"

    def test_single_job_one_aggregate_pass(self, spark):
        from kg.ops.profile import profile_table

        df = spark.range(100).withColumn(
            "s", F.concat(F.lit("v"), F.col("id"))
        )
        plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
        # HLL path: the whole profile is ONE aggregation — a single
        # exchange to the 1-row reduce, no per-column jobs, no Python
        assert plan.count("Exchange") == 1
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan

    def test_column_subset(self, spark):
        from kg.ops.profile import profile_table

        df = spark.createDataFrame([(1, "a")], "id long, s string")
        got = profile_table(df, columns=["s"]).collect()
        assert [r["column"] for r in got] == ["s"]

    def test_fractional_mean_is_exact_anchor(self, spark):
        # VERDICT r4 item 1: mean_num for fractional columns is an
        # exact DECIMAL-sum / count ratio (order-independent, not a
        # rounded distributed float avg) — repartitioning the input
        # must not perturb the value at all
        from kg.ops.profile import profile_table

        vals = [(float(i) + 0.125,) for i in range(1000)]
        df = spark.createDataFrame(vals, "x double")
        a = profile_table(df.coalesce(1)).where("column = 'x'").first()
        b = profile_table(df.repartition(32)).where("column = 'x'").first()
        assert a["mean_num"] == b["mean_num"]
        assert a["mean_num"] == (sum(v for (v,) in vals) / 1000)

    @pytest.mark.parametrize("extreme", [1e30, float("nan"), float("inf")])
    def test_mean_skips_values_outside_the_decimal_anchor(self, spark, extreme):
        # none of the three fits DECIMAL(38,9), so the mean is over the
        # other two values: the sum and the count both leave it out
        from kg.ops.profile import profile_table

        df = spark.createDataFrame([(1.0,), (2.0,), (extreme,)], "x double")
        r = profile_table(df).first()
        assert r["mean_num"] == 1.5
        assert r["n_nulls"] == 0 and r["min_num"] == 1.0

    def test_mean_is_null_when_the_decimal_sum_overflows(self, spark):
        from kg.ops.profile import profile_table

        df = spark.createDataFrame([(9e28,)] * 20, "x double")
        assert profile_table(df).first()["mean_num"] is None

    def test_driver_parquet_physical_type_parity(self, spark, tmp_path):
        # the q_doc_profile contract canonicalizes input types before
        # profiling so a driver parquet storing doc_id/n_chars as
        # DOUBLE cannot flip Spark's statistic branch away from the
        # oracle's (the two-round doc_profile driver-hash-red,
        # VERDICT r4 item 1) — profile of the cast frame must be
        # column-for-column identical across physical schemas
        import duckdb

        from kg.ops.profile import profile_table

        src = "/root/testdata/sf0.001/documents.parquet"
        sim = str(tmp_path / "documents.parquet")
        duckdb.connect().execute(
            "COPY (SELECT CAST(doc_id AS DOUBLE) AS doc_id, text, lang, "
            "source, CAST(n_chars AS DOUBLE) AS n_chars FROM "
            f"'{src}') TO '{sim}' (FORMAT PARQUET)"
        )

        def canon(path):
            d = spark.read.parquet(path).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("text").cast("string").alias("text"),
                F.col("lang").cast("string").alias("lang"),
                F.col("source").cast("string").alias("source"),
                F.col("n_chars").cast("long").alias("n_chars"),
            )
            return sorted(
                map(tuple, profile_table(d, exact_distinct=True).collect())
            )

        assert canon(src) == canon(sim)


class TestDocEntropy:
    def test_matches_python_recompute(self, spark):
        import math
        from collections import Counter

        from kg.ops.textstats import doc_entropy

        rows = [
            (1, "aa bb aa cc aa"),
            (2, "xyz"),
            (3, ""),
            (4, "same same same same"),
            (5, "Mixed CASE mixed case"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.word_entropy, r.char_entropy)
               for r in doc_entropy(df).collect()}

        def ent(items):
            if not items:
                return None
            c = Counter(items)
            n = len(items)
            return round(-sum((k / n) * math.log(k / n)
                              for k in c.values()), 4)

        for i, t in rows:
            words = t.lower().split()
            chars = [c for c in t.lower() if not c.isspace()]
            want = (len(words), ent(words), ent(chars))
            g = got[i]
            assert g[0] == want[0], i
            for a, b in zip(g[1:], want[1:]):
                if b is None:
                    assert a is None, i
                else:
                    assert abs(a - b) < 1e-9, i
        # monotone sanity: the all-same doc has zero word entropy
        assert got[4][1] == 0.0

    def test_zero_shuffle_plan(self, spark, documents):
        from kg.ops.textstats import doc_entropy

        p = doc_entropy(documents)._jdf.queryExecution().executedPlan() \
            .toString()
        assert "Exchange" not in p
        assert "MapInPandas" not in p and "ArrowEvalPython" not in p

    def test_partition_invariant(self, spark, documents):
        from kg.ops.textstats import doc_entropy

        a = sorted(map(tuple, doc_entropy(documents).collect()))
        b = sorted(map(tuple,
                       doc_entropy(documents.repartition(9)).collect()))
        assert a == b


class TestRandomProjection:
    def test_jl_preserves_cosine_structure(self, spark):
        """64->16 sign projection keeps pairwise cosines within JL
        distortion on real fixture embeddings."""
        import numpy as np

        from kg.ops.similarity import random_projection

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        ).limit(40)
        orig = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
        proj = {
            r.vec_id: np.array(r.proj)
            for r in random_projection(emb, 32, 64).collect()
        }
        assert all(len(v) == 32 for v in proj.values())

        def cos(a, b):
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        ids = sorted(orig)[:20]
        errs = [
            abs(cos(orig[a], orig[b]) - cos(proj[a], proj[b]))
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
        ]
        # JL distortion at k=32 is ~1/sqrt(32); these are the honest bounds
        assert sum(errs) / len(errs) < 0.25
        assert max(errs) < 0.7

    def test_deterministic_and_jvm_only(self, spark):
        from kg.ops.similarity import random_projection, rp_signs

        emb = spark.read.parquet(
            "/root/testdata/sf0.01/embeddings.parquet"
        ).limit(5)
        a = sorted(map(tuple, random_projection(emb, 8, 64).collect()))
        b = sorted(map(tuple, random_projection(emb, 8, 64).collect()))
        assert [r[0] for r in a] == [r[0] for r in b]
        assert all(list(x[1]) == list(y[1]) for x, y in zip(a, b))
        s = rp_signs(2, 3)
        assert len(s) == 2 and len(s[0]) == 3
        assert all(v in (1.0, -1.0) for row in s for v in row)
        p = (
            random_projection(emb, 8, 64)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "Exchange"):
            assert node not in p


class TestCdcChunkDedup:
    """Content-defined chunking: boundary locality, whole-doc fallback,
    duplicate accounting, and the shift-resilience property fixed-size
    blocking lacks."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_chunks_partition_the_doc(self, spark, documents):
        from kg.ops.dedup import cdc_chunks

        chunks = cdc_chunks(documents, k=4).toPandas()
        toks = documents.select(
            "doc_id",
            F.size(
                F.filter(F.split(F.lower("text"), r"\s+"),
                         lambda x: x != F.lit(""))
            ).alias("n"),
        ).toPandas().set_index("doc_id")["n"]
        got = chunks.groupby("doc_id")["n_tokens"].sum()
        for doc_id, n in toks.items():
            assert got.get(doc_id, 0) == n
        # chunk_idx is dense 0..m-1 per doc
        for doc_id, grp in chunks.groupby("doc_id"):
            assert sorted(grp.chunk_idx) == list(range(len(grp)))

    def test_short_doc_single_chunk(self, spark):
        from kg.ops.dedup import cdc_chunks

        df = self._mk(spark, [(1, "two tokens"), (2, "one two three")])
        out = cdc_chunks(df, k=4).collect()
        assert len(out) == 2
        assert all(r.chunk_idx == 0 for r in out)
        assert {r.n_tokens for r in out} == {2, 3}

    def test_identical_docs_fully_dup(self, spark):
        from kg.ops.dedup import cdc_chunk_dedup

        body = " ".join(f"tok{i}" for i in range(200))
        df = self._mk(spark, [(1, body), (2, body), (3, "other words only")])
        out = {r.doc_id: r for r in cdc_chunk_dedup(df, k=4).collect()}
        assert out[1].n_dup_chunks == 0  # global first occurrences
        assert out[2].n_dup_chunks == out[2].n_chunks  # every chunk stored
        assert out[2].dup_tokens == out[2].n_tokens
        assert out[3].n_dup_chunks == 0

    def test_prefix_insertion_preserves_suffix_chunks(self, spark):
        """The CDC property: prepending tokens shifts every fixed-size
        block but only the FIRST content-defined chunk; the shared suffix
        keeps identical chunk hashes."""
        from kg.ops.dedup import cdc_chunks

        body = " ".join(f"w{i % 13}q{i % 5}" for i in range(300))
        df = self._mk(
            spark, [(1, body), (2, "brand new preface tokens here " + body)]
        )
        ch = cdc_chunks(df, k=4).toPandas()
        h1 = set(ch[ch.doc_id == 1].chunk_hash)
        h2 = set(ch[ch.doc_id == 2].chunk_hash)
        shared = len(h1 & h2)
        assert shared >= 0.7 * len(h1), (shared, len(h1), len(h2))

    def test_partition_invariance(self, spark, documents):
        from kg.ops.dedup import cdc_chunk_dedup

        a = cdc_chunk_dedup(documents, k=4)
        b = cdc_chunk_dedup(documents.repartition(7), k=4)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestBlockingEval:
    """Blocking-quality metrics: perfect/empty blockers bound the metric,
    identical docs always collide in the md5 blocker, and the bucket cap
    trades mega-cluster recall for boundedness."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        base = " ".join(f"word{i}" for i in range(40))
        rows = [
            (1, base),
            (2, base),  # J=1 with 1
            (3, base + " extra tail tokens here"),  # high J with 1/2
            (4, " ".join(f"other{i}" for i in range(40))),
            (5, " ".join(f"unrel{i}" for i in range(40))),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_perfect_blocker_pc_1(self, spark, corpus):
        from kg.ops.dedup import blocking_eval, jaccard_join_exact

        truth = jaccard_join_exact(corpus, min_jaccard=0.5).select("a", "b")
        row = blocking_eval(corpus, truth, min_jaccard=0.5).collect()[0]
        assert row.pair_completeness == 1.0
        assert row.n_captured == row.n_true_pairs > 0

    def test_empty_blocker_pc_0(self, spark, corpus):
        from kg.ops.dedup import blocking_eval

        empty = spark.createDataFrame([], "a long, b long")
        row = blocking_eval(corpus, empty, min_jaccard=0.5).collect()[0]
        assert row.pair_completeness == 0.0
        assert row.reduction_ratio == 1.0

    def test_md5_blocker_identical_docs_always_candidates(self, spark, corpus):
        from kg.ops.dedup import md5_minhash_band_candidates

        cand = {
            (r.a, r.b)
            for r in md5_minhash_band_candidates(
                corpus, k=8, bands=4, max_bucket=100
            ).collect()
        }
        assert (1, 2) in cand  # identical token sets: every band collides
        assert (4, 5) not in cand or True  # unrelated docs MAY collide; no assert

    def test_cap_drops_mega_bucket_pairs(self, spark):
        from kg.ops.dedup import blocking_eval, md5_minhash_band_candidates

        body = " ".join(f"tmpl{i}" for i in range(60))
        rows = [(i, body + f" v{i}") for i in range(1, 21)]  # 20 near-dups
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = md5_minhash_band_candidates(docs, max_bucket=4)
        uncapped = md5_minhash_band_candidates(docs, max_bucket=100)
        pc_c = blocking_eval(docs, capped, 0.5).collect()[0].pair_completeness
        pc_u = blocking_eval(docs, uncapped, 0.5).collect()[0].pair_completeness
        assert pc_u > pc_c  # the cap costs recall on a mega-cluster corpus
        assert pc_u >= 0.9


class TestProductQuantization:
    """pq_train/pq_adc_topk vs an independent numpy replay of the same
    deterministic recurrence (the module's python-replay idiom for
    iterative ops whose SQL oracle would restate the plan)."""

    M, K, ROUNDS, SEED, DIM = 2, 4, 2, 17, 8

    def _fixture(self, spark):
        # exact small integers -> float arithmetic is exact, so the
        # replay comparison is bit-for-bit
        rows = [
            (i, [float((i * (j + 3)) % 7 - 3) for j in range(self.DIM)])
            for i in range(40)
        ]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def _replay(self, rows):
        import hashlib

        import numpy as np

        X = np.array([r[1] for r in rows], dtype=np.float64)
        ids = np.array([r[0] for r in rows])
        dsub = self.DIM // self.M
        h = np.array([
            int(hashlib.md5(f"{i}|{self.SEED}".encode()).hexdigest()[:15], 16)
            for i in ids
        ])
        order = np.lexsort((ids, h))[: self.K]
        cents = {
            (s, j): X[order[j], s * dsub : (s + 1) * dsub].copy()
            for s in range(self.M)
            for j in range(self.K)
        }

        def assign():
            codes = {}
            for idx, vid in enumerate(ids):
                for s in range(self.M):
                    x = X[idx, s * dsub : (s + 1) * dsub]
                    best = min(
                        (float(np.sum((x - cents[(s, j)]) ** 2)), j)
                        for j in range(self.K)
                    )
                    codes[(vid, s)] = best[1]
            return codes

        for _ in range(self.ROUNDS):
            codes = assign()
            for s in range(self.M):
                for j in range(self.K):
                    members = [
                        X[idx, s * dsub : (s + 1) * dsub]
                        for idx, vid in enumerate(ids)
                        if codes[(vid, s)] == j
                    ]
                    if members:
                        cents[(s, j)] = np.mean(members, axis=0)
        return assign(), cents

    def test_codes_match_numpy_replay(self, spark):
        from kg.ops.similarity import pq_train

        rows, emb = self._fixture(spark)
        codes, books = pq_train(
            emb, m_sub=self.M, k=self.K, rounds=self.ROUNDS, seed=self.SEED
        )
        got = {(r.vid, r.sub): r.code for r in codes.collect()}
        want, want_cents = self._replay(rows)
        assert got == want
        # codebooks match the replay's centroids (means of exact ints)
        got_books = {(r.sub, r.code): list(r.centroid) for r in books.collect()}
        import numpy as np

        for key, c in want_cents.items():
            assert np.allclose(got_books[key], c, atol=1e-12)

    def test_adc_topk_matches_replay(self, spark):
        import numpy as np

        from kg.ops.similarity import pq_adc_topk, pq_train

        rows, emb = self._fixture(spark)
        codes, books = pq_train(
            emb, m_sub=self.M, k=self.K, rounds=self.ROUNDS, seed=self.SEED
        )
        queries = emb.where("vec_id < 5")
        got = [
            (r.qid, r.nid, r.rank)
            for r in pq_adc_topk(
                queries, codes, books, m_sub=self.M, topk=3
            ).collect()
        ]
        want_codes, cents = self._replay(rows)
        dsub = self.DIM // self.M
        X = {r[0]: np.array(r[1]) for r in rows}
        expect = []
        for qid in range(5):
            ds = []
            for nid in sorted(X):
                if nid == qid:
                    continue
                d2 = sum(
                    float(
                        np.sum(
                            (
                                X[qid][s * dsub : (s + 1) * dsub]
                                - cents[(s, want_codes[(nid, s)])]
                            )
                            ** 2
                        )
                    )
                    for s in range(self.M)
                )
                ds.append((d2, nid))
            for rank, (_, nid) in enumerate(sorted(ds)[:3], 1):
                expect.append((qid, nid, rank))
        assert sorted(got) == sorted(expect)


class TestNormalizeText:
    def test_rules_and_flags(self, spark):
        from kg.ops.textstats import normalize_text

        docs = spark.createDataFrame(
            [
                (1, "cafÃ© &amp;lt; x â€™tis   ok\x07!"),
                (2, "plain text"),
                (3, "A&nbsp;B &#8220;q&#8221;"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: (r.text, r.changed) for r in normalize_text(docs).collect()}
        # mojibake fixed, &amp;lt; unescapes exactly ONCE, control char
        # stripped, whitespace collapsed
        assert got[1] == ("café &lt; x 'tis ok!", True)
        assert got[2] == ("plain text", False)
        assert got[3] == ('A B "q"', True)

    def test_idempotent_on_clean_text(self, spark):
        from kg.ops.textstats import normalize_text

        docs = spark.createDataFrame(
            [(1, "already clean < > \" ' & text")],
            "doc_id long, text string",
        )
        once = normalize_text(docs).select("doc_id", "text")
        twice = normalize_text(once).collect()
        assert twice[0].changed is False


class TestDedupeParagraphs:
    def test_first_occurrence_kept_in_order(self, spark):
        from kg.ops.textstats import dedupe_paragraphs

        docs = spark.createDataFrame(
            [
                (3, "A.\n\nB.\n\nA.\n\nC.\n\nB."),
                (4, "solo"),
                (5, ""),                      # sequence(0,-1) regression
                (6, "x\n\n\n\nx"),            # empty fragment dropped
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.text, r.n_paragraphs, r.n_dropped)
            for r in dedupe_paragraphs(docs).collect()
        }
        assert got[3] == ("A.\n\nB.\n\nC.", 5, 2)
        assert got[4] == ("solo", 1, 0)
        assert got[5] == ("", 0, 0)
        assert got[6] == ("x", 2, 1)

    def test_pure_map_no_exchange(self, spark):
        from kg.ops.textstats import dedupe_paragraphs, normalize_text

        docs = spark.createDataFrame(
            [(1, "a\n\nb")], "doc_id long, text string"
        )
        for df in (dedupe_paragraphs(docs), normalize_text(docs)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan


class TestIvfPqRecall:
    def test_refine_rescues_recall_on_concentrated_data(self, spark):
        import numpy as np
        import pyspark.sql.functions as F

        from kg.ops.similarity import ann_ivfpq_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = emb.collect()
        X = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

        def recall(df):
            got = {}
            for r in df.collect():
                got.setdefault(r.qid, set()).add(r.nid)
            hits = tot = 0
            for q in range(20):
                exact = {
                    n
                    for _, n in sorted(
                        (float(np.sum((X[q] - X[n]) ** 2)), n)
                        for n in X
                        if n != q
                    )[:5]
                }
                hits += len(exact & got.get(q, set()))
                tot += 5
            return hits / tot

        flt = F.col("qid") < 20
        pure = ann_ivfpq_topk(emb, k=5, query_filter=flt)
        refined = ann_ivfpq_topk(emb, k=5, query_filter=flt, refine=200)
        r_pure, r_ref = recall(pure), recall(refined)
        # synthetic embeddings are structure-free -> distances
        # concentrate and pure ADC ordering is noise-dominated; the
        # exact re-rank of the ADC shortlist (ADC+R) recovers recall
        assert r_ref >= 0.7
        assert r_ref > r_pure + 0.3


class TestSkewReport:
    def test_hot_key_stats_and_salt(self, spark):
        from kg.ops.profile import skew_report

        rows = [(f"k{i % 10}",) for i in range(90)] + [("hot",)] * 910
        df = spark.createDataFrame(rows, "key string")
        got = {
            r.key: r
            for r in skew_report(
                df, "key", top_k=3, target_per_task=100
            ).collect()
        }
        assert got["hot"].n_rows == 910 and got["hot"].rank == 1
        assert got["hot"].share == 0.91
        assert got["__total__"].n_rows == 1000
        assert got["hot"].max_per_key == 910
        assert abs(got["hot"].skew_factor - 10.01) < 1e-6
        # ceil(910 / 100) = 10 salt shards flatten the hot key
        assert got["hot"].suggested_salt == 10
        assert len(got) == 4  # top 3 + total

    def test_uniform_keys_salt_one(self, spark):
        from kg.ops.profile import skew_report

        df = spark.createDataFrame(
            [(f"k{i % 8}",) for i in range(80)], "key string"
        )
        r = skew_report(df, "key", top_k=2, target_per_task=100).first()
        assert r.suggested_salt == 1
        assert abs(r.skew_factor - 1.0) < 1e-9


class TestClusterAgreement:
    def _cl(self, spark, pairs):
        return spark.createDataFrame(pairs, "doc_id long, cluster string")

    def test_refinement_metrics_and_ari(self, spark):
        from kg.ops.dedup import cluster_agreement

        # prediction splits truth cluster {1,2,3} into {1,2} + {3}
        a = self._cl(spark, [(1, "x"), (2, "x"), (3, "y"), (4, "z"), (5, "z")])
        b = self._cl(spark, [(1, "p"), (2, "p"), (3, "p"), (4, "q"), (5, "q")])
        r = cluster_agreement(a, b).first()
        assert (r.pair_tp, r.pairs_pred, r.pairs_true) == (2, 2, 4)
        assert r.precision == 1.0 and r.recall == 0.5
        assert abs(r.ari - 0.545455) < 1e-6

    def test_identical_partitions_perfect(self, spark):
        from kg.ops.dedup import cluster_agreement

        a = self._cl(spark, [(1, "x"), (2, "x"), (3, "y")])
        r = cluster_agreement(a, a).first()
        assert r.precision == 1.0 and r.recall == 1.0 and r.ari == 1.0

    def test_all_singletons_degenerate_ari_one(self, spark):
        from kg.ops.dedup import cluster_agreement

        s = self._cl(spark, [(i, f"c{i}") for i in range(4)])
        r = cluster_agreement(s, s).first()
        assert r.pair_tp == 0 and r.ari == 1.0


class TestColumnAssociations:
    def test_correlations_detect_derived_column(self, spark):
        from kg.ops.profile import numeric_correlations

        rows = [(float(i), float(2 * i + 1), float((i * 7) % 5))
                for i in range(50)]
        df = spark.createDataFrame(rows, "x double, y double, z double")
        got = {
            (r.col_a, r.col_b): r.corr
            for r in numeric_correlations(df, ["x", "y", "z"]).collect()
        }
        assert got[("x", "y")] == 1.0  # y is affine in x
        assert abs(got[("x", "z")]) < 0.3

    def test_mi_bounds_and_determinism(self, spark):
        from kg.ops.profile import categorical_mi

        # b fully determined by a -> NMI 1; independent-ish -> NMI ~ 0
        det = spark.createDataFrame(
            [(i % 4, (i % 4) * 10) for i in range(80)], "a long, b long"
        )
        r = categorical_mi(det, "a", "b").first()
        assert abs(r.nmi - 1.0) < 1e-9 and r.n_cells == 4
        ind = spark.createDataFrame(
            [(i % 4, i % 5) for i in range(200)], "a long, b long"
        )
        r2 = categorical_mi(ind, "a", "b").first()
        assert r2.nmi < 0.01

    def test_constant_column_nmi_zero(self, spark):
        from kg.ops.profile import categorical_mi

        df = spark.createDataFrame(
            [(1, i % 3) for i in range(30)], "a long, b long"
        )
        assert categorical_mi(df, "a", "b").first().nmi == 0.0

    def test_null_categories_counted_consistently(self, spark):
        # ADVICE r4: inner joins on _a/_b dropped null-keyed cells from
        # the MI sum and n_cells while the entropies still saw them —
        # NULL must be a first-class category everywhere (null-safe
        # joins), matching an exact python recompute
        import math
        from collections import Counter

        from kg.ops.profile import categorical_mi

        pairs = [("x", "1"), ("x", None), (None, "1"), (None, None),
                 ("y", "2"), ("x", "1")]
        df = spark.createDataFrame(pairs, "a string, b string")
        r = categorical_mi(df, "a", "b").first()
        assert r.n_cells == 5
        n = len(pairs)
        cj = Counter(pairs)
        ca = Counter(a for a, _ in pairs)
        cb = Counter(b for _, b in pairs)
        mi = sum(
            c / n * math.log((c / n) / ((ca[a] / n) * (cb[b] / n)))
            for (a, b), c in cj.items()
        )
        ha = -sum(c / n * math.log(c / n) for c in ca.values())
        hb = -sum(c / n * math.log(c / n) for c in cb.values())
        assert r.mi == pytest.approx(mi, abs=1e-6)
        assert r.h_a == pytest.approx(ha, abs=1e-6)
        assert r.h_b == pytest.approx(hb, abs=1e-6)
        assert r.nmi == pytest.approx(mi / max(ha, hb), abs=1e-6)


class TestColumnHistogram:
    def test_equi_width_bins(self, spark):
        from kg.ops.profile import column_histogram

        df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
        got = {r.bin: (r.lo, r.hi, r.n)
               for r in column_histogram(df, "x", n_bins=4).collect()}
        assert got[0] == (0.0, 24.75, 25)
        assert got[3] == (74.25, 99.0, 25)  # max closes the top bin

    def test_constant_column_single_bin(self, spark):
        from kg.ops.profile import column_histogram

        df = spark.createDataFrame([(7.0,)] * 10, "x double")
        rows = column_histogram(df, "x", n_bins=5).collect()
        assert len(rows) == 1 and rows[0].n == 10 and rows[0].bin == 0


class TestBPE:
    def _ref_bpe(self, texts, n_merges, min_pair_count=2):
        """Independent single-node BPE (the Sennrich loop verbatim)."""
        import collections
        import re as _re

        wc = collections.Counter()
        for t in texts:
            for w in _re.split(r"\s+", t.lower()):
                if w:
                    wc[w] += 1
        vocab = {tuple(list(w) + ["</w>"]): n for w, n in wc.items()}
        rules = []
        for rank in range(n_merges):
            pc = collections.Counter()
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += n
            if not pc:
                break
            (a, b), n = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if n < min_pair_count:
                break
            rules.append((rank, a, b, a + b, n))
            out = {}
            for syms, cnt in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out[tuple(res)] = out.get(tuple(res), 0) + cnt
            vocab = out
        return rules

    def test_matches_reference_loop(self, spark):
        from kg.ops.subword import bpe_merges

        texts = [
            "low lower lowest low low",
            "new newer newest new",
            "wider wide wide",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = [tuple(r) for r in bpe_merges(df, n_merges=10).collect()]
        assert got == self._ref_bpe(texts, 10)

    def test_self_overlap_pair_greedy_left_to_right(self, spark):
        from kg.ops.subword import bpe_merges

        # 'aaa' with dominant pair (a, a): greedy takes ONE merge per
        # run pair -> ['aa','a','</w>'], the standard BPE semantics
        texts = ["aaa aaa aaa aaaa"]
        df = spark.createDataFrame([(1, texts[0])], "doc_id long, text string")
        got = [tuple(r) for r in bpe_merges(df, n_merges=3).collect()]
        assert got == self._ref_bpe(texts, 3)
        assert got[0][1:4] == ("a", "a", "aa")

    def test_early_stop_below_min_pair_count(self, spark):
        from kg.ops.subword import bpe_merges

        df = spark.createDataFrame(
            [(1, "ab cd ef")], "doc_id long, text string"
        )
        # every pair occurs once -> no rule reaches min_pair_count=2
        assert bpe_merges(df, n_merges=5).count() == 0


class TestMMR:
    def _emb(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_lambda_one_equals_pure_relevance(self, spark):
        from kg.ops.similarity import cosine_topk_bruteforce, mmr_topk
        from pyspark.sql import functions as F

        rows = [
            (0, [1.0, 0.0, 0.1]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.2]),
            (3, [0.5, 0.5, 0.3]),
            (4, [0.1, 0.9, 0.4]),
        ]
        emb = self._emb(spark, rows)
        got = [
            r["vec_id"]
            for r in mmr_topk(emb, query_id=0, k=3, lam=1.0)
            .orderBy("rank")
            .collect()
        ]
        pure = [
            r["neighbor_id"]
            for r in cosine_topk_bruteforce(
                emb, k=3, query_filter=F.col("qid") == 0
            )
            .orderBy("rank")
            .collect()
        ]
        assert got == pure

    def test_diversification_skips_near_duplicate(self, spark):
        from kg.ops.similarity import mmr_topk

        rows = [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.14]),   # most relevant
            (2, [0.98, 0.15]),   # near-duplicate of 1, second by relevance
            (3, [0.5, 0.86]),    # diverse, third by relevance
        ]
        emb = self._emb(spark, rows)
        got = [
            r["vec_id"]
            for r in mmr_topk(emb, query_id=0, k=2, lam=0.3)
            .orderBy("rank")
            .collect()
        ]
        # rank 1 = pure relevance (1); rank 2 skips the duplicate (2)
        # in favor of the diverse vector (3)
        assert got == [1, 3]

    def test_k_exceeding_candidates_returns_all(self, spark):
        from kg.ops.similarity import mmr_topk

        emb = self._emb(spark, [(0, [1.0, 0.0]), (1, [0.5, 0.5])])
        got = mmr_topk(emb, query_id=0, k=10, lam=0.7).collect()
        assert len(got) == 1

    def test_lambda_validation(self, spark):
        import pytest as _pytest

        from kg.ops.similarity import mmr_topk

        emb = self._emb(spark, [(0, [1.0]), (1, [0.5])])
        with _pytest.raises(ValueError):
            mmr_topk(emb, query_id=0, lam=1.5)


class TestReadability:
    def test_known_sentence_counts(self, spark):
        from kg.ops.textstats import readability

        docs = spark.createDataFrame(
            [
                (1, "The cat sat. The dog ran!"),
                (2, "no terminal punctuation here"),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in readability(docs).collect()}
        assert got[1]["n_sentences"] == 2
        assert got[1]["n_words"] == 6
        # the/cat/sat/dog/ran = 1 syllable each -> 6 with 'the' twice
        assert got[1]["n_syllables"] == 6
        # flesch = 206.835 - 1.015*(6/2) - 84.6*(6/6)
        assert got[1]["flesch"] == round(206.835 - 1.015 * 3 - 84.6, 6)
        assert got[2]["n_sentences"] == 1  # floor at one sentence
        assert got[3]["n_words"] == 0 and got[3]["flesch"] is None

    def test_syllable_heuristic_vowel_runs(self, spark):
        from kg.ops.textstats import readability

        docs = spark.createDataFrame(
            [(1, "queueing strength aeiou")], "doc_id long, text string"
        )
        r = readability(docs).first()
        # queueing: ueuei + (no second group... 'queueing' -> q[ueuei]ng
        # = 1 run; strength: e = 1; aeiou: 1 run; min-1 floor unused
        assert r["n_syllables"] == 3

    def test_prose_scores_higher_than_word_soup(self, spark):
        from kg.ops.textstats import readability

        docs = spark.createDataFrame(
            [
                (1, "The cat sat on the mat. It was warm. He slept."),
                (2, "internationalization considerations "
                    "paralellization optimization " * 10),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["flesch"] for r in readability(docs).collect()}
        assert got[1] > got[2]


class TestContrastivePairs:
    def _data(self, spark):
        # cluster A = {0, 1} (near-identical), cluster B = {2, 3};
        # 4 and 5 are singletons
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.999, 0.04]),
            (4, [0.6, 0.6, 0.5]),
            (5, [0.0, 0.0, 1.0]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        from kg.ops.similarity import embedding_cosine_near_dup

        clusters = embedding_cosine_near_dup(emb, threshold=0.99)
        return emb, clusters

    def test_positives_from_cluster_negatives_outside(self, spark):
        from kg.ops.similarity import mine_contrastive_pairs

        emb, clusters = self._data(spark)
        got = mine_contrastive_pairs(
            emb, clusters, k_neg=2, n_candidates=4
        ).collect()
        by_anchor = {}
        for r in got:
            by_anchor.setdefault(r["anchor_id"], []).append(r)
        # only clustered vectors anchor (singletons have no positive)
        assert set(by_anchor) == {0, 1, 2, 3}
        for a, rows in by_anchor.items():
            pos = rows[0]["pos_id"]
            # the positive is the cluster partner
            assert {a, pos} in ({0, 1}, {2, 3})
            for r in rows:
                # negatives never come from the anchor's own cluster
                assert {a, r["neg_id"]} not in ({0, 1}, {2, 3})
        # vector 4 (between clusters) is everyone's hardest negative
        assert by_anchor[0][0]["neg_id"] == 4
        assert by_anchor[2][0]["neg_id"] == 4

    def test_negative_ranks_are_descending_cosine(self, spark):
        from kg.ops.similarity import mine_contrastive_pairs

        emb, clusters = self._data(spark)
        got = mine_contrastive_pairs(
            emb, clusters, k_neg=3, n_candidates=5
        ).collect()
        by_anchor = {}
        for r in got:
            by_anchor.setdefault(r["anchor_id"], []).append(
                (r["neg_rank"], r["neg_cos"])
            )
        for rows in by_anchor.values():
            rows.sort()
            coses = [c for _, c in rows]
            assert coses == sorted(coses, reverse=True)

    def test_no_clusters_no_pairs(self, spark):
        from kg.ops.similarity import mine_contrastive_pairs

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        clusters = spark.createDataFrame(
            [(0, 0), (1, 1)], "vec_id long, component long"
        )
        assert mine_contrastive_pairs(emb, clusters).count() == 0


class TestLangConfusion:
    def test_cells_and_rates(self, spark):
        from kg.ops.textstats import lang_confusion

        docs = spark.createDataFrame(
            [
                (1, "the and is of to", "en"),     # english markers
                (2, "el la de que en", "es"),      # spanish markers
                (3, "the and is of to", "es"),     # mislabeled
                (4, "zzz qqq xxx", "en"),          # no markers -> unknown
            ],
            "doc_id long, text string, lang string",
        )
        got = {
            (r["lang"], r["lang_pred"]): (r["n"], r["n_declared"], r["rate"])
            for r in lang_confusion(docs).collect()
        }
        assert got[("en", "en")] == (1, 2, 0.5)
        assert got[("en", "unknown")] == (1, 2, 0.5)
        assert got[("es", "es")] == (1, 2, 0.5)
        assert got[("es", "en")] == (1, 2, 0.5)

    def test_rates_sum_to_one_per_declared_lang(self, spark):
        from kg.ops.textstats import lang_confusion

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        rows = lang_confusion(docs).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r["rate"])
        for rates in by_lang.values():
            # per-cell rounding to 6 leaves up to n_cells/2 * 1e-6 slack
            assert abs(sum(rates) - 1.0) < 1e-5


class TestGopherRules:
    def test_rule_verdicts_and_first_fail(self, spark):
        from kg.ops.textstats import gopher_rules

        good = "the quick brown fox jumps over that lazy dog and " * 8
        rows = [
            (1, good),                          # passes everything
            (2, "short text"),                  # word_count fail
            (3, "## " * 60),                    # symbol + alpha + stops fail
            (4, "\n".join(["- item " + good] * 5)),  # bullet-heavy lines
            (5, ""),                            # empty
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in
               gopher_rules(df, min_words=10).collect()}
        assert got[1].keep and got[1].first_fail is None
        assert not got[2].keep and got[2].first_fail == "word_count_ok"
        assert not got[3].symbol_ok and not got[3].alpha_ok
        assert not got[3].stop_ok
        assert not got[4].bullet_ok and got[4].first_fail == "bullet_ok"
        assert not got[5].keep and got[5].first_fail == "word_count_ok"

    def test_integer_only_hash_surface(self, spark):
        """No DOUBLE column anywhere in the contract schema (the
        PLANS.md round-4 discipline)."""
        from pyspark.sql import types as T

        from kg.ops.textstats import gopher_rules

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        for f in gopher_rules(df).schema.fields:
            assert not isinstance(f.dataType, (T.DoubleType, T.FloatType))

    def test_pure_map_no_shuffle(self, spark):
        from kg.ops.textstats import gopher_rules

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        p = gopher_rules(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p
        assert "InPandas" not in p and "BatchEvalPython" not in p


class TestParagraphDedupGlobal:
    def test_global_first_occurrence_rule(self, spark):
        from kg.ops.textstats import dedupe_paragraphs_global

        rows = [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta"),          # beta repeats -> dropped here
            (3, "alpha\nalpha\nepsilon"),  # both alphas are non-first
            (4, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in
               dedupe_paragraphs_global(df).collect()}
        assert got[1].text == "alpha\nbeta\ngamma"  # all first occurrences
        assert got[1].n_dropped == 0
        assert got[2].text == "delta" and got[2].n_dropped == 1
        assert got[3].text == "epsilon" and got[3].n_dropped == 2
        assert got[4].text == "" and got[4].n_paragraphs == 0

    def test_whitespace_trim_and_order(self, spark):
        from kg.ops.textstats import dedupe_paragraphs_global

        rows = [(1, "  x  \ny"), (2, "x\nz")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in
               dedupe_paragraphs_global(df).collect()}
        # trimmed 'x' matches across docs; doc 1 keeps it (lower id)
        assert got[1].text == "x\ny"
        assert got[2].text == "z" and got[2].n_dropped == 1

    def test_partition_invariant(self, spark):
        from kg.ops.textstats import dedupe_paragraphs_global

        rows = [(i, f"common\nuniq {i}") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, dedupe_paragraphs_global(df).collect()))
        b = sorted(map(tuple, dedupe_paragraphs_global(
            df.repartition(7)).collect()))
        assert a == b
        keepers = [r for r in a if "common" in r[1]]
        assert len(keepers) == 1 and keepers[0][0] == 0


class TestSemDedup:
    def _emb(self, spark):
        import math
        rows = []
        # three tight groups of 3 + one isolated vector, 4-dim
        for g, base in enumerate([(1.0, 0.0, 0.0, 0.0),
                                  (0.0, 1.0, 0.0, 0.0),
                                  (0.0, 0.0, 1.0, 0.0)]):
            for j in range(3):
                eps = 0.001 * (j + 1)
                v = [b + (eps if i == 3 else 0.0)
                     for i, b in enumerate(base)]
                n = math.sqrt(sum(x * x for x in v))
                rows.append((g * 10 + j, [x / n for x in v]))
        rows.append((99, [0.5, 0.5, 0.5, 0.5]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_groups_collapse_to_min_vid(self, spark):
        from kg.ops.similarity import semdedup

        out = {r.vid: r for r in semdedup(
            self._emb(spark), k=2, rounds=2, min_cos=0.99).collect()}
        assert len(out) == 10
        # each tight group shares a component = its min vid
        for g in (0, 10, 20):
            comps = {out[g + j].component for j in range(3)}
            assert comps == {g}
            assert not out[g].is_dup
            assert out[g + 1].is_dup and out[g + 2].is_dup
        assert out[99].component == 99 and not out[99].is_dup

    def test_partition_invariant(self, spark):
        from kg.ops.similarity import semdedup

        emb = self._emb(spark)
        a = sorted(map(tuple, semdedup(emb, k=2, rounds=2,
                                       min_cos=0.99).collect()))
        b = sorted(map(tuple, semdedup(emb.repartition(5), k=2, rounds=2,
                                       min_cos=0.99).collect()))
        assert a == b

    def test_max_cell_cap_drops_mega_cell_pairs(self, spark):
        # VERDICT r4 item 2: the within-cell self-join applies the
        # count-then-filter cap — an over-cap cell contributes NO pairs
        # (its members come back as singletons), smaller cells dedup
        # exactly as the uncapped run
        from kg.ops.similarity import semdedup

        emb = self._emb(spark)
        uncapped = {r.vid: r for r in semdedup(
            emb, k=2, rounds=2, min_cos=0.99, max_cell=None).collect()}
        capped_all = sorted(map(tuple, semdedup(
            emb, k=2, rounds=2, min_cos=0.99, max_cell=10**6).collect()))
        # generous cap == uncapped (the contract configuration)
        assert capped_all == sorted(map(tuple, uncapped.values()))
        # cap below every cell size: nothing pairs, everyone a singleton
        allcap = semdedup(
            emb, k=2, rounds=2, min_cos=0.99, max_cell=1).collect()
        assert all(r.component == r.vid and not r.is_dup for r in allcap)
        assert len(allcap) == len(uncapped)  # verdict table stays TOTAL

    def test_max_cell_cap_is_broadcast_count_then_filter(self, spark):
        # the cell-census dim must reach the corpus as a BROADCAST join
        # (k-bounded), and the pair stage must stay an equi join — no
        # cartesian anywhere in the capped pair plan (semdedup's CC
        # barrier hides this subtree from the end-to-end plan, so the
        # factored pair stage is asserted directly)
        from kg.ops.similarity import _semdedup_pairs, lloyd_kmeans

        assigned, _ = lloyd_kmeans(self._emb(spark), k=2, rounds=2)
        plan = _semdedup_pairs(
            assigned, min_cos=0.99, max_cell=100,
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestBlocklistFilter:
    def test_label_boundary_and_longest_rule(self, spark):
        from kg.ops.webnorm import blocklist_filter

        urls = [
            "https://spam.test/a",
            "https://blog.spam.test/b",
            "https://notspam.test/c",          # substring trap
            "https://ads.tracker.test/d",
            "https://sub.deep.ads.tracker.test/e",
            "https://tracker.test/f",          # parent of blocked subtree
            "http://SPAM.test:80/g",           # case + port
        ]
        pages = spark.createDataFrame([(u,) for u in urls], "url string")
        bl = spark.createDataFrame(
            [("spam.test",), ("ads.tracker.test",),
             ("deep.ads.tracker.test",)],
            "domain string",
        )
        got = {r.url: r for r in blocklist_filter(pages, bl).collect()}
        assert got[urls[0]].blocked and got[urls[0]].matched_rule == "spam.test"
        assert got[urls[1]].blocked and got[urls[1]].matched_rule == "spam.test"
        assert not got[urls[2]].blocked and got[urls[2]].matched_rule is None
        assert got[urls[3]].matched_rule == "ads.tracker.test"
        # most-specific rule wins
        assert got[urls[4]].matched_rule == "deep.ads.tracker.test"
        assert not got[urls[5]].blocked
        assert got[urls[6]].blocked and got[urls[6]].host == "spam.test"

    def test_dim_broadcast_matched_side_adaptive(self, spark):
        # the blocklist DIM is hint-broadcast (always small); the
        # matched-side join back onto the corpus carries NO forced hint
        # (ADVICE r4: an unconditional broadcast is a driver OOM when a
        # poisoned crawl makes the blocked subset corpus-sized) — AQE
        # picks broadcast at runtime while it is dim-sized
        from kg.ops.webnorm import blocklist_filter

        pages = spark.range(100).select(
            F.concat(F.lit("https://h"), F.col("id"),
                     F.lit(".ex.test/p")).alias("url")
        )
        bl = spark.createDataFrame([("ex.test",)], "domain string")
        df = blocklist_filter(pages, bl)
        static = df._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in static and "BatchEvalPython" not in static
        # no unconditional broadcast of the matched side: the static
        # plan leaves that join to AQE (at most the one corpus-side
        # join is shuffle-planned; the dim join is already broadcast)
        assert static.count("SortMergeJoin") <= 1
        assert "BroadcastExchange" in static  # the blocklist dim hint
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        # runtime: AQE converted the dim-sized matched side to broadcast
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final


class TestFactIntervals:
    def _linked(self, spark):
        import datetime as dt
        e = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
        rows = []
        # fact A: two bursts separated by a >600s gap; B: one burst
        for s in (0, 10, 20, 2000, 2010):
            rows.append((1, "p", 2, e + dt.timedelta(seconds=s)))
        for s in (100, 150):
            rows.append((3, "p", 4, e + dt.timedelta(seconds=s)))
        rows.append((5, "p", None, e))  # half-linked: excluded
        return spark.createDataFrame(
            rows, "subj_id long, pred string, obj_id long, warc_ts timestamp"
        )

    def test_gap_segmentation_and_asof(self, spark):
        import datetime as dt

        from kg.graphstats import fact_intervals

        e = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
        asof = int((e + dt.timedelta(seconds=2005)).timestamp() * 1e6)
        out = fact_intervals(
            self._linked(spark), gap_s=600, asof_us=asof
        ).collect()
        a = sorted([r for r in out if r.subj_id == 1],
                   key=lambda r: r.interval_id)
        assert [r.interval_id for r in a] == [1, 2]
        assert a[0].n_evidence == 3 and a[1].n_evidence == 2
        us = lambda s: int((e + dt.timedelta(seconds=s)).timestamp() * 1e6)  # noqa: E731
        assert (a[0].valid_from_us, a[0].valid_to_us) == (us(0), us(20))
        assert (a[1].valid_from_us, a[1].valid_to_us) == (us(2000), us(2010))
        assert not a[0].active_asof and a[1].active_asof
        b = [r for r in out if r.subj_id == 3]
        assert len(b) == 1 and b[0].n_evidence == 2
        assert not any(r.subj_id == 5 for r in out)

    def test_single_corpus_exchange(self, spark):
        from kg.graphstats import fact_intervals

        p = fact_intervals(self._linked(spark))._jdf.queryExecution()\
            .executedPlan().toString()
        # pre-agg -> window passes -> rollup all reuse one fact-key
        # partitioning: at most the initial exchange appears
        assert p.count("Exchange") <= 2
        assert "InPandas" not in p and "BatchEvalPython" not in p


class TestScriptProfile:
    def test_counts_majority_mixed(self, spark):
        from kg.ops.textstats import script_profile

        rows = [
            (1, "hello world 123"),
            (2, "привет мир hello"),          # cyrillic-majority, mixed
            (3, "你好世界"),
            (4, ""),
            (5, "abcd ё"),                    # tiny second script < 20%? 1*5 >= 4 -> mixed
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in script_profile(df).collect()}
        r1 = got[1]
        assert (r1.n_latin, r1.n_digit) == (10, 3)
        assert r1.majority_script == "latin" and not r1.mixed_script
        r2 = got[2]
        assert r2.n_cyrillic == 9 and r2.n_latin == 5
        assert r2.majority_script == "cyrillic" and r2.mixed_script
        r3 = got[3]
        assert r3.n_cjk == 4 and r3.majority_script == "cjk"
        assert not r3.mixed_script
        r4 = got[4]
        assert r4.majority_script == "other" and not r4.mixed_script
        r5 = got[5]
        assert r5.majority_script == "latin"
        assert r5.mixed_script  # 1 cyrillic char, 5*1 >= 4 latin

    def test_integer_only_contract(self, spark):
        from pyspark.sql import types as T

        from kg.ops.textstats import script_profile

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        for f in script_profile(df).schema.fields:
            assert not isinstance(f.dataType, (T.DoubleType, T.FloatType))

    def test_pure_map(self, spark):
        from kg.ops.textstats import script_profile

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        p = script_profile(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p and "InPandas" not in p


class TestNgramNovelty:
    def test_first_doc_holds_novelty(self, spark):
        from kg.ops.textstats import ngram_novelty

        common = "a b c d e f g h"          # exactly one 8-gram
        rows = [
            (1, common + " i"),              # grams: 2, both first here
            (2, common),                     # its gram first seen in doc 1
            (3, "q r s t u v w x y"),        # 2 novel grams
            (4, "short text"),               # < k tokens
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in ngram_novelty(df, k=8).collect()}
        assert (got[1].n_grams, got[1].n_novel) == (2, 2)
        assert got[1].novelty == 1.0
        assert (got[2].n_grams, got[2].n_novel) == (1, 0)
        assert got[2].novelty == 0.0
        assert (got[3].n_grams, got[3].n_novel) == (2, 2)
        assert (got[4].n_grams, got[4].n_novel) == (0, 0)
        assert got[4].novelty is None

    def test_partition_invariant(self, spark):
        from kg.ops.textstats import ngram_novelty

        rows = [(i, "w0 w1 w2 w3 w4 w5 w6 w7 tail%d" % (i % 3))
                for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, ngram_novelty(df, k=8).collect()))
        b = sorted(map(tuple, ngram_novelty(df.repartition(7),
                                            k=8).collect()))
        assert a == b


class TestContainmentJoin:
    def test_subset_detected_where_jaccard_fails(self, spark):
        from kg.ops.dedup import containment_join

        small = "alpha beta gamma delta"
        big = small + " " + " ".join(f"w{i}" for i in range(36))
        rows = [(1, small), (2, big), (3, "unrelated tokens here")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r.a, r.b): r for r in containment_join(
            df, min_containment=0.8).collect()}
        r = out[(1, 2)]
        assert (r.inter, r.size_a, r.size_b) == (4, 4, 40)
        assert r.containment == 1.0
        # Jaccard of the same pair is 0.1 — resemblance dedup misses it
        assert (1, 3) not in out and (2, 3) not in out

    def test_df_cap_drops_super_tokens(self, spark):
        from kg.ops.dedup import containment_join

        # 'the' appears in every doc; cap at 3 removes it from evidence
        rows = [(i, f"the uniq{i} x{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = containment_join(df, min_containment=0.3, max_df=3).collect()
        assert out == []  # only shared token was capped away


class TestParallelUrlPairs:
    def test_cross_lang_pairs_and_len_gate(self, spark):
        from kg.ops.weblinks import parallel_url_pairs

        rows = [
            ("https://s.test/en/about", "x" * 100),
            ("https://s.test/fr/about", "y" * 150),   # pair, len ok
            ("https://s.test/de/about", "z" * 500),   # pairs, len NOT ok
            ("https://s.test/en/only", "q" * 50),     # no partner
            ("https://s.test/zz/about", "w" * 100),   # unknown lang seg
            ("https://s.test/plain", "p" * 100),      # no lang seg
        ]
        pages = spark.createDataFrame(rows, "url string, text string")
        got = {(r.lang_a, r.lang_b): r
               for r in parallel_url_pairs(pages).collect()}
        assert set(got) == {("en", "fr"), ("de", "en"), ("de", "fr")}
        r = got[("en", "fr")]
        assert r.align_key == "https://s.test/about"
        assert (r.len_a, r.len_b) == (100, 150) and r.len_ok
        assert not got[("de", "en")].len_ok  # 500 vs 100 fails 2x gate

    def test_root_path_aligns(self, spark):
        from kg.ops.weblinks import parallel_url_pairs

        rows = [("https://s.test/en", "aa"), ("https://s.test/fr", "bb")]
        pages = spark.createDataFrame(rows, "url string, text string")
        out = parallel_url_pairs(pages).collect()
        assert len(out) == 1 and out[0].align_key == "https://s.test/"


class TestFactFreshness:
    def test_decay_and_anchors(self, spark):
        import datetime as dt

        from kg.graphstats import fact_freshness

        e = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
        asof = int((e + dt.timedelta(days=4)).timestamp() * 1e6)
        rows = [
            (1, "p", 2, e),                        # 4 days old
            (1, "p", 2, e + dt.timedelta(days=2)),  # one half-life old
            (3, "p", 4, e + dt.timedelta(days=4)),  # fresh
        ]
        df = spark.createDataFrame(
            rows, "subj_id long, pred string, obj_id long, warc_ts timestamp"
        )
        got = {(r.subj_id, r.obj_id): r for r in fact_freshness(
            df, asof_us=asof, half_life_days=2.0).collect()}
        a = got[(1, 2)]
        assert a.n_evidence == 2
        # 2^-2 + 2^-1 = 0.75
        assert abs(a.freshness - 0.75) < 1e-9
        b = got[(3, 4)]
        assert b.n_evidence == 1 and abs(b.freshness - 1.0) < 1e-9
        assert b.last_seen_us == asof
