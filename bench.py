#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline workload (sized so 32 cores have real work):
  extract_triples   100k-page synthetic corpus (disk-cached parquet) ->
                    extract_docs -> SVO triples (the Arrow/pandas path)
  mentions          dictionary+regex mention detection over the same corpus
                    (relational path: explode + broadcast join + windows)
  dedup             exact + shingle signature over the corpus
  ann               brute-force cosine top-k over embeddings
  tpch              pricing summary + region-revenue join over sf tables

Methodology: each workload runs twice — once to warm Python workers / JIT /
page cache, once timed. Steady-state throughput is the metric (a
1000-executor job amortizes startup; a 60-second local run does not).
`value` is the sum of the timed walls; per-query walls in `queries`;
docs/sec throughputs in `extra`. Use bench_scaling.py for the
two-parallelism scaling report.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

BENCH_N = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
BENCH_SENTENCES = (12, 20)
BENCH_SEED = 42


def ensure_corpus() -> str:
    """Generate the bench pages corpus once; reuse across runs/parallelisms
    (both scaling runs must read identical input)."""
    # v2: synth pages gained a deterministic anchor/link structure (text
    # unchanged); versioned path invalidates pre-link cached corpora
    path = Path(f"/tmp/kg_bench_corpus_{BENCH_N}_{BENCH_SEED}_v2.parquet")
    if not path.exists():
        from kg import synth

        pdf = synth.gen_pages(BENCH_N, seed=BENCH_SEED,
                              sentence_range=BENCH_SENTENCES)
        pdf.to_parquet(str(path), index=False)
    return str(path)


def replica_text(text: str, rep: str):
    """Column: the lowercased words of ``text`` with the token
    ``xrep<rep>x`` after every 7th word and after the last one, joined by
    single spaces. Every 8-word window of a replica then holds its marker,
    so no window of original words repeats across replicas. A document
    with no words stays empty."""
    every = 7
    words = F.filter(
        F.split(F.lower(text), r"\s+"), lambda x: x != F.lit("")
    )
    marker = F.concat(F.lit("xrep"), F.col(rep).cast("string"), F.lit("x"))
    marked = F.array_join(
        F.flatten(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.ceil(F.size(words) / every).cast("int") - 1,
                        F.lit(0),
                    ),
                ),
                lambda i: F.concat(
                    F.slice(words, i * every + 1, every), F.array(marker)
                ),
            )
        ),
        " ",
    )
    return F.when(F.size(words) == 0, F.lit("")).otherwise(marked)


def timed_twice(fn) -> float:
    """Run fn once to warm, then twice timed; return the best wall (sec).
    Best-of-2 damps noisy-neighbor interference on this shared box."""
    fn()
    walls = []
    for _ in range(2):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return round(min(walls), 3)


def run_suite(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entry_mod
    from kg.ops.dedup import exact_dedup, shingle_signature_dedup
    from kg.ops.similarity import cosine_topk_bruteforce
    from kg.stages.extract import extract_docs
    from kg.stages.mentions import detect_mentions, gazetteer_dim, regex_dim
    from kg import synth

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    corpus_path = ensure_corpus()
    pages = spark.read.parquet(corpus_path).repartition(cpus * 2).cache()
    n_pages = pages.count()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(cpus).cache()
    emb.count()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {"n_pages": n_pages}

    # --- Arrow path: extract + triples (fused single pass) ---
    from kg.stages.triples import extract_triples_from_pages

    counts: dict[str, int] = {}

    def w_extract():
        counts["triples"] = extract_triples_from_pages(pages).count()

    timings["extract_triples"] = timed_twice(w_extract)
    extra["pipeline_docs_per_sec"] = round(n_pages / timings["extract_triples"], 1)
    extra["triples_per_sec"] = round(counts["triples"] / timings["extract_triples"], 1)
    extra["n_triples"] = counts["triples"]

    # --- relational path: mentions over extracted text ---
    docs_x = extract_docs(pages).select(F.col("url").alias("doc_id"), "text")
    docs_x = docs_x.cache()
    docs_x.count()
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA).cache()
    gaz.count()
    rx = regex_dim(spark, synth.REGEX_DATA).cache()
    rx.count()
    # dim planning is per-JOB state (computed once per dictionary on a real
    # cluster), so it is hoisted out of the timed loop (VERDICT r2 item 1);
    # co_partition=True makes the docs repartition the ONLY corpus-sized
    # shuffle in the tree (aggs/distinct/anti-join all exchange-free).
    from kg.stages.mentions import plan_gazetteer

    gplan = plan_gazetteer(gaz)

    def w_mentions():
        handles: list = []
        counts["mentions"] = detect_mentions(
            docs_x, gaz, rx, id_col="doc_id", cache_handles=handles,
            plan=gplan, co_partition=True,
        ).count()
        for h in handles:  # release the shared subtree between iterations
            h.unpersist()

    timings["mentions"] = timed_twice(w_mentions)
    extra["mentions_docs_per_sec"] = round(n_pages / timings["mentions"], 1)
    extra["n_mentions"] = counts["mentions"]

    # --- linking: alias-dict joins over the skewed triple stream ---
    # (HOT_SUBJECTS hit ~30% of triples; broadcast never shuffles the fact
    # side, salted spreads hot keys — both timed so the skew story has
    # numbers, and their outputs must agree)
    from kg.stages.link import link_triples
    from kg.stages.triples import extract_triples_from_pages

    alias_dim = spark.createDataFrame(synth.alias_df()).cache()
    alias_dim.count()
    triples_cached = extract_triples_from_pages(pages).cache()
    triples_cached.count()

    # payload-forcing aggregates everywhere a bare .count() would let
    # Catalyst eliminate unique-key left joins / prune pure-map columns
    # (see PLANS.md ExactSubstr note: measured 0.5s vs 32s on textops)
    def _force_link(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum("subj_id").alias("_a"),
            F.sum("obj_id").alias("_b"),
            F.sum(F.length("subj_canonical")).alias("_c"),
        ).first()
        return r["n"]

    def w_link():
        counts["linked"] = _force_link(link_triples(triples_cached, alias_dim))

    timings["link_broadcast"] = timed_twice(w_link)

    def w_link_salted():
        counts["linked_salted"] = _force_link(link_triples(
            triples_cached, alias_dim, use_salting=True, n_salts=8
        ))

    timings["link_salted"] = timed_twice(w_link_salted)
    assert counts["linked"] == counts["linked_salted"], "salted != broadcast"
    extra["linked_triples_per_sec"] = round(
        counts["linked"] / timings["link_broadcast"], 1
    )

    # --- KG graph analytics over the extracted triple graph (new r3):
    # pagerank = 4 shuffle-join+agg iterations on the materialized edge
    # list; triangles = degree-ordered wedge join (hub-safe on the
    # head-entity skew this corpus deliberately has) ---
    from kg.graphstats import pagerank, triangle_stats

    kg_edges = triples_cached.select(
        F.xxhash64("subj").alias("src"), F.xxhash64("obj").alias("dst")
    ).cache()
    extra["n_kg_edges"] = kg_edges.count()

    def w_graph():
        # aggregate OVER the rank / triangle payloads: a bare .count()
        # only needs group keys, so Catalyst may prune the per-node
        # rank sum / wedge-count expressions (same honesty rule as the
        # pipeline stages, d391bff)
        pagerank(kg_edges, iterations=4).agg(
            F.count("*").alias("n"), F.sum("rank").alias("_r")
        ).first()
        triangle_stats(kg_edges).agg(
            F.count("*").alias("n"),
            F.sum("triangles").alias("_t"),
            F.sum("lcc").alias("_l"),
        ).first()

    timings["graph"] = timed_twice(w_graph)
    extra["graph_edges_per_sec"] = round(
        2 * extra["n_kg_edges"] / timings["graph"], 1
    )

    # --- KG-embedding training exports over the same edge list (new r3):
    # node2vec biased walks (per-step frontier-degree-mass joins + bounded
    # per-walk window), skip-gram pair counts (array-local + one groupBy),
    # and the unigram^0.75 sampling table (two-phase cumsum + closed-form
    # bin spans). Ids are folded into 2^50 space: the walk-id scheme
    # (node * wpn + i) needs small nonnegative ids, and 638k ids in 2^50
    # collide with p ~ 2e-4 (perturbs the benched workload by nothing). ---
    from kg.ops.kgtrain import (
        node2vec_walks,
        sgns_unigram_table,
        walk_node_counts,
        walk_skipgrams,
    )

    edges50 = kg_edges.select(
        F.pmod(F.col("src"), F.lit(1 << 50)).alias("src"),
        F.pmod(F.col("dst"), F.lit(1 << 50)).alias("dst"),
    )

    def w_kgtrain():
        walks = node2vec_walks(
            edges50, walk_len=4, walks_per_node=1,
            ret_w=1, in_w=4, out_w=2,
        )
        # force the walk payload, not just walk counts
        r = walks.agg(
            F.count("*").alias("n"), F.sum(F.size("walk")).alias("_s")
        ).first()
        counts["walks"] = r["n"]
        r = walk_skipgrams(walks, window=2).agg(
            F.count("*").alias("n"), F.sum("n_pairs").alias("_p")
        ).first()
        counts["sg_pairs"] = int(r["_p"] or 0)
        sgns_unigram_table(
            walk_node_counts(walks), table_size=1 << 16
        ).agg(
            F.count("*").alias("n"),
            # payload-force without overflow: ids are ~2^50 and 64k of
            # them summed raw would pass 2^63 under ANSI
            F.sum(F.pmod(F.col("node_id"), F.lit(1 << 20))).alias("_x"),
        ).first()

    timings["kgtrain"] = timed_twice(w_kgtrain)
    # the corpus-sized object in this stage is the EDGE table (each walk
    # step joins the frontier against all 638k+ edges; skip-grams and the
    # sampling table also scan walk/edge-derived tables) — the synthetic
    # KG has few distinct entities, so a walks/sec denominator measured
    # nothing (VERDICT r3 item 5). n_walks/sg_pairs stay as context.
    extra["kgtrain_edges_per_sec"] = round(
        2 * extra["n_kg_edges"] / timings["kgtrain"], 1
    )
    extra["kgtrain_n_walks"] = counts["walks"]
    extra["kgtrain_sg_pairs"] = counts["sg_pairs"]
    kg_edges.unpersist()

    # --- fact materialization + reasoning over the linked triple stream
    # (new r3): link (broadcast) -> page-ts join -> fact rollup (2
    # exchanges, no join inside fact_evidence) + bounded semi-naive
    # transitive closure over the located_in facts. Corpus-sized input,
    # so scaling-relevant.
    from kg.graphstats import fact_evidence
    from kg.reason import infer_transitive

    page_ts = pages.select("url", "warc_ts")

    def w_facts():
        linked = link_triples(triples_cached, alias_dim).join(page_ts, "url")
        # force the provenance payload (evidence counts, timeline, URL
        # sample) — .count() needs only the (s,p,o) group keys
        r = fact_evidence(linked).agg(
            F.count("*").alias("n"),
            F.sum("n_evidence").alias("_e"),
            F.min("first_seen").alias("_f"),
            F.sum(F.size("sample_urls")).alias("_u"),
        ).first()
        counts["facts"] = r["n"]
        full = link_triples(triples_cached, alias_dim).where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        infer_transitive(full, pred="located_in", max_depth=3).agg(
            F.count("*").alias("n"), F.sum("depth").alias("_d")
        ).first()

    timings["facts"] = timed_twice(w_facts)
    extra["facts_docs_per_sec"] = round(2 * n_pages / timings["facts"], 1)
    extra["n_facts"] = counts["facts"]

    triples_cached.unpersist()

    # --- web link graph over raw page HTML (new r3): pure-map JVM regex
    # extraction (decode + regexp_extract_all + explode, no Python) + one
    # partial-agged host-pair groupBy ---
    from kg.ops.weblinks import extract_links, host_link_graph

    def w_weblinks():
        # sum over dst_url forces the resolve+normalize expressions a
        # bare .count() would prune (row count is fixed by the href
        # explode alone); the host-graph sums force the per-pair
        # countDistinct payloads
        r = extract_links(pages).agg(
            F.count("*").alias("n"),
            F.sum(F.length("dst_url")).alias("_b"),
        ).first()
        counts["links"] = r["n"]
        host_link_graph(pages).agg(
            F.count("*").alias("n"),
            F.sum("n_links").alias("_l"),
            F.sum("n_pages").alias("_p"),
            F.sum("n_targets").alias("_t"),
        ).first()

    timings["weblinks"] = timed_twice(w_weblinks)
    extra["weblinks_pages_per_sec"] = round(2 * n_pages / timings["weblinks"], 1)
    extra["n_links"] = counts["links"]

    # --- lexical ranking over the full bench corpus (new r3): BM25 with
    # pre-shuffle query-term pruning + top-V vocab, both off one
    # postings shuffle shape ---
    from kg.ops.ranking import bm25_search, corpus_vocab

    from kg.ops.ranking import near_search
    from kg.ops.textstats import readability

    def w_ranking():
        # the rank orderings already force cf/score computation; the sums
        # keep the final projection unprunable for uniformity
        corpus_vocab(docs_x, top_v=1000, id_col="doc_id").agg(
            F.count("*").alias("n"), F.sum("cf").alias("_c")
        ).first()
        bm25_search(
            docs_x, ["alice", "paris", "acme"], top_n=100, id_col="doc_id"
        ).agg(F.count("*").alias("n"), F.sum("score").alias("_s")).first()
        # NEAR/8 proximity (new key 2026-08-21): corpus-pruned postings
        # + bucketed band semi-join — the same postings scan shape with
        # the band join on top
        near_search(
            docs_x, ["table", "join"], window=8, id_col="doc_id"
        ).agg(F.count("*").alias("n"), F.sum("n_anchors").alias("_a")).first()
        # Flesch readability (new key 2026-08-21): pure-map triple regexp
        # scan over the corpus
        readability(docs_x, id_col="doc_id").agg(
            F.count("*").alias("n"), F.sum("n_syllables").alias("_y"),
            F.sum("flesch").alias("_f"),
        ).first()

    timings["ranking"] = timed_twice(w_ranking)
    extra["ranking_docs_per_sec"] = round(4 * n_pages / timings["ranking"], 1)

    # --- TextRank keyword salience (new key 2026-08-20: corpus-sized
    # pair scan + one pair groupBy; the power iterations run on the
    # vocab-sized co-occurrence graph, a fixed cost) ---
    from kg.ops.ranking import textrank_keywords

    def w_textrank():
        textrank_keywords(docs_x, window=2, iterations=4).agg(
            F.count("*").alias("n"), F.sum("rank").alias("_r")
        ).first()

    timings["textrank"] = timed_twice(w_textrank)
    extra["textrank_docs_per_sec"] = round(
        n_pages / timings["textrank"], 1
    )

    # --- temporal ops over the sf events table (new r3) ---
    from kg.ops.temporal import asof_join, time_rollup

    events_b = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    n_events = events_b.count()
    extra["n_events"] = n_events

    def w_temporal():
        purchases = events_b.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        clicks = events_b.where(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        asof_join(purchases, clicks, keys=["user_id"],
                  right_cols=["value"]).agg(
            F.count("*"), F.sum("r_value")).first()
        # force the per-bucket measures — .count() needs only the
        # (grain, bucket, dims) keys and prunes the sum/min/max payload
        time_rollup(events_b, dims=["event_type"],
                    grains=("hour", "day")).agg(
            F.count("*").alias("n"),
            F.sum("sum_value").alias("_s"),
            F.min("min_value").alias("_m"),
        ).first()

    timings["temporal"] = timed_twice(w_temporal)
    extra["temporal_events_per_sec"] = round(
        2 * n_events / timings["temporal"], 1
    )
    events_b.unpersist()

    # --- dedup ---
    def w_dedup():
        exact_dedup(docs_x).agg(
            F.count("*"), F.sum("n_docs"), F.min("keep_id")
        ).first()
        shingle_signature_dedup(docs_x).agg(
            F.count("*"), F.count_distinct("shingle_sig")
        ).first()

    timings["dedup"] = timed_twice(w_dedup)
    extra["dedup_docs_per_sec"] = round(2 * n_pages / timings["dedup"], 1)

    # --- boilerplate line removal (CCNet-style): corpus-wide line
    # document-frequency + anti-join + per-doc reassembly — three
    # corpus-sized shuffles over the extracted text, scaling-relevant.
    # At the bench corpus size the stage finishes in well under a second
    # and the low/high walls are dominated by per-job launch overhead
    # (window 2026-08-18T14:51 measured a meaningless 0.436 'efficiency'
    # on 0.4-0.7s walls), so the stage input is replicated BOILER_REPL
    # times with distinct doc ids — same operator, bigger corpus, and the
    # throughput denominator counts the replicated docs ---
    from kg.ops.textstats import remove_boilerplate_lines

    boiler_repl = int(os.environ.get("SPARK_GRAFT_BOILER_REPL", "16"))
    docs_boiler = docs_x
    if boiler_repl > 1:
        docs_boiler = docs_x.crossJoin(
            spark.range(boiler_repl).select(F.col("id").alias("_rep"))
        ).select(
            F.concat_ws("#", "doc_id", "_rep").alias("doc_id"), "text"
        )
    n_boiler_docs = n_pages * boiler_repl

    def w_boilerplate():
        counts["boilerplate"] = remove_boilerplate_lines(
            docs_boiler, id_col="doc_id", min_docs=8 * boiler_repl
        ).agg(
            F.count("*").alias("n"), F.sum(F.length("clean_text"))
        ).first()["n"]

    timings["boilerplate"] = timed_twice(w_boilerplate)
    extra["boilerplate_docs_per_sec"] = round(
        n_boiler_docs / timings["boilerplate"], 1
    )
    extra["boilerplate_n_docs"] = n_boiler_docs

    # --- curation: the training-data layout ladder over the full corpus
    # (sliding-window chunking + concat-and-chunk packing + hash split);
    # chunk/split are pure narrow maps, packing is one window-by-shard
    # shuffle — all corpus-sized, so this is a scaling-relevant stage
    from kg.ops.curation import (
        chunk_documents,
        pack_sequences,
        train_val_test_split,
    )

    # Same sizing fix as boilerplate (VERDICT r2 noted the ~2-3s
    # high-parallelism wall made the curation row measure job launches,
    # not the operators): replicate the stage input with distinct doc
    # ids so parallel work dominates both legs' walls.
    cur_repl = int(os.environ.get("SPARK_GRAFT_CURATION_REPL", "8"))
    docs_cur = docs_x
    if cur_repl > 1:
        docs_cur = docs_x.crossJoin(
            spark.range(cur_repl).select(F.col("id").alias("_rep"))
        ).select(
            F.concat_ws("#", "doc_id", "_rep").alias("doc_id"), "text"
        )
    n_cur_docs = n_pages * cur_repl

    def w_curation():
        chunk_documents(docs_cur, chunk_len=64, overlap=16,
                        id_col="doc_id").agg(
            F.count("*"), F.sum(F.length("chunk_text")),
            F.sum("n_tokens")).first()
        pack_sequences(docs_cur, seq_len=2048, n_shards=cpus * 2,
                       id_col="doc_id").agg(
            F.count("*"), F.sum("chunk_id")).first()
        train_val_test_split(docs_cur, id_col="doc_id").agg(
            F.count("*"), F.sum("u"),
            F.count_distinct("split")).first()

    timings["curation"] = timed_twice(w_curation)
    extra["curation_docs_per_sec"] = round(
        3 * n_cur_docs / timings["curation"], 1
    )
    extra["curation_n_docs"] = n_cur_docs

    # --- LM quality scoring: train the add-k bigram LM on the full corpus
    # and score every doc under it (the CCNet-style perplexity-bucket
    # filter). Train = one token-count shuffle + one pair-count shuffle;
    # score = broadcast model joins + one per-doc agg — all corpus-sized,
    # so this is a scaling-relevant stage. The vocab dim and the count
    # table are per-job state a production run persists once: cached /
    # materialized inside the timed fn (their build IS part of the wall),
    # released between iterations.
    from kg.ops.lm import lm_score, lm_vocab, train_bigram_lm
    from kg.session import materialize

    def w_lm():
        vocab = lm_vocab(docs_x, vocab_size=4096).cache()
        vocab.count()
        bg = materialize(train_bigram_lm(docs_x, vocab))
        r = lm_score(docs_x, bg, vocab).agg(
            F.count("*").alias("n"), F.sum("avg_logp"), F.sum("n_bigrams")
        ).first()
        counts["lm"] = r["n"]
        vocab.unpersist()

    timings["lm"] = timed_twice(w_lm)
    extra["lm_docs_per_sec"] = round(n_pages / timings["lm"], 1)

    # --- text ops (round 3): ExactSubstr removal (gram-count shuffle +
    # two id shuffles, all JVM) + subword tokenization (the Python matcher
    # touches only the distinct-word dim; corpus side = one shared token
    # pass + broadcast join + one partial-agged per-doc sum). Both
    # corpus-sized -> scaling-relevant. ---
    from kg.ops.dedup import remove_duplicate_substrings
    from kg.ops.subword import subword_tokenize, subword_vocab

    # the piece vocab is per-job state (a production tokenizer is trained
    # once and applied to every batch — same hoist disposition as the
    # gazetteer plan): train it AND collect the piece list outside the
    # timed loop, time the APPLICATION (distinct-word dim + Arrow matcher
    # + broadcast join + per-doc agg) plus the substring removal
    sw_vocab = materialize(subword_vocab(docs_x))
    sw_pieces = [r["piece"] for r in sw_vocab.select("piece").collect()]

    # SPARK_GRAFT_TEXTOPS_FRAC < 1 keeps a deterministic hash-slice (the
    # near_dup discipline: identical rows at any parallelism); the
    # denominator counts the sliced docs.
    to_frac = float(os.environ.get("SPARK_GRAFT_TEXTOPS_FRAC", "1.0"))
    docs_to = docs_x
    to_pages = n_pages
    if to_frac < 1.0:
        docs_to = docs_x.where(
            F.pmod(F.xxhash64(F.lit(11), "doc_id"), F.lit(1000))
            < int(to_frac * 1000)
        )
        to_pages = docs_to.count()
        extra["textops_n_docs"] = to_pages
    # SPARK_GRAFT_TEXTOPS_REPL > 1 replicates the stage input with
    # distinct doc ids (same sizing fix as boilerplate/curation: the
    # subword op's ~3s high-parallelism wall is half fixed cost — Arrow
    # dim-job startup + broadcast + job launches — which a corpus-sized
    # production batch amortizes; the replicated corpus measures the
    # operators, not the launches). Denominator counts replicated docs.
    to_repl = int(os.environ.get("SPARK_GRAFT_TEXTOPS_REPL", "1"))
    if to_repl > 1:
        # r5 (ADVICE r4): verbatim replicas made EVERY gram in copies
        # 1..n an exact duplicate of copy 0, so the substring-removal leg
        # measured a pathological near-all-duplicate rewrite profile
        # while docs/sec counted replicated docs. Replicas now get a
        # rep-specific marker token every k-1=7 words: no 8-token window
        # of original words survives intact in a replica, so CROSS-
        # REPLICA gram duplication is eliminated while copy 0 keeps the
        # corpus's natural dup mass — the replication sizes the stage
        # without reshaping the operator's duplicate profile. (walls
        # comparable only from r5 windows on)
        docs_to = docs_to.crossJoin(
            spark.range(to_repl).select(F.col("id").alias("_rep"))
        ).select(
            F.concat_ws("#", "doc_id", "_rep").alias("doc_id"),
            F.when(F.col("_rep") == 0, F.col("text"))
            .otherwise(replica_text("text", "_rep"))
            .alias("text"),
        )
        to_pages = to_pages * to_repl
        extra["textops_n_docs"] = to_pages
        # the replica-marking expression above is INPUT PREP (split +
        # per-chunk slices + rejoin over every replica) — materialize it
        # once so the timed loop measures the operators, not the corpus
        # synthesis (the unperturbed crossJoin was too cheap to matter;
        # the marked one is not)
        docs_to = docs_to.localCheckpoint()

    # .count() would let Catalyst prune the rewrite columns (and
    # eliminate the unique-key left joins entirely) — aggregate OVER the
    # payload columns instead so the full operator runs
    def w_textops():
        # arrow_grams=True is the measured production recommendation
        # (BENCH/AB_TEXTOPS_r5.md: 1.42x full-op wall win at both
        # parallelisms, eff 0.92, bit-identical keys); the JVM venue
        # stays the library default and the A/B switch
        r = remove_duplicate_substrings(docs_to, k=8, arrow_grams=True).agg(
            F.count("*").alias("n"),
            F.sum(F.length("text_clean")).alias("_b"),
        ).first()
        counts["substring_rm"] = r["n"]
        r = subword_tokenize(docs_to, pieces=sw_pieces).agg(
            F.count("*").alias("n"), F.sum("n_subwords").alias("_s")
        ).first()
        counts["subword"] = r["n"]

    timings["textops"] = timed_twice(w_textops)
    extra["textops_docs_per_sec"] = round(
        2 * to_pages / timings["textops"], 1
    )

    # --- markup/text miners: timex + quantities + Hearst patterns —
    # three full-corpus regex scans (pure map, zero shuffle; the scan IS
    # the 100-TB cost — matches on this corpus are rare, which is the
    # realistic crawl profile). Payload aggregates force the normalize
    # arithmetic, not just the match count ---
    from kg.ops.taxonomy import hearst_pairs
    from kg.ops.timex import extract_measures, extract_timex

    def w_miners():
        extract_timex(docs_x, id_col="doc_id").agg(
            F.count("*").alias("n"), F.sum(F.length("iso")).alias("_b")
        ).first()
        extract_measures(docs_x, id_col="doc_id").agg(
            F.count("*").alias("n"), F.sum("value_si").alias("_v")
        ).first()
        hearst_pairs(docs_x, id_col="doc_id").agg(
            F.count("*").alias("n"), F.sum(F.length("hypo")).alias("_h")
        ).first()

    timings["miners"] = timed_twice(w_miners)
    extra["miners_docs_per_sec"] = round(3 * n_pages / timings["miners"], 1)

    # --- near-dup: capped banded MinHash + exact-Jaccard verify + CC over
    # the full corpus (production config: 16x4 bands, max_bucket=64).
    # SPARK_GRAFT_NEARDUP_FRAC < 1 keeps a deterministic hash-slice of the
    # corpus (same rows at ANY parallelism — the scaling bench needs both
    # legs to read identical input; .limit() would not guarantee that) ---
    from kg.ops.dedup import minhash_near_dup

    nd_frac = float(os.environ.get("SPARK_GRAFT_NEARDUP_FRAC", "1.0"))
    docs_h = docs_x.select(
        F.xxhash64("doc_id").alias("doc_id"), "text"
    )
    nd_pages = n_pages
    if nd_frac < 1.0:
        docs_h = docs_h.where(
            F.pmod(F.xxhash64(F.lit(7), "doc_id"), F.lit(1000))
            < int(nd_frac * 1000)
        )
        nd_pages = docs_h.count()
        extra["near_dup_n_docs"] = nd_pages

    def w_near_dup():
        counts["near_dup"] = minhash_near_dup(docs_h, min_jaccard=0.8).count()

    timings["near_dup"] = timed_twice(w_near_dup)
    extra["near_dup_docs_per_sec"] = round(nd_pages / timings["near_dup"], 1)

    # --- ANN ---
    def w_ann():
        cosine_topk_bruteforce(emb, k=10, query_filter=F.col("qid") < 64).count()

    timings["ann"] = timed_twice(w_ann)

    # --- ANN via capped sign-LSH (blocking + exact re-rank) ---
    from kg.ops.similarity import ann_lsh_topk

    def w_ann_lsh():
        ann_lsh_topk(
            emb, k=10, n_bits=4, n_bands=32, query_filter=F.col("qid") < 64
        ).count()

    timings["ann_lsh"] = timed_twice(w_ann_lsh)

    # --- PQ train + ADC search (new key 2026-08-20: fixed-cost-heavy
    # at this vector count — Lloyd rounds are driver-synchronized jobs —
    # reported for completeness like ann_lsh, not as scaling evidence) ---
    from kg.ops.similarity import pq_adc_topk, pq_train

    def w_pq():
        codes, books = pq_train(emb, m_sub=4, k=8, rounds=2)
        pq_adc_topk(
            emb.where(F.col("vec_id") < 64), codes, books, m_sub=4, topk=10
        ).agg(F.count("*").alias("n"), F.sum("d2").alias("_d")).first()

    timings["pq"] = timed_twice(w_pq)

    # --- relational TPC-H-ish ---
    def w_tpch():
        # .count() = distinct (returnflag, linestatus) — it prunes all
        # seven pricing-summary aggregates; sum the payload instead
        entry_mod.q_tpch_pricing_summary(spark, sf_dir).agg(
            F.count("*").alias("n"),
            F.sum("sum_disc_price").alias("_p"),
            F.sum("count_order").alias("_c"),
        ).first()
        entry_mod.q_region_revenue(spark, sf_dir).agg(
            F.count("*").alias("n"), F.sum("revenue").alias("_r")
        ).first()

    timings["tpch"] = timed_twice(w_tpch)

    docs_x.unpersist()
    pages.unpersist()
    return {"timings": timings, "extra": extra}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    from kg.session import get_spark

    load_start = os.getloadavg()[0]  # shared box: record neighbor pressure
    spark = get_spark(master=master, app_name="kg-bench",
                      shuffle_partitions=max(int(cpus) * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    result = run_suite(spark, sf_dir)
    spark.stop()
    result["extra"]["loadavg_start"] = round(load_start, 2)
    result["extra"]["loadavg_end"] = round(os.getloadavg()[0], 2)

    total = round(sum(result["timings"].values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "kg_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": result["timings"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extra": {**result["extra"], "master": master},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
