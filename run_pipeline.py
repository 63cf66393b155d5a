#!/usr/bin/env python
"""KG-construction pipeline driver (spark-submit entry).

Usage (local):
    python run_pipeline.py --pages /path/pages.parquet --out /tmp/kg_out \
        --buckets 32 [--resume] [--salted-linking]

Usage (cluster):
    zip -r kg.zip kg
    spark-submit --py-files kg.zip run_pipeline.py --pages s3://... --out s3://...

Stages (extract, links, mentions, triples and link write their tables
checkpointed per url_hash_bucket; see kg/checkpoint.py):
  extract   pages -> docs (Arrow mapInPandas, byte-identical extraction)
  links     pages -> hyperlink table (pure-map anchor extraction +
            URL resolution/normalization), plus derived link_host_graph,
            crawl_frontier (robots-gated when --robots is set) and
            url_templates (crawler-trap report) rollup tables
  mentions  docs -> dictionary/regex mentions (relational, broadcast joins)
  triples   docs -> OpenIE SVO triples (Arrow mapInPandas); with
            --markup, embedded JSON-LD + <table> triples union in
            (dual-channel ingest, conf 1.0)
  link      triples + alias dict -> linked triples (broadcast or salted join)
  canon     linked surfaces -> canonical entities (MinHash-LSH + CC)
  graph     final (subj, pred, obj) materialization, partitioned by
            (pred, url_hash_bucket)
  facts     graph -> facts with provenance (evidence/doc counts,
            first/last-seen, bounded URL sample) + bounded transitive
            closure (facts_inferred) + induced entity types
  curate    docs -> training-corpus verdict table (quality filter ->
            exact dedup -> per-host cap; derived overwrite table,
            opt-in via --stages)
  clean     docs -> docs_clean (ftfy-lite normalization + intra-doc
            paragraph dedup; pure-map derived table, opt-in)
  filter    docs -> gopher_verdicts (full Gopher rule ladder per doc)
            + host_quality (per-host rollup with dominant failure
            mode) + corpus-wide cleanup exports: docs_deboiler
            (CCNet-style cross-doc line boilerplate removal) and
            docs_para_global (cross-doc paragraph dedup); all derived
            overwrite tables (global decisions span buckets), opt-in
  kgtrain   graph -> KG-embedding training exports (filtered negatives,
            node2vec walk corpus, skip-gram counts, unigram^0.75
            sampling table; opt-in via --stages)
  analytics graph -> pagerank / degree stats / triangle+clustering tables
            (KG consumption layer, kg/graphstats.py)

Every stage reads its inputs from the tables under --out, so any --stages
subset runs once the tables it reads exist; otherwise the run stops with a
message naming the missing table. The bucketed stages resume per bucket
(a bucket with a lineage row under the same options is skipped); every
other table is rewritten whole on each run.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

# every stage, in the order main runs them
STAGES = (
    "extract", "links", "mentions", "triples", "link", "canon", "curate",
    "clean", "filter", "rewrite", "graph", "facts", "kgtrain", "analytics",
)
# stages left out of the default --stages list
OPT_IN = ("curate", "clean", "filter", "rewrite", "kgtrain")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True, help="input pages parquet path")
    p.add_argument("--out", required=True, help="output base directory")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--salted-linking", action="store_true")
    p.add_argument(
        "--coref", action="store_true",
        help="rewrite pronoun triples to agreed antecedents before linking",
    )
    p.add_argument("--n-salts", type=int, default=16)
    p.add_argument("--alias-dict", default=None, help="alias dict parquet (default: built-in fixture dict)")
    p.add_argument(
        "--markup", action="store_true",
        help="also extract triples from embedded JSON-LD and <table> "
        "markup (dual-channel ingest) and union them into the triple "
        "stream before linking",
    )
    p.add_argument(
        "--robots", default=None,
        help="(host, body) robots.txt parquet; when set, the crawl "
        "frontier is filtered by its User-agent:* Disallow rules",
    )
    p.add_argument(
        "--stages",
        default=",".join(s for s in STAGES if s not in OPT_IN),
        help=f"comma list of stages to run, from {','.join(STAGES)} "
        f"(default: all but {','.join(OPT_IN)})",
    )
    p.add_argument(
        "--max-docs-per-host", type=int, default=1000,
        help="per-host contribution cap for the curate stage",
    )
    args = p.parse_args(argv)
    args.stages = {s.strip() for s in args.stages.split(",")}
    unknown = args.stages.difference(STAGES)
    if unknown:
        p.error(
            f"unknown --stages name(s): {', '.join(map(repr, sorted(unknown)))}"
            f"; valid names: {', '.join(STAGES)}"
        )
    return args


def run_config(args) -> dict:
    """The options that change what the bucketed stages write: a committed
    bucket is only reused by a run with the same values."""
    keys = ("salted_linking", "pages", "markup", "coref", "alias_dict", "n_salts")
    return {k: getattr(args, k) for k in keys}


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])
    from pyspark.sql import functions as F

    from kg import synth
    from kg.checkpoint import CheckpointedPipeline, add_bucket
    from kg.session import get_spark
    from kg.stages.canon import canonicalize_aliases
    from kg.stages.extract import extract_docs
    from kg.stages.link import link_triples, norm_surface_col
    from kg.stages.mentions import detect_mentions, gazetteer_dim, regex_dim
    from kg.stages.triples import extract_svo_triples

    from pyspark.sql import SparkSession

    # embedding-safe: only stop the session if this run created it
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, app_name="kg-pipeline")
    stages = args.stages
    t_start = time.monotonic()

    pipe = CheckpointedPipeline(
        spark, args.out, n_buckets=args.buckets, run_config=run_config(args)
    )

    def read(name, stage):
        if not Path(pipe.stage_output_path(name)).exists():
            sys.exit(
                f"run_pipeline: stage {stage!r} reads table {name!r}, which "
                f"is not under {args.out}; run the stage that writes it first"
            )
        return pipe.read_stage(name)

    def save(name, df, *partition_cols):
        # STATIC overwrite (the checkpoint pipeline sets the session to
        # dynamic): every table written here is a full recompute, so the
        # whole table is replaced, partitions this run does not write too
        df.write.partitionBy(*partition_cols).option(
            "partitionOverwriteMode", "static"
        ).mode("overwrite").parquet(pipe.stage_output_path(name))

    def alias_dim():
        if args.alias_dict:
            return spark.read.parquet(args.alias_dict)
        return spark.createDataFrame(synth.alias_df())

    def hosted(docs):
        from kg.ops.webnorm import normalize_urls

        return normalize_urls(docs.select("url", "text")).select(
            "url", "text", "host"
        )

    pages = add_bucket(spark.read.parquet(args.pages), args.buckets)

    if "extract" in stages:
        pipe.run_stage(
            "docs",
            pages.select("url", "html", "lang", "url_hash_bucket"),
            lambda df: extract_docs(df).join(
                df.select("url", "url_hash_bucket"), "url"
            ),
        )

    if "links" in stages:
        from kg.ops.weblinks import aggregate_host_graph, extract_links
        from kg.ops.webnorm import normalize_urls

        links = pipe.run_stage(
            "links",
            pages.select("url", "html", "url_hash_bucket"),
            lambda df: extract_links(df).join(
                df.select(F.col("url").alias("src_url"), "url_hash_bucket"),
                "src_url",
            ),
        )
        # derived rollups off the checkpointed links table (tiny next to
        # the links themselves; recomputed cheaply on every run)
        save("link_host_graph", aggregate_host_graph(links))
        crawled = normalize_urls(pages.select("url")).select(
            F.col("url_norm").alias("dst_url")
        )
        frontier = (
            links.join(crawled, "dst_url", "left_anti")
            .groupBy("dst_url")
            .agg(
                F.countDistinct("src_url").alias("n_referrers"),
                F.count(F.lit(1)).alias("n_links"),
            )
        )
        if args.robots:
            # politeness gate: (host, body) robots.txt table -> Disallow
            # prefix rules, one broadcast anti-join over the frontier
            from kg.ops.weblinks import (
                robots_filter_frontier,
                robots_rules,
            )

            rules = robots_rules(spark.read.parquet(args.robots))
            frontier = robots_filter_frontier(
                frontier, rules, url_col="dst_url"
            )
        save("crawl_frontier", frontier)
        # crawler-trap / URL-shape report over everything this crawl saw
        # (page urls + normalized link targets) — pure map + one groupBy
        from kg.ops.webnorm import url_templates

        save("url_templates", url_templates(
            pages.select("url").unionByName(
                links.select(F.col("dst_url").alias("url"))
            ),
            min_count=2,
        ))

    if "mentions" in stages:
        from kg.stages.mentions import plan_gazetteer

        gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
        rx = regex_dim(spark, synth.REGEX_DATA)
        gplan = plan_gazetteer(gaz)  # per-job dim planning, once
        pipe.run_stage(
            "mentions",
            read("docs", "mentions"),
            lambda df: detect_mentions(
                df.select("url", "text"), gaz, rx,
                plan=gplan, co_partition=True,
            ).join(
                df.select("url", "url_hash_bucket").distinct(), "url"
            ),
        )

    if "triples" in stages:

        def _trip(df):
            t = extract_svo_triples(df.select("url", "text"))
            if args.markup:
                # dual-channel ingest: embedded JSON-LD + <table> markup
                # join the prose SVO stream (conf 1.0 — asserted
                # structure, not inferred prose). The inner join on the
                # bucket's urls below keeps per-bucket resumability.
                from kg.ops.structured import (
                    extract_jsonld_blocks,
                    jsonld_triples,
                    table_triples,
                )

                mk = (
                    jsonld_triples(
                        extract_jsonld_blocks(pages), emit_type=False
                    )
                    .unionByName(
                        table_triples(pages).select(
                            "url", "subj", "pred", "obj"
                        )
                    )
                    .withColumn("conf", F.lit(1.0))
                )
                t = t.unionByName(mk)
            return t.join(
                df.select("url", "url_hash_bucket").distinct(), "url"
            )

        pipe.run_stage("triples", read("docs", "triples"), _trip)

    if "link" in stages:

        def _prep(df):
            t = df.select("url", "subj", "pred", "obj", "conf")
            if args.coref:
                # recover pronoun facts before linking: NER mentions ->
                # nearest-preceding antecedent -> agreement-gated rewrite
                from kg.reason import (
                    resolve_pronouns,
                    rewrite_pronoun_triples,
                )
                from kg.stages.triples import detect_ner_mentions

                docs = read("docs", "link")
                d = docs.select("url", "text").join(
                    pages.select("url", "lang"), "url"
                )
                res = resolve_pronouns(
                    docs.select("url", "text"), detect_ner_mentions(d)
                )
                t = rewrite_pronoun_triples(t, res).drop("coref_rewritten")
            return link_triples(
                t,
                alias_dim(),
                use_salting=args.salted_linking,
                n_salts=args.n_salts,
            ).join(df.select("url", "url_hash_bucket").distinct(), "url")

        pipe.run_stage("linked", read("triples", "link"), _prep)

    if "canon" in stages:
        # alias universe = dictionary aliases ∪ unlinked corpus surfaces
        linked = read("linked", "canon")
        surfaces = (
            linked.select(F.col("subj").alias("alias"))
            .union(linked.select(F.col("obj").alias("alias")))
            .distinct()
            .withColumn("alias_norm", norm_surface_col("alias"))
        )
        universe = alias_dim().select("alias", "alias_norm").union(surfaces).distinct()
        save("entities_canonical", canonicalize_aliases(universe))

    if "curate" in stages:
        # training-corpus verdict over the extracted docs: quality filter ->
        # exact dedup -> per-host cap. A GLOBAL decision (dedup/cap span
        # buckets), so like the link rollups it is a derived overwrite
        # table recomputed off the checkpointed docs stage, not a
        # per-bucket-resumable stage.
        from kg.ops.curation import curate_corpus

        save("corpus_kept", curate_corpus(
            hosted(read("docs", "curate")), id_col="url", group_col="host",
            max_per_group=args.max_docs_per_host,
        ))

    if "clean" in stages:
        # ftfy-lite normalization + intra-doc paragraph dedup over the
        # extracted docs — both PURE MAPS (per-row decisions, no global
        # state), but written as one derived overwrite table so the
        # downstream curate/rewrite stages can point at docs_clean
        # instead of docs without re-running extraction.
        # ORDER MATTERS: paragraph dedup first (it keys on the raw
        # \n\n separators), THEN normalization (whose whitespace
        # collapse would otherwise erase the paragraph structure)
        from kg.ops.textstats import dedupe_paragraphs, normalize_text

        deduped = dedupe_paragraphs(
            read("docs", "clean").select("url", "text"), id_col="url"
        )
        save("docs_clean", normalize_text(
            deduped.select("url", "text"), id_col="url"
        ).join(
            deduped.select("url", "n_paragraphs", "n_dropped"), "url"
        ))

    if "filter" in stages:
        # Gopher-ladder verdicts + per-host quality rollup + the
        # corpus-wide cleanup rungs (r4/r5 operators). All GLOBAL
        # decisions (line/paragraph frequency and host aggregation span
        # buckets), so like curate they are derived overwrite tables
        # recomputed off the checkpointed docs stage.
        from kg.ops.textstats import (
            dedupe_paragraphs_global,
            gopher_rules,
            quality_rollup,
            remove_boilerplate_lines,
        )

        docs = read("docs", "filter").select("url", "text")
        save("gopher_verdicts", gopher_rules(docs, id_col="url"))
        save("host_quality", quality_rollup(
            hosted(docs), group_col="host", id_col="url"
        ))
        save("docs_deboiler", remove_boilerplate_lines(docs, id_col="url"))
        save("docs_para_global", dedupe_paragraphs_global(docs, id_col="url"))

    if "rewrite" in stages:
        # ExactSubstr-rewritten corpus + subword fertility stats — the
        # training-data exports (global like curate: the dup decision and
        # the piece vocab span buckets, so both are derived overwrite
        # tables off the checkpointed docs stage).
        from kg.ops.dedup import remove_duplicate_substrings
        from kg.ops.subword import subword_tokenize

        docs = read("docs", "rewrite").select("url", "text")
        save("corpus_rewritten", remove_duplicate_substrings(docs, k=8, id_col="url"))
        save("subword_stats", subword_tokenize(docs, id_col="url"))

    if "graph" in stages:
        canon = read("entities_canonical", "graph")
        # min entity_id per norm — dropDuplicates keeps an arbitrary row and
        # would make the graph output partitioning-dependent
        alias_to_entity = (
            canon.select(
                F.col("entity_id").alias("_eid"), F.explode("aliases").alias("alias")
            )
            .withColumn("alias_norm", norm_surface_col("alias"))
            .groupBy("alias_norm")
            .agg(F.min("_eid").alias("_eid"))
        )
        g = read("linked", "graph")
        for side in ("subj", "obj"):
            g = g.withColumn(f"{side}_norm", norm_surface_col(side)).join(
                F.broadcast(
                    alias_to_entity.select(
                        F.col("alias_norm").alias(f"{side}_norm"),
                        F.col("_eid").alias(f"{side}_entity"),
                    )
                ),
                f"{side}_norm",
                "left",
            )
        save("graph", g.select(
            "subj", "pred", "obj", "url", "conf",
            "subj_entity", "obj_entity", "url_hash_bucket",
        ), "pred", "url_hash_bucket")

    if "facts" in stages:
        # fact materialization + reasoning over the graph table: facts
        # with provenance (evidence/doc counts, first/last-seen, bounded
        # URL sample), bounded transitive closure, induced entity types.
        # Global aggregations (facts span buckets), so like analytics
        # these are derived overwrite tables off the checkpointed graph.
        from kg.graphstats import fact_evidence
        from kg.reason import induce_entity_types, infer_transitive

        g = read("graph", "facts")
        linked_g = g.select(
            "url",
            "subj",
            "pred",
            "obj",
            F.col("subj_entity").alias("subj_id"),
            F.col("obj_entity").alias("obj_id"),
        )
        with_ts = linked_g.join(pages.select("url", "warc_ts"), "url")
        # partition the standing fact table by predicate: per-pred scans
        # (closure, conflict resolution, per-relation exports) prune at
        # the directory level instead of reading the whole store.
        save("facts", fact_evidence(with_ts), "pred")
        full = linked_g.where(
            F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
        )
        save("facts_inferred", infer_transitive(full, pred="located_in", max_depth=3))
        from kg.reason import DEFAULT_TYPE_RULES
        from kg.session import local_df

        rules = local_df(
            spark, DEFAULT_TYPE_RULES, "pred string, role string, etype string"
        )
        save("entity_types", induce_entity_types(linked_g, rules))

    if "kgtrain" in stages:
        # KG-embedding training exports off the graph table (opt-in, all
        # global derived-overwrite tables like curate/rewrite): filtered
        # corrupted-tail negatives, a node2vec walk corpus, skip-gram
        # pair counts, and the word2vec unigram^0.75 sampling table.
        from kg.ops.kgtrain import (
            negative_sample_triples,
            node2vec_walks,
            sgns_unigram_table,
            walk_node_counts,
            walk_skipgrams,
        )

        from kg.ops.ids import assign_dense_ids

        g = read("graph", "kgtrain")
        raw_ids = g.select(
            F.col("subj_entity").alias("subj_id"),
            "pred",
            F.col("obj_entity").alias("obj_id"),
        ).where(
            F.col("subj_entity").isNotNull()
            & F.col("obj_entity").isNotNull()
        )
        # densify entity ids first: embedding trainers index contiguous
        # rows, and the walk-id scheme (node * walks_per_node + i)
        # requires small nonnegative ids — canonical entity ids can be
        # hash-sized. The mapping table is an export of its own.
        save("train_entity_ids", assign_dense_ids(
            raw_ids.select(F.col("subj_id").alias("entity_id"))
            .union(raw_ids.select(F.col("obj_id").alias("entity_id")))
            .distinct(),
            key_cols=["entity_id"],
            id_name="node_id",
        ))
        id_map = read("train_entity_ids", "kgtrain")
        linked_ids = (
            raw_ids.join(
                id_map.select(
                    F.col("entity_id").alias("subj_id"),
                    F.col("node_id").alias("_s"),
                ),
                "subj_id",
            )
            .join(
                id_map.select(
                    F.col("entity_id").alias("obj_id"),
                    F.col("node_id").alias("_o"),
                ),
                "obj_id",
            )
            .select(
                F.col("_s").alias("subj_id"),
                "pred",
                F.col("_o").alias("obj_id"),
            )
        )
        save("train_negatives", negative_sample_triples(linked_ids, k=4))
        edges = linked_ids.select(
            F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        )
        save("train_walks", node2vec_walks(
            edges, walk_len=8, walks_per_node=2, ret_w=1, in_w=4, out_w=2
        ))
        walks = read("train_walks", "kgtrain")
        save("train_skipgrams", walk_skipgrams(walks, window=2))
        save("sgns_table", sgns_unigram_table(
            walk_node_counts(walks), table_size=1 << 16
        ))

    if "analytics" in stages:
        from kg.graphstats import degree_stats, pagerank, triangle_stats

        g = read("graph", "analytics")
        # node id = canonical entity where linked, else the surface hash
        # (entity ids are small ints, xxhash64 spans the full 64-bit
        # space — overlap is negligible and only perturbs analytics, not
        # the graph tables themselves)
        edges = g.select(
            F.coalesce(F.col("subj_entity"), F.xxhash64("subj")).alias("src"),
            F.coalesce(F.col("obj_entity"), F.xxhash64("obj")).alias("dst"),
        )
        for name, df in (
            ("pagerank", pagerank(edges, iterations=8)),
            ("degrees", degree_stats(edges)),
            ("triangles", triangle_stats(edges)),
        ):
            save(f"analytics_{name}", df)

    wall = time.monotonic() - t_start
    n_pages = pages.count()
    print(
        f'{{"pipeline_wall_s": {wall:.2f}, "pages": {n_pages}, '
        f'"docs_per_sec": {n_pages / wall:.1f}}}'
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
