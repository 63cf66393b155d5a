"""Corpus-curation operators: benchmark decontamination and token-budget
sampling (kg/ops/curation.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg.ops.curation import (
    benchmark_contamination,
    pack_sequences,
    token_budget_sample,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # superset of 1
        (3, "one two three four five six seven eight nine"),
        (4, "short text"),  # shorter than any probe k >= 3
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestContamination:
    def test_self_and_superset_hits(self, spark, toy_docs):
        bench = toy_docs.filter(F.col("doc_id") == 1).select("text")
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in benchmark_contamination(toy_docs, bench, k=5).collect()
        }
        # doc 1: 3 distinct 5-grams, all shared with itself
        assert out[1] == (3, True)
        # doc 2 contains every 5-gram of doc 1 (plus one unshared)
        assert out[2] == (3, True)
        assert out[3] == (0, False)
        assert out[4] == (0, False)  # shorter than k: no grams, no hits
        assert out[5] == (0, False)

    def test_one_row_per_doc(self, spark, documents):
        bench = documents.limit(3).select("text")
        out = benchmark_contamination(documents, bench, k=13)
        assert out.count() == documents.count()
        assert out.select("doc_id").distinct().count() == documents.count()

    def test_benchmark_side_broadcast(self, spark, toy_docs):
        bench = toy_docs.select("text")
        plan = benchmark_contamination(toy_docs, bench, k=5)._jdf.queryExecution(
        ).executedPlan().toString()
        # both the gram join and the hits join broadcast: the corpus side
        # never shuffles
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestTokenBudget:
    def test_budget_respected_and_deterministic(self, spark, documents):
        out = token_budget_sample(documents, budget_tokens=3000,
                                  strata_col="lang")
        kept = out.filter("keep").groupBy("stratum").agg(
            F.sum("n_tokens").alias("tok"))
        for r in kept.collect():
            assert r["tok"] <= 3000
        # deterministic under repartitioning: identical keep set
        out2 = token_budget_sample(
            documents.repartition(17), budget_tokens=3000, strata_col="lang")
        a = sorted(r["doc_id"] for r in out.filter("keep").collect())
        b = sorted(r["doc_id"] for r in out2.filter("keep").collect())
        assert a == b

    def test_budget_is_binding(self, spark, documents):
        # with a budget below the corpus total, some docs must be dropped
        out = token_budget_sample(documents, budget_tokens=3000,
                                  strata_col="lang")
        assert out.filter(~F.col("keep")).count() > 0
        assert out.filter("keep").count() > 0

    def test_unstratified_single_stratum(self, spark, toy_docs):
        out = token_budget_sample(toy_docs, budget_tokens=10)
        rows = out.collect()
        assert {r["stratum"] for r in rows} == {"all"}
        kept_tok = sum(r["n_tokens"] for r in rows if r["keep"])
        assert kept_tok <= 10


class TestPackSequences:
    def test_layout_matches_python_recompute(self, spark):
        import hashlib

        rows = [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["shard"], r["n_tokens"], r["chunk_id"],
                             r["offset"])
               for r in pack_sequences(df, seq_len=10, n_shards=3).collect()}
        # independent recompute: same hash order, per-shard cumsum
        def h(i):
            return hashlib.md5(f"7:{i}".encode()).hexdigest()
        shards = {}
        for i, t in rows:
            shard = int(h(i)[:15], 16) % 3
            shards.setdefault(shard, []).append(i)
        want = {}
        for shard, ids in shards.items():
            start = 0
            for i in sorted(ids, key=lambda x: (h(x), x)):
                n = len(rows[i][1].split())
                want[i] = (shard, n, start // 10, start % 10)
                start += n
        assert got == want

    def test_partition_invariant_and_chunks_contiguous(self, spark):
        rows = [(i, " ".join(["tok"] * 5)) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, pack_sequences(df, 8, n_shards=2).collect()))
        b = sorted(map(tuple, pack_sequences(
            df.repartition(7), 8, n_shards=2).collect()))
        assert a == b
        # per shard, every chunk index up to the max is populated (the
        # concatenated stream has no holes)
        from collections import defaultdict
        by_shard = defaultdict(set)
        for _, shard, _, chunk_id, _ in a:
            by_shard[shard].add(chunk_id)
        for chunks in by_shard.values():
            assert chunks == set(range(max(chunks) + 1))


class TestChunkDocuments:
    def test_chunks_match_python_recompute(self, spark):
        from kg.ops.curation import chunk_documents

        rows = [(0, "a b c d e f g"), (1, "x"), (2, ""), (3, "  "),
                (4, " ".join(f"t{i}" for i in range(12)))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            map(tuple, chunk_documents(df, chunk_len=5, overlap=2).collect())
        )
        want = []
        for doc_id, text in rows:
            toks = text.split()
            if not toks:
                continue  # empty docs emit nothing
            stride = 3
            n_chunks = 1 + max(0, (len(toks) - 5 + stride - 1)) // stride \
                if len(toks) > 5 else 1
            starts = [i * stride for i in range(n_chunks)]
            for i, s in enumerate(starts):
                piece = toks[s:s + 5]
                want.append((doc_id, i, s, len(piece), " ".join(piece)))
        assert got == sorted(want)

    def test_every_token_covered_and_overlap_consistent(self, spark):
        from kg.ops.curation import chunk_documents

        df = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(i))) for i in range(1, 40)],
            "doc_id long, text string")
        out = chunk_documents(df, chunk_len=8, overlap=3).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, chunks in by_doc.items():
            chunks.sort(key=lambda r: r["chunk_id"])
            covered = set()
            for r in chunks:
                covered |= set(range(r["start_tok"],
                                     r["start_tok"] + r["n_tokens"]))
            assert covered == set(range(doc_id)), doc_id
            # consecutive chunks overlap by exactly overlap tokens except
            # possibly the short tail
            for a, b in zip(chunks, chunks[1:]):
                assert b["start_tok"] - a["start_tok"] == 5

    def test_bad_overlap_raises(self, spark):
        from kg.ops.curation import chunk_documents

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        import pytest
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_len=4, overlap=4)


class TestTrainValTestSplit:
    def test_fractions_and_determinism(self, spark):
        from kg.ops.curation import train_val_test_split

        df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
        out = train_val_test_split(df).collect()
        counts = {}
        for r in out:
            counts[r["split"]] = counts.get(r["split"], 0) + 1
        assert abs(counts["train"] / 5000 - 0.9) < 0.02
        assert abs(counts["val"] / 5000 - 0.05) < 0.01
        assert abs(counts["test"] / 5000 - 0.05) < 0.01
        # stable under corpus growth: the first 1000 docs keep their split
        sub = {r["doc_id"]: r["split"]
               for r in train_val_test_split(
                   spark.range(0, 1000).withColumnRenamed("id", "doc_id")
               ).collect()}
        full = {r["doc_id"]: r["split"] for r in out}
        assert all(full[i] == sub[i] for i in sub)

    def test_bad_weights_raise(self, spark):
        from kg.ops.curation import train_val_test_split
        import pytest

        df = spark.range(1).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            train_val_test_split(df, weights=(0.5, 0.2, 0.2))


class TestMixtureWeights:
    def test_expected_mixture_and_determinism(self, spark):
        from kg.ops.curation import mixture_weights

        rows = [(i, "en" if i % 2 == 0 else "de",
                 " ".join(["w"] * 10)) for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        out = mixture_weights(df, {"en": 0.75, "de": 0.25}).collect()
        # both groups have 2000 tokens; factors = target * 4000 / 2000
        fac = {r["lang"]: r["factor"] for r in out}
        assert fac == {"en": 1.5, "de": 0.5}
        # expected token mixture after repeating ~ targets
        tok = {}
        for r in out:
            tok[r["lang"]] = tok.get(r["lang"], 0) + r["n_tokens"] * r["n_repeats"]
        total = sum(tok.values())
        assert abs(tok["en"] / total - 0.75) < 0.05
        # deterministic under repartitioning
        out2 = mixture_weights(df.repartition(13), {"en": 0.75, "de": 0.25})
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2.collect()))

    def test_absent_group_dropped(self, spark):
        from kg.ops.curation import mixture_weights

        df = spark.createDataFrame(
            [(1, "en", "a b"), (2, "xx", "c d")],
            "doc_id long, lang string, text string")
        out = {r["lang"]: r for r in
               mixture_weights(df, {"en": 1.0}).collect()}
        assert out["xx"]["factor"] == 0.0 and out["xx"]["n_repeats"] == 0
        assert out["en"]["n_repeats"] >= 2  # factor 2.0 (4 total / 2 en)

    def test_empty_targets_raise(self, spark):
        from kg.ops.curation import mixture_weights
        import pytest

        df = spark.createDataFrame([(1, "en", "a")],
                                   "doc_id long, lang string, text string")
        with pytest.raises(ValueError):
            mixture_weights(df, {})


class TestCapPerGroup:
    def test_cap_and_hash_order_match_python(self, spark, documents):
        import hashlib

        from kg.ops.curation import cap_per_group

        out = cap_per_group(
            documents, group_col="source", max_per_group=10
        ).collect()
        by_group: dict = {}
        for r in out:
            by_group.setdefault(r.source, []).append(r)
        src = [(r.doc_id, r.source) for r in
               documents.select("doc_id", "source").collect()]
        for g, rows in by_group.items():
            ids = [i for i, s in src if s == g]
            order = sorted(
                ids,
                key=lambda i: (hashlib.md5(f"7:{i}".encode()).hexdigest(), i),
            )
            expect_rank = {i: k + 1 for k, i in enumerate(order)}
            for r in rows:
                assert r.grp_rank == expect_rank[r.doc_id]
                assert r.keep == (r.grp_rank <= 10)
            assert sum(r.keep for r in rows) == min(10, len(ids))

    def test_partition_invariant(self, spark, documents):
        from kg.ops.curation import cap_per_group

        a = {(r.doc_id, r.grp_rank, r.keep) for r in cap_per_group(
            documents, "source", 10).collect()}
        b = {(r.doc_id, r.grp_rank, r.keep) for r in cap_per_group(
            documents.repartition(13), "source", 10).collect()}
        assert a == b


class TestCurateCorpus:
    def test_ladder_order_and_all_verdicts(self, spark):
        from kg.ops.curation import curate_corpus

        rows = [
            # group g1: 3 good docs, one an exact dup (ws/case normalized)
            (1, "alpha beta gamma delta epsilon zeta", "g1"),
            (2, "ALPHA  beta gamma delta epsilon zeta", "g1"),  # dup of 1
            (3, "one two three four five six seven", "g1"),
            (4, "completely different text with many fine words", "g1"),
            # quality drop that is ALSO a dup of 6 -> 'quality' must win
            (5, "!!", "g1"),
            (6, "!!", "g1"),
            # group g2: enough survivors to hit the cap
            (10, "red orange yellow green blue indigo violet", "g2"),
            (11, "north south east west upward downward inward", "g2"),
            (12, "spring summer autumn winter morning evening night", "g2"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {
            r.doc_id: (r.keep, r.stage, r.detail)
            for r in curate_corpus(
                docs, group_col="source", max_per_group=2
            ).collect()
        }
        assert len(out) == len(rows)  # total: one verdict per doc
        assert out[2] == (False, "exact_dup", "1")
        assert out[5][1] == "quality" and not out[5][0]
        assert out[6][1] == "quality"  # dup-of-quality-dropped is still quality
        # g1 survivors: 1, 3, 4 -> cap 2 drops exactly one, rank 3
        g1 = [out[i] for i in (1, 3, 4)]
        assert sum(1 for v in g1 if v[0]) == 2
        capped = [v for v in g1 if v[1] == "domain_cap"]
        assert capped == [(False, "domain_cap", "3")]
        # g2: all three good and distinct -> cap keeps 2
        g2 = [out[i] for i in (10, 11, 12)]
        assert sum(1 for v in g2 if v[0]) == 2

    def test_no_group_skips_cap(self, spark):
        from kg.ops.curation import curate_corpus

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "one two three four five six seven")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.stage for r in curate_corpus(docs).collect()}
        assert out == {1: "kept", 2: "kept"}

    def test_group_without_cap_raises(self, spark):
        from kg.ops.curation import curate_corpus

        docs = spark.createDataFrame(
            [(1, "a b c", "g")], "doc_id long, text string, source string")
        with pytest.raises(ValueError):
            curate_corpus(docs, group_col="source")


class TestCuratePipelineStage:
    def test_run_pipeline_curate_stage(self, spark, tmp_path):
        """run_pipeline --stages extract,curate writes a total corpus_kept
        verdict table (one row per doc, per-host cap applied)."""
        import run_pipeline

        out = str(tmp_path / "kg_out")
        rc = run_pipeline.main([
            "--pages", "/root/repo/fixtures/pages_tiny.parquet",
            "--out", out, "--buckets", "4",
            "--stages", "extract,curate", "--max-docs-per-host", "3",
        ])
        assert rc == 0
        kept = spark.read.parquet(f"{out}/corpus_kept")
        n_docs = spark.read.parquet(f"{out}/docs").count()
        assert kept.count() == n_docs  # total verdict
        assert kept.select("url").distinct().count() == n_docs
        stages = {r.stage for r in kept.select("stage").distinct().collect()}
        assert stages <= {"kept", "quality", "exact_dup", "domain_cap"}
        assert "kept" in stages and "domain_cap" in stages
        # cap respected per host among kept docs
        from pyspark.sql import functions as F
        from kg.ops.webnorm import normalize_urls

        hosts = normalize_urls(kept.where("keep").select("url")).groupBy(
            "host").count()
        assert hosts.agg(F.max("count")).first()[0] <= 3


class TestRunPipelineFilterStage:
    def test_filter_stage_writes_all_four_tables(self, spark, tmp_path):
        """run_pipeline --stages extract,filter writes the r4/r5 quality
        rungs: per-doc gopher verdicts (total), per-host rollup, and the
        two corpus-wide cleanup exports (deboilered + paragraph-global
        deduped docs, both total rewrites)."""
        import run_pipeline

        out = str(tmp_path / "kg_out")
        rc = run_pipeline.main([
            "--pages", "/root/repo/fixtures/pages_tiny.parquet",
            "--out", out, "--buckets", "4",
            "--stages", "extract,filter",
        ])
        assert rc == 0
        n_docs = spark.read.parquet(f"{out}/docs").count()
        gv = spark.read.parquet(f"{out}/gopher_verdicts")
        assert gv.count() == n_docs  # total verdict table
        assert {"keep", "first_fail", "n_words"} <= set(gv.columns)
        hq = spark.read.parquet(f"{out}/host_quality")
        assert {"host", "n_docs", "n_keep", "top_fail"} <= set(hq.columns)
        from pyspark.sql import functions as F

        assert hq.agg(F.sum("n_docs")).first()[0] == n_docs
        db = spark.read.parquet(f"{out}/docs_deboiler")
        assert db.count() == n_docs and "clean_text" in db.columns
        pg = spark.read.parquet(f"{out}/docs_para_global")
        assert pg.count() == n_docs and "n_dropped" in pg.columns


class TestQualityPrune:
    def test_keeps_top_frac_per_group_with_ties(self, spark):
        from kg.ops.curation import quality_prune

        rows = [
            # source a: 4 docs -> keep ceil(4*0.5)=2 (score desc, id asc)
            (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.5), (4, "a", 0.1),
            # source b: 1 doc -> keep ceil(0.5)=1
            (5, "b", 0.0),
            # source c: 3 docs -> keep 2
            (6, "c", 0.3), (7, "c", 0.2), (8, "c", 0.1),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, quality double"
        ).repartition(5)
        kept = sorted(
            r.doc_id for r in quality_prune(df, frac=0.5).collect()
        )
        # tie at 0.5 in source a: doc 2 beats doc 3 (id asc)
        assert kept == [1, 2, 5, 6, 7]

    def test_frac_one_keeps_all_and_validation(self, spark):
        import pytest as pt

        from kg.ops.curation import quality_prune

        df = spark.createDataFrame(
            [(1, "a", 0.1)], "doc_id long, source string, quality double"
        )
        assert quality_prune(df, frac=1.0).count() == 1
        with pt.raises(ValueError):
            quality_prune(df, frac=0.0)


class TestRemoveBoilerplateLines:
    def _docs(self, spark):
        banner = "Accept cookies to continue"
        rows = [
            (1, f"{banner}\nUnique opening line\n\nBody one"),
            (2, f"  {banner.upper()}  \nAnother body"),
            (3, f"{banner}\nThird body text"),
            (4, "No boilerplate here\n\nJust content"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_drops_shared_lines_keeps_blanks_and_order(self, spark):
        from kg.ops.textstats import remove_boilerplate_lines

        got = {
            r.doc_id: r
            for r in remove_boilerplate_lines(
                self._docs(spark), min_docs=3
            ).collect()
        }
        # banner normalizes identically across case/whitespace -> df=3
        assert got[1].clean_text == "Unique opening line\n\nBody one"
        assert (got[1].n_lines, got[1].n_removed) == (4, 1)
        assert got[2].clean_text == "Another body"
        assert got[3].clean_text == "Third body text"
        # untouched doc keeps its blank line verbatim
        assert got[4].clean_text == "No boilerplate here\n\nJust content"
        assert got[4].n_removed == 0

    def test_all_boilerplate_doc_becomes_empty(self, spark):
        from kg.ops.textstats import remove_boilerplate_lines

        rows = [(i, "same line") for i in range(1, 4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r
            for r in remove_boilerplate_lines(df, min_docs=2).collect()
        }
        assert all(r.clean_text == "" and r.n_removed == 1 for r in got.values())
        assert len(got) == 3

    def test_scope_col_restricts_df_to_host(self, spark):
        from kg.ops.textstats import remove_boilerplate_lines

        rows = [
            (1, "a.com", "footer\nalpha"),
            (2, "a.com", "footer\nbeta"),
            (3, "b.com", "footer\ngamma"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, host string, text string")
        got = {
            r.doc_id: r.clean_text
            for r in remove_boilerplate_lines(
                df, min_docs=2, scope_col="host"
            ).collect()
        }
        # footer hits df=2 only within a.com; b.com's copy survives
        assert got == {1: "alpha", 2: "beta", 3: "footer\ngamma"}

    def test_partition_invariant(self, spark):
        from kg.ops.textstats import remove_boilerplate_lines

        docs = self._docs(spark)
        a = sorted(map(tuple, remove_boilerplate_lines(docs, min_docs=3).collect()))
        b = sorted(
            map(
                tuple,
                remove_boilerplate_lines(
                    docs.repartition(7), min_docs=3
                ).collect(),
            )
        )
        assert a == b


class TestLeakageSafeSplit:
    def _docs(self, spark):
        leak = "one two three four five six seven eight nine ten " \
               "eleven twelve thirteen"
        rows = [(i, f"filler{i} " + leak) for i in range(40)]
        rows += [(100 + i, f"unique words only here variant {i}")
                 for i in range(10)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_train_leaks_dropped_heldout_always_kept(self, spark):
        from kg.ops.curation import leakage_safe_split, train_val_test_split

        docs = self._docs(spark)
        splits = {r["doc_id"]: r["split"]
                  for r in train_val_test_split(
                      docs, weights=(0.6, 0.2, 0.2)).collect()}
        got = {r["doc_id"]: (r["split"], r["keep"], r["n_hits"])
               for r in leakage_safe_split(
                   docs, weights=(0.6, 0.2, 0.2), k=13).collect()}
        assert len(got) == docs.count()
        heldout_sharers = [i for i in range(40)
                           if splits[i] != "train"]
        assert heldout_sharers, "fixture must put some sharers in heldout"
        for i, (sp, keep, n_hits) in got.items():
            assert sp == splits[i]
            if sp != "train":
                assert keep and n_hits == 0
            elif i < 40:
                # every train doc sharing the 13-gram with a held-out
                # sharer is a leak
                assert not keep and n_hits >= 1
            else:
                assert keep and n_hits == 0

    def test_partition_invariant(self, spark):
        from kg.ops.curation import leakage_safe_split

        docs = self._docs(spark)
        a = sorted(map(tuple, leakage_safe_split(docs).collect()))
        b = sorted(map(tuple,
                       leakage_safe_split(docs.repartition(7)).collect()))
        assert a == b


class TestAssignDenseIds:
    def test_matches_global_window_order(self, spark):
        from kg.ops.ids import assign_dense_ids

        rows = [(i, f"k{i % 7}", f"v{i}") for i in range(200)]
        df = spark.createDataFrame(rows, "pk long, grp string, v string")
        got = assign_dense_ids(df, ["grp", "pk"], num_partitions=8)
        out = sorted((r["dense_id"], r["grp"], r["pk"], r["v"])
                     for r in got.collect())
        want = sorted(rows, key=lambda r: (r[1], r[0]))
        assert [o[0] for o in out] == list(range(200))  # dense, 0-based
        for (did, grp, pk, v), w in zip(out, want):
            assert (pk, grp, v) == w

    def test_partition_invariant_and_column_preserving(self, spark):
        from kg.ops.ids import assign_dense_ids

        rows = [(i, i % 3) for i in range(50)]
        df = spark.createDataFrame(rows, "pk long, x long")
        a = sorted(map(tuple,
                       assign_dense_ids(df, ["pk"], num_partitions=4)
                       .collect()))
        b = sorted(map(tuple,
                       assign_dense_ids(df.repartition(9), ["pk"],
                                        num_partitions=13).collect()))
        assert a == b
        assert [r[-1] for r in a] == list(range(50))


class TestWeightedSample:
    def test_matches_python_recompute(self, spark):
        import hashlib
        import math

        from kg.ops.curation import weighted_sample

        rows = [(i, float(1 + (i * 7) % 50)) for i in range(100)]
        rows.append((200, 0.0))   # zero weight: out of domain
        rows.append((201, -3.0))  # negative: out of domain
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = [(r["doc_id"], r["weight"], r["skey"])
               for r in weighted_sample(df, "w", k=10, seed=29).collect()]

        def key(i, w):
            u = int(hashlib.md5(f"29:{i}".encode()).hexdigest()[:15],
                    16) / float(1 << 60)
            return round(math.pow(u, 1.0 / w), 9)

        want = sorted(((i, w, key(i, w)) for i, w in rows if w > 0),
                      key=lambda t: (-t[2], t[0]))[:10]
        assert got == want

    def test_heavy_weights_dominate(self, spark):
        from kg.ops.curation import weighted_sample

        rows = [(i, 1000.0) for i in range(20)]
        rows += [(100 + i, 0.001) for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {r["doc_id"]
               for r in weighted_sample(df, "w", k=10).collect()}
        assert all(i < 20 for i in got)

    def test_partition_invariant(self, spark):
        from kg.ops.curation import weighted_sample

        rows = [(i, float(1 + i % 9)) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        a = sorted(map(tuple, weighted_sample(df, "w", k=15).collect()))
        b = sorted(map(tuple,
                       weighted_sample(df.repartition(7), "w",
                                       k=15).collect()))
        assert a == b


class TestProfileDiff:
    def test_statuses_and_drift_flags(self, spark):
        from kg.ops.profile import profile_diff, profile_table

        old = spark.createDataFrame(
            [(1, "aa", 5.0), (2, "bb", 7.0), (3, None, 9.0)],
            "pk long, s string, x double",
        )
        new = spark.createDataFrame(
            [(1, None, True), (2, None, False), (3, None, True),
             (4, None, True)],
            "pk long, s string, flag boolean",
        )
        got = {r["column"]: r for r in profile_diff(
            profile_table(old, exact_distinct=True),
            profile_table(new, exact_distinct=True),
        ).collect()}
        assert got["x"]["status"] == "removed" and got["x"]["drift"]
        assert got["flag"]["status"] == "added" and got["flag"]["drift"]
        assert got["pk"]["status"] == "common"
        # pk: same null frac (0), distinct 3 -> 4 = +0.333 > 0.2 -> drift
        assert got["pk"]["drift"] and abs(
            got["pk"]["dist_rel_delta"] - 0.333333) < 1e-6
        # s: null frac 1/3 -> 1 = +0.666; distinct 2 -> 0
        assert got["s"]["status"] == "common" and got["s"]["drift"]
        assert abs(got["s"]["null_frac_delta"] - (1 - 1 / 3)) < 1e-5

    def test_identical_profiles_no_drift(self, spark):
        from kg.ops.profile import profile_diff, profile_table

        df = spark.createDataFrame(
            [(1, "a"), (2, "b")], "pk long, s string"
        )
        p = profile_table(df, exact_distinct=True)
        out = profile_diff(p, p).collect()
        assert all(r["status"] == "common" and not r["drift"] for r in out)
        assert all(r["null_frac_delta"] == 0.0 for r in out)


class TestAssignShards:
    def _ids(self, spark, n=240):
        return spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    def test_rendezvous_stability_on_grow(self, spark):
        """n -> n+1: movers all land in the NEW shard, everyone else
        keeps their shard, and roughly 1/(n+1) of rows move."""
        from kg.ops.curation import assign_shards

        d = self._ids(spark)
        both = assign_shards(
            assign_shards(d, 8, out_col="s8"), 9, out_col="s9"
        ).collect()
        moved = [r for r in both if r.s8 != r.s9]
        assert all(r.s9 == 8 for r in moved)
        assert 0.03 < len(moved) / len(both) < 0.25  # ~1/9 expected
        # removal symmetry: restricting 9 -> 8 moves only shard 8's rows
        assert all(r.s8 == r.s9 for r in both if r.s9 != 8)

    def test_balance_and_range(self, spark):
        from kg.ops.curation import assign_shards

        rows = assign_shards(self._ids(spark), 4).collect()
        counts = {}
        for r in rows:
            assert 0 <= r.shard < 4
            counts[r.shard] = counts.get(r.shard, 0) + 1
        assert len(counts) == 4
        assert max(counts.values()) < 2.2 * min(counts.values())

    def test_plan_is_jvm_only(self, spark):
        from kg.ops.curation import assign_shards

        p = (
            assign_shards(self._ids(spark), 8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "Exchange"):
            assert node not in p


class TestThresholdSweep:
    def test_confusion_math(self, spark):
        from kg.ops.curation import threshold_sweep

        df = spark.createDataFrame(
            [(0.9, True), (0.9, False), (0.7, True), (0.5, False),
             (0.3, True)],
            "score double, label boolean",
        )
        got = {
            r.threshold: (r.n_pred, r.tp, r.precision, r.recall)
            for r in threshold_sweep(df, "score", "label").collect()
        }
        assert got[0.9] == (2, 1, 0.5, round(1 / 3, 6))
        assert got[0.7] == (3, 2, round(2 / 3, 6), round(2 / 3, 6))
        assert got[0.3] == (5, 3, 0.6, 1.0)

    def test_histogram_bounded_output(self, spark):
        from kg.ops.curation import threshold_sweep

        # 1000 rows but only 4 distinct scores -> 4 output rows
        rows = [(float(i % 4), i % 3 == 0) for i in range(1000)]
        df = spark.createDataFrame(rows, "score double, label boolean")
        out = threshold_sweep(df, "score", "label")
        assert out.count() == 4
        # lowest threshold keeps everything -> recall 1
        low = out.orderBy("threshold").first()
        assert low.n_pred == 1000 and low.recall == 1.0


class TestCleanPipelineStage:
    def test_run_pipeline_clean_stage(self, spark, tmp_path):
        """run_pipeline --stages extract,clean writes docs_clean: one row
        per doc with normalized text + paragraph-dedup counters."""
        import run_pipeline

        out = str(tmp_path / "kg_out")
        rc = run_pipeline.main([
            "--pages", "/root/repo/fixtures/pages_tiny.parquet",
            "--out", out, "--buckets", "4",
            "--stages", "extract,clean",
        ])
        assert rc == 0
        clean = spark.read.parquet(f"{out}/docs_clean")
        n_docs = spark.read.parquet(f"{out}/docs").count()
        assert clean.count() == n_docs
        assert set(clean.columns) == {
            "url", "text", "n_paragraphs", "n_dropped", "changed"
        }
        # the cleaned text is whitespace-normalized: no runs, no edges
        from pyspark.sql import functions as F

        assert clean.where(F.col("text").rlike(r"\s\s")).count() == 0
        assert clean.where(F.col("n_dropped") < 0).count() == 0


class TestTemperatureTargets:
    def test_alpha_flattens_toward_uniform(self, spark):
        from kg.ops.curation import temperature_targets

        docs = spark.createDataFrame(
            [(1, "en", "a " * 90), (2, "fr", "b " * 10)],
            "doc_id long, lang string, text string",
        )
        nat = temperature_targets(docs, alpha=1.0, group_col="lang")
        cold = temperature_targets(docs, alpha=0.1, group_col="lang")
        assert abs(nat["en"] - 0.9) < 1e-9 and abs(nat["fr"] - 0.1) < 1e-9
        # alpha -> 0 approaches uniform: minority share rises
        assert 0.4 < cold["fr"] < 0.5 < cold["en"] < 0.6
        assert abs(sum(cold.values()) - 1.0) < 1e-12


class TestIsotonicCalibrate:
    def _pav(self, blocks):
        """Sequential pool-adjacent-violators reference."""
        stack = []
        for n, p in blocks:
            stack.append([n, p])
            while (
                len(stack) > 1
                and stack[-2][1] * stack[-1][0]
                >= stack[-1][1] * stack[-2][0]
            ):
                n2, p2 = stack.pop()
                stack[-1][0] += n2
                stack[-1][1] += p2
        fits = []
        for n, p in stack:
            fits.extend([p / n])
        return stack

    def test_matches_sequential_pav(self, spark):
        from kg.ops.curation import isotonic_calibrate

        import random as _random

        _random.seed(11)
        rows = []
        for _ in range(2000):
            s = _random.random()
            p = 0.1 + 0.7 * s + (0.2 if 0.4 < s < 0.5 else 0.0)
            rows.append((s, 1 if _random.random() < p else 0))
        df = spark.createDataFrame(rows, "score double, label int")
        got = sorted(
            (r["bin"], r["n"], r["n_pos"], r["fit"])
            for r in isotonic_calibrate(df, n_bins=16).collect()
        )
        # replay: bins -> PAV blocks -> per-bin fit
        import collections

        bins = collections.defaultdict(lambda: [0, 0])
        for s, l in rows:
            b = min(15, int(s * 16))
            bins[b][0] += 1
            bins[b][1] += l
        ks = sorted(bins)
        stack = self._pav([bins[k] for k in ks])
        fits, i = [], 0
        for n, p in stack:
            cnt = 0
            while cnt < n:
                cnt += bins[ks[i]][0]
                fits.append(round(p / n, 9))
                i += 1
        ref = sorted(
            (ks[i], bins[ks[i]][0], bins[ks[i]][1], fits[i])
            for i in range(len(ks))
        )
        assert got == ref
        f = [x[3] for x in got]
        assert f == sorted(f)  # monotone non-decreasing

    def test_already_monotone_data_is_unchanged(self, spark):
        from kg.ops.curation import isotonic_calibrate

        # bin rates strictly increasing -> fit == rate everywhere
        rows = []
        for b in range(4):
            for i in range(10):
                rows.append((b / 4 + 0.01, 1 if i < 2 + 2 * b else 0))
        df = spark.createDataFrame(
            [((b + 0.5) / 4, l) for b in range(4) for i, l in
             [(i, 1 if i < 2 + 2 * b else 0) for i in range(10)]],
            "score double, label int",
        )
        got = {r["bin"]: r for r in isotonic_calibrate(df, n_bins=4).collect()}
        for b in got:
            assert got[b]["fit"] == got[b]["rate"]

    def test_single_violation_pools_two_bins(self, spark):
        from kg.ops.curation import isotonic_calibrate

        # bin0 rate 0.8 (4/5), bin1 rate 0.2 (1/5) -> pooled to 0.5
        rows = [(0.1, 1)] * 4 + [(0.1, 0)] + [(0.9, 1)] + [(0.9, 0)] * 4
        df = spark.createDataFrame(rows, "score double, label int")
        got = {r["bin"]: r["fit"] for r in isotonic_calibrate(df, n_bins=2).collect()}
        assert got == {0: 0.5, 1: 0.5}
