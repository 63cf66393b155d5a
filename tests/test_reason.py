"""KG reasoning operators (kg/reason.py): bounded transitive inference,
type induction, noisy-or fact confidence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg.reason import fact_confidence, induce_entity_types, infer_transitive

FACT_SCHEMA = "subj_id long, pred string, obj_id long"


def _facts(spark, rows, parts=3):
    return spark.createDataFrame(rows, FACT_SCHEMA).repartition(parts)


class TestInferTransitive:
    def test_chain_min_depth(self, spark):
        # a->b->c->d plus a shortcut a->c: depth is the MINIMUM hop count
        rows = [
            (1, "located_in", 2),
            (2, "located_in", 3),
            (3, "located_in", 4),
            (1, "located_in", 3),
            (1, "other", 9),  # other predicates ignored
        ]
        out = {
            (r.subj_id, r.obj_id): r.depth
            for r in infer_transitive(
                _facts(spark, rows), "located_in", max_depth=3
            ).collect()
        }
        assert out == {
            (1, 2): 1,
            (2, 3): 1,
            (3, 4): 1,
            (1, 3): 1,  # asserted shortcut wins over the 2-hop path
            (2, 4): 2,
            (1, 4): 2,  # via the shortcut, not the 3-hop chain
        }

    def test_cycle_drops_derived_self_pairs_and_early_exits(self, spark):
        rows = [(1, "p", 2), (2, "p", 1)]
        # max_depth far beyond the closure: the frontier empties and the
        # loop exits — no (1,1)/(2,2) rows, no infinite derivations
        out = sorted(
            (r.subj_id, r.obj_id, r.depth)
            for r in infer_transitive(
                _facts(spark, rows), "p", max_depth=10
            ).collect()
        )
        assert out == [(1, 2, 1), (2, 1, 1)]

    def test_partition_invariant(self, spark):
        rows = [(i, "p", i + 1) for i in range(1, 8)]
        a = infer_transitive(_facts(spark, rows, 1), "p", 4).collect()
        b = infer_transitive(_facts(spark, rows, 7), "p", 4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        # closure size: all pairs (i, j) with i < j <= min(i+4, 8)
        assert len(a) == sum(min(i + 4, 8) - i for i in range(1, 8))


class TestInduceEntityTypes:
    def test_modal_vote_and_tie_break(self, spark):
        linked = spark.createDataFrame(
            [
                # entity 1: 2 PERSON votes (subj of works_for/ceo_of)
                ("u1", "works_for", 1, 10),
                ("u2", "ceo_of", 1, 10),
                # entity 10: obj ORG votes from the same rows, plus one
                # PLACE vote (obj of born_in) -> ORG wins 2:1
                ("u3", "born_in", 7, 10),
                # entity 7: 1 PERSON vote (subj of born_in)
            ],
            "url string, pred string, subj_id long, obj_id long",
        )
        rules = spark.createDataFrame(
            [
                ("works_for", "subj", "PERSON"),
                ("works_for", "obj", "ORG"),
                ("ceo_of", "subj", "PERSON"),
                ("ceo_of", "obj", "ORG"),
                ("born_in", "subj", "PERSON"),
                ("born_in", "obj", "PLACE"),
            ],
            "pred string, role string, etype string",
        )
        out = {
            r.entity_id: (r.entity_type, r.n_votes, r.n_total)
            for r in induce_entity_types(linked, rules).collect()
        }
        assert out[1] == ("PERSON", 2, 2)
        assert out[10] == ("ORG", 2, 3)
        assert out[7] == ("PERSON", 1, 1)

    def test_tie_breaks_by_type_name(self, spark):
        linked = spark.createDataFrame(
            [("u1", "p", 1, 2), ("u2", "q", 1, 2)],
            "url string, pred string, subj_id long, obj_id long",
        )
        rules = spark.createDataFrame(
            [("p", "subj", "ZED"), ("q", "subj", "ALPHA")],
            "pred string, role string, etype string",
        )
        out = induce_entity_types(linked, rules).collect()
        row = next(r for r in out if r.entity_id == 1)
        assert row.entity_type == "ALPHA" and row.n_total == 2


class TestFactConfidence:
    def test_noisy_or_known_values(self, spark):
        ev = spark.createDataFrame(
            [
                ("u1", 1, "p", 2, 0.5),
                ("u2", 1, "p", 2, 0.5),
                ("u3", 3, "p", 4, 0.9),
            ],
            "url string, subj_id long, pred string, obj_id long,"
            " conf double",
        )
        out = {
            (r.subj_id, r.obj_id): r for r in fact_confidence(ev).collect()
        }
        a = out[(1, 2)]
        assert a.n_evidence == 2
        assert a.conf_noisy_or == pytest.approx(0.75)
        assert a.conf_max == 0.5
        b = out[(3, 4)]
        assert b.conf_noisy_or == pytest.approx(0.9)

    def test_conf_one_clamped_not_nan(self, spark):
        ev = spark.createDataFrame(
            [("u1", 1, "p", 2, 1.0), ("u2", 1, "p", 2, 0.2)],
            "url string, subj_id long, pred string, obj_id long,"
            " conf double",
        )
        r = fact_confidence(ev).collect()[0]
        assert r.conf_noisy_or == 1.0 and r.conf_max == 1.0

    def test_half_linked_rows_excluded(self, spark):
        ev = spark.createDataFrame(
            [("u1", 1, "p", None, 0.5), ("u2", None, "p", 2, 0.5)],
            "url string, subj_id long, pred string, obj_id long,"
            " conf double",
        )
        assert fact_confidence(ev).count() == 0


class TestTypeViolations:
    def test_flags_only_contradictions(self, spark):
        facts = spark.createDataFrame(
            [(1, "works_for", 2), (3, "works_for", 2), (1, "unknown_pred", 2)],
            FACT_SCHEMA,
        )
        et = spark.createDataFrame(
            [(1, "PERSON"), (2, "ORG"), (3, "PLACE")],
            "entity_id long, entity_type string",
        )
        rules = spark.createDataFrame(
            [("works_for", "subj", "PERSON"), ("works_for", "obj", "ORG")],
            "pred string, role string, etype string",
        )
        from kg.reason import type_violations

        out = type_violations(facts, et, rules).collect()
        # only (3 works_for 2) violates, on the subj side; unknown preds
        # and untyped entities are open-world (no rule -> no violation)
        assert len(out) == 1
        v = out[0]
        assert (v.subj_id, v.role, v.expected_type, v.actual_type) == (
            3, "subj", "PERSON", "PLACE",
        )

    def test_untyped_entity_not_flagged(self, spark):
        facts = spark.createDataFrame([(9, "works_for", 2)], FACT_SCHEMA)
        et = spark.createDataFrame(
            [(2, "ORG")], "entity_id long, entity_type string"
        )
        rules = spark.createDataFrame(
            [("works_for", "subj", "PERSON"), ("works_for", "obj", "ORG")],
            "pred string, role string, etype string",
        )
        from kg.reason import type_violations

        assert type_violations(facts, et, rules).count() == 0


class TestResolveFunctionalConflicts:
    def test_winner_by_evidence_then_tiebreak(self, spark):
        facts = spark.createDataFrame(
            [
                (10, "ceo_of", 1, 5),
                (11, "ceo_of", 1, 2),  # loser: less evidence
                (12, "ceo_of", 2, 3),
                (13, "ceo_of", 2, 3),  # tie -> smaller subj_id (12) wins
                (14, "works_for", 1, 9),  # other pred filtered out
            ],
            "subj_id long, pred string, obj_id long, n_evidence long",
        )
        from kg.reason import resolve_functional_conflicts

        out = resolve_functional_conflicts(
            facts, pred="ceo_of", key_role="obj"
        ).collect()
        kept = {r.obj_id: r.subj_id for r in out if r.is_kept}
        assert kept == {1: 10, 2: 12}
        assert all(r.pred == "ceo_of" for r in out) and len(out) == 4

    def test_key_role_validation(self, spark):
        import pytest as pt

        from kg.reason import resolve_functional_conflicts

        facts = spark.createDataFrame(
            [], "subj_id long, pred string, obj_id long, n_evidence long"
        )
        with pt.raises(ValueError):
            resolve_functional_conflicts(facts, "p", key_role="both")


class TestResolvePronouns:
    MENTIONS_SCHEMA = (
        "url string, value string, category string, start int, end int"
    )

    def test_nearest_preceding_compatible(self, spark):
        from kg.reason import resolve_pronouns

        docs = spark.createDataFrame(
            [
                ("u1",
                 "Ada Lovelace wrote programs\nShe founded Acme\nIt thrived"),
                ("u2", "She arrived early"),
            ],
            "url string, text string",
        )
        mentions = spark.createDataFrame(
            [
                ("u1", "Ada Lovelace", "sys.person", 0, 12),
                ("u1", "Acme", "sys.organization", 40, 44),
            ],
            self.MENTIONS_SCHEMA,
        )
        out = {
            (r.url, r.start): r
            for r in resolve_pronouns(docs, mentions).collect()
        }
        assert out[("u1", 28)].antecedent == "Ada Lovelace"
        assert out[("u1", 45)].antecedent == "Acme"  # 'it' skips the person
        r2 = out[("u2", 0)]
        assert r2.antecedent is None and r2.pron == "she"

    def test_category_gate_blocks_incompatible(self, spark):
        from kg.reason import resolve_pronouns

        docs = spark.createDataFrame(
            [("u1", "Acme grew fast\nShe left")], "url string, text string"
        )
        mentions = spark.createDataFrame(
            [("u1", "Acme", "sys.organization", 0, 4)], self.MENTIONS_SCHEMA
        )
        out = resolve_pronouns(docs, mentions).collect()
        # 'she' requires sys.person; the org mention does NOT resolve it
        assert len(out) == 1 and out[0].antecedent is None

    def test_partition_invariant(self, spark):
        from kg.reason import resolve_pronouns

        docs = spark.createDataFrame(
            [(f"u{i}", "Bob Smith spoke\nHe paused\nThen he left")
             for i in range(20)],
            "url string, text string",
        )
        mentions = spark.createDataFrame(
            [(f"u{i}", "Bob Smith", "sys.person", 0, 9) for i in range(20)],
            self.MENTIONS_SCHEMA,
        )
        a = sorted(map(tuple, resolve_pronouns(
            docs.repartition(1), mentions).collect()))
        b = sorted(map(tuple, resolve_pronouns(
            docs.repartition(13), mentions.repartition(7)).collect()))
        assert a == b and len(a) == 40  # two pronouns per doc, all resolved
        assert all(t[3] == "Bob Smith" for t in a)


class TestRewritePronounTriples:
    TRIPLES_SCHEMA = (
        "url string, subj string, pred string, obj string, conf double"
    )
    RES_SCHEMA = (
        "url string, start long, pron string, antecedent string,"
        " antecedent_category string, antecedent_end long"
    )

    def test_rewrites_agreed_pronouns_only(self, spark):
        from kg.reason import rewrite_pronoun_triples

        triples = spark.createDataFrame(
            [
                ("u1", "She", "founded", "Acme", 1.0),
                ("u1", "Acme", "acquired", "it", 1.0),
                ("u1", "Bob", "works_for", "Acme", 1.0),
                ("u2", "She", "founded", "Initech", 1.0),  # ambiguous doc
            ],
            self.TRIPLES_SCHEMA,
        )
        res = spark.createDataFrame(
            [
                ("u1", 30, "she", "Ada", "sys.person", 3),
                ("u1", 60, "it", "Globex", "sys.organization", 50),
                # u2: two different 'she' antecedents -> no rewrite
                ("u2", 10, "she", "Ada", "sys.person", 3),
                ("u2", 40, "she", "Eve", "sys.person", 25),
                # unresolved occurrences never vote
                ("u2", 70, "she", None, None, None),
            ],
            self.RES_SCHEMA,
        )
        out = {
            (r.url, r.pred): r
            for r in rewrite_pronoun_triples(triples, res).collect()
        }
        a = out[("u1", "founded")]
        assert (a.subj, a.obj, a.coref_rewritten) == ("Ada", "Acme", 1)
        b = out[("u1", "acquired")]
        assert (b.subj, b.obj, b.coref_rewritten) == ("Acme", "Globex", 1)
        c = out[("u1", "works_for")]
        assert (c.subj, c.coref_rewritten) == ("Bob", 0)
        d = out[("u2", "founded")]
        assert (d.subj, d.coref_rewritten) == ("She", 0)

    def test_end_to_end_recovers_linkable_fact(self, spark):
        from kg.reason import resolve_pronouns, rewrite_pronoun_triples
        from kg.stages.triples import extract_svo_triples

        docs = spark.createDataFrame(
            [("u1", "Ada Lovelace wrote programs\nShe founded Acme Corp")],
            "url string, text string",
        )
        mentions = spark.createDataFrame(
            [("u1", "Ada Lovelace", "sys.person", 0, 12)],
            "url string, value string, category string, start int, end int",
        )
        triples = extract_svo_triples(docs)
        res = resolve_pronouns(docs, mentions)
        out = rewrite_pronoun_triples(triples, res).collect()
        founded = [r for r in out if r.pred == "founded"]
        assert founded and founded[0].subj == "Ada Lovelace"


class TestFactsPipelineStage:
    ARGS = ["--pages", "fixtures/pages_tiny.parquet", "--buckets", "4",
            "--coref"]

    @pytest.fixture(scope="class")
    def finished_out(self, spark, tmp_path_factory):
        import run_pipeline

        out = str(tmp_path_factory.mktemp("facts") / "kg_out")
        rc = run_pipeline.main([
            *self.ARGS, "--out", out,
            "--stages", "extract,triples,link,canon,graph,facts",
        ])
        assert rc == 0
        return out

    def test_run_pipeline_facts_and_coref(self, spark, finished_out):
        """run_pipeline with the facts stage writes a pred-partitioned
        fact table + closure + entity types; --coref leaves the link
        output unchanged on a pronoun-free corpus (pass-through safety)."""
        out = finished_out
        facts = spark.read.parquet(f"{out}/facts")
        assert facts.count() > 0
        # pred is a PARTITION column (directory-level pruning at rest)
        import os

        assert any(
            d.startswith("pred=") for d in os.listdir(f"{out}/facts")
        )
        inferred = spark.read.parquet(f"{out}/facts_inferred")
        assert inferred.where("depth > 1").count() > 0
        et = spark.read.parquet(f"{out}/entity_types")
        assert et.count() > 0
        # coref pass-through: same linked rows as the golden triples
        from pyspark.sql import functions as F  # noqa: F401

        linked = spark.read.parquet(f"{out}/linked")
        golden = spark.read.parquet(
            "/root/repo/fixtures/expected_triples_tiny.parquet"
        )
        assert linked.count() == golden.count()

    def test_partial_reruns_read_inputs_from_out(self, spark, finished_out):
        """canon alone reads linked from --out and rewrites the same
        entities; graph alone replaces the whole table, so a partition
        no longer produced does not survive the rerun."""
        import os

        import run_pipeline

        out = finished_out

        def rows(table):
            return sorted(
                repr(sorted(r.asDict().items(), key=lambda kv: kv[0]))
                for r in spark.read.parquet(f"{out}/{table}").collect()
            )

        canon = rows("entities_canonical")
        rc = run_pipeline.main([*self.ARGS, "--out", out, "--stages", "canon"])
        assert rc == 0
        assert rows("entities_canonical") == canon

        n_graph = spark.read.parquet(f"{out}/graph").count()
        stale = f"{out}/graph/pred=zz_stale/url_hash_bucket=0"
        spark.read.parquet(f"{out}/graph").limit(1).drop(
            "pred", "url_hash_bucket"
        ).write.parquet(stale)
        assert spark.read.parquet(f"{out}/graph").count() == n_graph + 1
        rc = run_pipeline.main([*self.ARGS, "--out", out, "--stages", "graph"])
        assert rc == 0
        assert not os.path.exists(f"{out}/graph/pred=zz_stale")
        assert spark.read.parquet(f"{out}/graph").count() == n_graph

    def test_graph_on_empty_out_names_missing_input(self, spark, tmp_path):
        import run_pipeline

        out = tmp_path / "kg_out"
        with pytest.raises(SystemExit) as exc:
            run_pipeline.main([*self.ARGS, "--out", str(out), "--stages", "graph"])
        assert "'entities_canonical'" in str(exc.value.code)
        assert "'graph'" in str(exc.value.code)
        assert not out.exists() or not any(out.iterdir())


class TestRdfsEntailment:
    FACTS = [
        (1, "ceo_of", 2),
        (1, "works_for", 2),   # coincides with the rdfs7 derivation
        (7, "part_of", 8),
        (3, "born_in", 4),
        (5, "produces", 6),
    ]

    def _facts(self, spark):
        return spark.createDataFrame(
            self.FACTS, "subj_id long, pred string, obj_id long"
        )

    def test_extend_facts_golden(self, spark):
        from kg.reason import rdfs_extend_facts

        got = {(r.subj_id, r.pred, r.obj_id): r.rule
               for r in rdfs_extend_facts(self._facts(spark)).collect()}
        assert got == {
            (1, "ceo_of", 2): "asserted",
            # asserted wins over the ceo_of -> works_for derivation
            (1, "works_for", 2): "asserted",
            # two-step chain ceo_of < works_for < affiliated_with
            (1, "affiliated_with", 2): "subprop",
            (7, "part_of", 8): "asserted",
            (7, "affiliated_with", 8): "subprop",
            (3, "born_in", 4): "asserted",
            (5, "produces", 6): "asserted",
        }

    def test_types_golden_with_subclass_closure(self, spark):
        from kg.reason import rdfs_types

        got = {}
        for r in rdfs_types(self._facts(spark)).collect():
            got.setdefault(r.entity_id, set()).add(r.etype)
        assert got == {
            1: {"PERSON", "AGENT", "ENTITY"},
            2: {"ORG", "AGENT", "ENTITY"},
            3: {"PERSON", "AGENT", "ENTITY"},
            4: {"PLACE", "LOCATION", "ENTITY"},
            5: {"ORG", "AGENT", "ENTITY"},
            6: {"PRODUCT", "ENTITY"},
            # 7/8: affiliated_with carries no domain/range signature
        }

    def test_partition_invariant(self, spark):
        from kg.reason import rdfs_extend_facts, rdfs_types

        f = self._facts(spark)
        a = sorted(map(tuple, rdfs_types(f).collect()))
        b = sorted(map(tuple, rdfs_types(f.repartition(5)).collect()))
        assert a == b
        c = sorted(map(tuple, rdfs_extend_facts(f.repartition(3))
                       .collect()))
        assert sorted(map(tuple, rdfs_extend_facts(f).collect())) == c


class TestSourceTrust:
    CLAIMS = "source string, subj string, pred string, obj string"

    def _claims(self, spark, parts=3):
        # s1 and s2 corroborate each other on three facts; s3 is a lone
        # outlier contradicting them on (acme, hq_in, *).
        rows = [
            ("s1", "acme", "hq_in", "berlin"),
            ("s2", "acme", "hq_in", "berlin"),
            ("s3", "acme", "hq_in", "paris"),
            ("s1", "acme", "ceo", "ada"),
            ("s2", "acme", "ceo", "ada"),
            ("s1", "ada", "born_in", "london"),
            ("s2", "ada", "born_in", "london"),
            ("s3", "ada", "born_in", "oslo"),
        ]
        return spark.createDataFrame(rows, self.CLAIMS).repartition(parts)

    def test_corroborated_fact_wins(self, spark):
        from kg.reason import fact_beliefs

        out = {
            (r.subj, r.pred, r.obj): r
            for r in fact_beliefs(self._claims(spark), iterations=4).collect()
        }
        assert out[("acme", "hq_in", "berlin")].is_best
        assert not out[("acme", "hq_in", "paris")].is_best
        assert out[("ada", "born_in", "london")].is_best
        assert not out[("ada", "born_in", "oslo")].is_best
        assert (
            out[("acme", "hq_in", "berlin")].belief
            > out[("acme", "hq_in", "paris")].belief
        )
        assert out[("acme", "hq_in", "berlin")].n_sources == 2

    def test_outlier_source_less_trusted(self, spark):
        from kg.reason import source_trust

        t = {
            r.source: r
            for r in source_trust(self._claims(spark), iterations=4).collect()
        }
        assert t["s1"].trust == t["s2"].trust == 1.0  # max-normalized
        assert t["s3"].trust < t["s1"].trust
        assert t["s1"].n_claims == 3 and t["s3"].n_claims == 2

    def test_duplicate_claims_collapse(self, spark):
        # the same (source, fact) row twice must not double-count
        from kg.reason import fact_beliefs

        base = self._claims(spark)
        doubled = base.unionByName(base)
        a = sorted(map(tuple, fact_beliefs(base, iterations=3).collect()))
        b = sorted(map(tuple, fact_beliefs(doubled, iterations=3).collect()))
        assert a == b

    def test_partition_invariant(self, spark):
        from kg.reason import source_trust

        a = sorted(
            map(tuple, source_trust(self._claims(spark, 1), 4).collect())
        )
        b = sorted(
            map(tuple, source_trust(self._claims(spark, 7), 4).collect())
        )
        assert a == b


class TestApplyRules:
    @staticmethod
    def _facts(spark, rows):
        return spark.createDataFrame(
            rows, "subj_id long, pred string, obj_id long"
        )

    def test_recursion_and_asserted_wins(self, spark):
        from kg.reason import apply_rules

        facts = self._facts(
            spark,
            [(1, "part_of", 2), (2, "part_of", 3), (3, "part_of", 4),
             (1, "indirect_part", 3)],  # asserted -> never re-derived
        )
        rules = [
            (0, [("?x", "part_of", "?y"), ("?y", "part_of", "?z")],
             ("?x", "indirect_part", "?z")),
            (1, [("?x", "indirect_part", "?y"), ("?y", "part_of", "?z")],
             ("?x", "indirect_part", "?z")),
        ]
        got = {
            (r.subj_id, r.pred, r.obj_id): (r.rule_id, r["round"])
            for r in apply_rules(facts, rules, rounds=2).collect()
        }
        # (1,3) is asserted -> absent; (2,4) seed; (1,4) arrives round 1
        # via rule 1 chaining on the ASSERTED indirect_part(1,3)
        assert got == {
            (2, "indirect_part", 4): (0, 1),
            (1, "indirect_part", 4): (1, 1),
        }

    def test_tie_breaks_min_rule_id(self, spark):
        from kg.reason import apply_rules

        facts = self._facts(spark, [(1, "a", 2), (2, "b", 3)])
        rules = [
            (7, [("?x", "a", "?y"), ("?y", "b", "?z")], ("?x", "c", "?z")),
            (3, [("?x", "a", "?y"), ("?y", "b", "?z")], ("?x", "c", "?z")),
        ]
        rows = apply_rules(facts, rules, rounds=1).collect()
        assert len(rows) == 1 and rows[0].rule_id == 3

    def test_literal_head_term(self, spark):
        from kg.reason import apply_rules

        facts = self._facts(spark, [(1, "ceo_of", 2)])
        rules = [
            (0, [("?x", "ceo_of", "?y")], ("?x", "has_type", 999)),
        ]
        rows = apply_rules(facts, rules, rounds=1).collect()
        assert [(r.subj_id, r.pred, r.obj_id) for r in rows] == [
            (1, "has_type", 999)
        ]

    def test_rounds_bound_recursion(self, spark):
        from kg.reason import apply_rules

        chain = [(i, "p", i + 1) for i in range(6)]
        rules = [
            (0, [("?x", "p", "?y"), ("?y", "p", "?z")], ("?x", "p", "?z")),
        ]
        facts = self._facts(spark, chain)
        n1 = apply_rules(facts, rules, rounds=1).count()
        n2 = apply_rules(facts, rules, rounds=2).count()
        assert n2 > n1  # round 2 reaches longer compositions


class TestMineRules:
    def _facts(self, spark, rows):
        return spark.createDataFrame(
            [(int(s), p, int(o)) for s, p, o in rows],
            "subj_id long, pred string, obj_id long",
        )

    def _base_rows(self):
        rows = []
        ceo = [(1, 10), (2, 20), (3, 30), (4, 40)]
        for s, o in ceo:
            rows.append((s, "ceo_of", o))
            rows.append((s, "works_at", o))
        rows += [(5, "works_at", 50), (6, "works_at", 60)]
        for s, o in [(10, 100), (20, 200), (30, 300)]:
            rows.append((s, "acquired", o))
            rows.append((o, "owned_by", s))
        loc = [(10, 7), (20, 8), (30, 9), (40, 7)]
        for s, o in loc:
            rows.append((s, "located_in", o))
        for x, y in ceo:
            for yy, z in loc:
                if y == yy:
                    rows.append((x, "based_in", z))
        return rows

    def test_planted_rules_mined_with_exact_scores(self, spark):
        from kg.reason import mine_rules

        out = mine_rules(
            self._facts(spark, self._base_rows()),
            min_support=3,
            min_conf=0.5,
        )
        got = {
            (r.template, r.body1, r.body2, r.head): (
                r.support, r.body_n, r.conf, r.pca_n, r.pca_conf
            )
            for r in out.collect()
        }
        # implication: every ceo_of is a works_at (conf 1.0)
        assert got[("same", "ceo_of", "", "works_at")] == (4, 4, 1.0, 4, 1.0)
        # reverse direction: 4/6 std conf, but PCA lifts to 1.0 — the two
        # works_at-only subjects (5, 6) assert NO ceo_of fact at all, so
        # the partial-completeness denominator excludes them
        assert got[("same", "works_at", "", "ceo_of")] == (
            4, 6, 4 / 6, 4, 1.0
        )
        # inverse template both directions at conf 1.0
        assert got[("inverse", "acquired", "", "owned_by")][2] == 1.0
        assert got[("inverse", "owned_by", "", "acquired")][2] == 1.0
        # chain: based_in <- ceo_of & located_in, conf 1.0
        assert got[("chain", "ceo_of", "located_in", "based_in")] == (
            4, 4, 1.0, 4, 1.0
        )

    def test_min_support_and_conf_gates(self, spark):
        from kg.reason import mine_rules

        facts = self._facts(spark, self._base_rows())
        strict = mine_rules(facts, min_support=5, min_conf=0.5)
        assert strict.where(
            (F.col("template") == "same") & (F.col("head") == "works_at")
        ).count() == 0  # support 4 < 5

    def test_mid_cap_drops_hub_chains(self, spark):
        from kg.reason import mine_rules

        # hub node 99: 10 in-edges x 10 out-edges through one mid node
        rows = [(i, "a", 99) for i in range(10)]
        rows += [(99, "b", 100 + i) for i in range(10)]
        rows += [(i, "c", 100 + i) for i in range(10)]
        facts = self._facts(spark, rows)
        uncapped = mine_rules(facts, min_support=1, min_conf=0.0)
        capped = mine_rules(facts, min_support=1, min_conf=0.0, mid_cap=5)
        u = {
            (r.template, r.body1, r.body2, r.head)
            for r in uncapped.collect()
        }
        c = {
            (r.template, r.body1, r.body2, r.head)
            for r in capped.collect()
        }
        assert ("chain", "a", "b", "c") in u
        # every chain candidate routes through the capped hub -> gone
        assert not {k for k in c if k[0] == "chain"}
        # non-chain templates unaffected by the cap
        assert {k for k in u if k[0] != "chain"} == {
            k for k in c if k[0] != "chain"
        }


class TestCheckCardinality:
    def _fixture(self, spark):
        facts = spark.createDataFrame(
            [
                ("a", "ceo_of", "x"), ("a", "ceo_of", "y"),  # excess (max 1)
                ("a", "located_in", "p"),
                ("b", "located_in", "p"), ("b", "located_in", "q"),
                ("b", "ceo_of", "x"),
                # c: no located_in -> missing; one ceo_of -> ok
                ("c", "ceo_of", "z"),
                ("untyped", "ceo_of", "m"),  # no type row -> never flagged
            ],
            "subj string, pred string, obj string",
        )
        types = spark.createDataFrame(
            [("a", "Org"), ("b", "Org"), ("c", "Org"), ("d", "Other")],
            "subj string, type string",
        )
        shapes = spark.createDataFrame(
            [("Org", "ceo_of", 1, 1), ("Org", "located_in", 1, None)],
            "type string, pred string, min_count int, max_count int",
        )
        return facts, types, shapes

    def test_missing_excess_and_open_world(self, spark):
        from kg.reason import check_cardinality

        facts, types, shapes = self._fixture(spark)
        got = {
            (r.subj, r.pred): (r.n, r.violation)
            for r in check_cardinality(facts, types, shapes).collect()
        }
        assert got == {
            ("a", "ceo_of"): (2, "excess"),
            ("c", "located_in"): (0, "missing"),
        }
        # unbounded max: b's two located_in rows are fine; untyped entity
        # and shape-less type 'Other' produce nothing (open world)


class TestTransitiveReduction:
    def _facts(self, spark, edges):
        return spark.createDataFrame(
            [(a, "part_of", b) for a, b in edges],
            "subj_id long, pred string, obj_id long",
        )

    def test_shortcuts_flagged_chain_kept(self, spark):
        from kg.reason import transitive_reduction

        # chain 1->2->3->4 plus shortcut edges 1->3 (2-hop alt) and
        # 1->4 (3-hop alt)
        facts = self._facts(
            spark, [(1, 2), (2, 3), (3, 4), (1, 3), (1, 4)]
        )
        got = {
            (r.subj_id, r.obj_id): r.redundant
            for r in transitive_reduction(facts, "part_of").collect()
        }
        assert got == {
            (1, 2): False, (2, 3): False, (3, 4): False,
            (1, 3): True, (1, 4): True,
        }

    def test_two_cycle_edges_kept(self, spark):
        from kg.reason import transitive_reduction

        facts = self._facts(spark, [(5, 6), (6, 5)])
        got = {
            (r.subj_id, r.obj_id): r.redundant
            for r in transitive_reduction(facts, "part_of").collect()
        }
        assert got == {(5, 6): False, (6, 5): False}

    def test_reduction_preserves_closure(self, spark):
        from kg.reason import infer_transitive, transitive_reduction

        edges = [(i, i + 1) for i in range(1, 8)] + [
            (1, 3), (2, 5), (4, 8), (1, 8)
        ]
        facts = self._facts(spark, edges)
        red = transitive_reduction(facts, "part_of", max_depth=8)
        kept = self._facts(
            spark,
            [(r.subj_id, r.obj_id) for r in red.collect() if not r.redundant],
        )
        full = {
            (r.subj_id, r.obj_id)
            for r in infer_transitive(facts, "part_of", 8).collect()
        }
        reduced = {
            (r.subj_id, r.obj_id)
            for r in infer_transitive(kept, "part_of", 8).collect()
        }
        assert full == reduced
