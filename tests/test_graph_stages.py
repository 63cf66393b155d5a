"""Connected components, linking (broadcast + salted), canonicalization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg import synth
from kg.cc import connected_components
from kg.salt import salted_join
from kg.stages.canon import canonicalize_aliases
from kg.stages.link import link_triples


def _comps(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    rows = connected_components(edges).collect()
    groups: dict[int, set[int]] = {}
    for r in rows:
        groups.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(g) for g in groups.values()}


def test_cc_chain_and_star(spark):
    assert _comps(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == {frozenset({1, 2, 3, 4, 5})}
    assert _comps(spark, [(10, 1), (10, 2), (10, 3)]) == {frozenset({1, 2, 3, 10})}


def test_cc_two_components_and_dups(spark):
    got = _comps(spark, [(1, 2), (2, 1), (2, 3), (7, 8), (8, 8), (9, 9)])
    # self-loops contribute their node only if it also has a real edge;
    # pure self-loop nodes (9) are isolated and dropped by the edge filter
    assert frozenset({1, 2, 3}) in got
    assert frozenset({7, 8}) in got


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


def test_cc_long_chain_converges(spark):
    n = 40
    assert _comps(spark, [(i, i + 1) for i in range(n)]) == {frozenset(range(n + 1))}


@pytest.fixture(scope="module")
def alias_sdf(spark):
    return spark.createDataFrame(synth.alias_df())


def test_link_triples_broadcast(spark, alias_sdf):
    triples = spark.createDataFrame(
        [
            ("u1", "Acme Corp", "acquired", "Globex", 1.0),
            ("u1", "The Unknown Co", "founded", "A. Turing", 1.0),
        ],
        "url string, subj string, pred string, obj string, conf double",
    )
    got = {
        (r["subj"], r["subj_id"], r["obj"], r["obj_id"])
        for r in link_triples(triples, alias_sdf).collect()
    }
    assert ("Acme Corp", 1, "Globex", 2) in got
    assert ("The Unknown Co", None, "A. Turing", 7) in got


def test_link_triples_salted_equals_broadcast(spark, alias_sdf):
    pages = synth.gen_pages(120, seed=42)
    triples_pdf = synth.expected_triples(pages)
    triples_pdf["conf"] = 1.0
    triples = spark.createDataFrame(triples_pdf)
    a = link_triples(triples, alias_sdf, use_salting=False).toPandas()
    b = link_triples(triples, alias_sdf, use_salting=True, n_salts=8).toPandas()
    key = ["url", "subj", "pred", "obj"]
    a_rows = sorted(map(tuple, a.fillna(-1)[key + ["subj_id", "obj_id"]].values))
    b_rows = sorted(map(tuple, b.fillna(-1)[key + ["subj_id", "obj_id"]].values))
    assert a_rows == b_rows
    assert len(a_rows) == len(triples_pdf)


def test_subject_frequencies_shows_skew():
    pages = synth.gen_pages(300, seed=42)
    top = synth.expected_triples(pages)["subj"].value_counts().head(3)
    assert set(top.index) <= set(synth.HOT_SUBJECTS) | {"Lovelace", "Turing"}
    assert top.iloc[0] > 20


def test_salted_join_requires_entropy(spark, alias_sdf):
    f = spark.createDataFrame([("a", 1)], "k string, v int")
    d = spark.createDataFrame([("a", 2)], "k string, w int")
    with pytest.raises(ValueError):
        salted_join(f, d, "k")


def test_canonicalize_recovers_alias_groups(spark, alias_sdf):
    got = canonicalize_aliases(alias_sdf.select("alias", "alias_norm")).collect()
    by_alias = {}
    for r in got:
        for a in r["aliases"]:
            by_alias[a] = r["entity_id"]
    # same ground-truth group -> same component
    for _eid, _canon, aliases in synth.ALIAS_GROUPS:
        ids = {by_alias[a] for a in aliases}
        assert len(ids) == 1, (aliases, ids)
    # distinct groups stay distinct except by-design norm overlaps
    assert by_alias["Acme Corporation"] != by_alias["Globex"]
    assert by_alias["Ada Lovelace"] != by_alias["Alan Turing"]
    # canonical of the Acme group is its longest surface
    acme = [r for r in got if "Acme Corp" in r["aliases"]][0]
    assert acme["canonical"] == "Acme Corporation"
    assert acme["n_aliases"] >= 3


def test_cc_local_fastpath_equals_distributed(spark):
    """The union-find fast path and the large-star/small-star path must
    produce identical (node, component) sets — checked on a seeded random
    graph with chains, cliques, and isolated pairs."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(180)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(
        map(tuple, connected_components(df, local_threshold=0).collect())
    )
    assert local == dist


def test_cc_threshold_boundary(spark):
    # exactly at the threshold -> local path; just below threshold forces
    # distributed; both agree
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    a = sorted(map(tuple, connected_components(df, local_threshold=6).collect()))
    b = sorted(map(tuple, connected_components(df, local_threshold=5).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


class TestAliasPriors:
    def test_priors_and_argmax(self, spark):
        from kg.stages.link import alias_priors

        rows = (
            [("u1", "Jaguar", "cars", "gazetteer")] * 7
            + [("u2", "Jaguar", "animals", "gazetteer")] * 3
            + [("u3", "Pear", "fruits", "gazetteer")]
        )
        df = spark.createDataFrame(
            rows, "url string, matched_word string, entity_name string,"
            " detector string")
        got = {(r["surface"], r["entity"]):
               (r["n"], r["n_total"], r["prior"], r["top_entity"])
               for r in alias_priors(df).collect()}
        assert got[("Jaguar", "cars")] == (7, 10, 0.7, True)
        assert got[("Jaguar", "animals")] == (3, 10, 0.3, False)
        assert got[("Pear", "fruits")] == (1, 1, 1.0, True)

    def test_tie_breaks_to_smallest_entity(self, spark):
        from kg.stages.link import alias_priors

        rows = [("u1", "x", "bbb", "g"), ("u2", "x", "aaa", "g")]
        df = spark.createDataFrame(
            rows, "url string, matched_word string, entity_name string,"
            " detector string")
        got = {r["entity"]: r["top_entity"]
               for r in alias_priors(df).collect()}
        assert got == {"aaa": True, "bbb": False}


class TestFuzzyAliasPairs:
    def test_matches_bruteforce(self, spark):
        import itertools

        def ed(a, b):
            # classic DP levenshtein
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[-1]

        from kg.stages.canon import fuzzy_alias_pairs

        names = [
            "globex", "globx", "glovex", "acme", "acmee", "acme corp",
            "acme corps", "initech", "intech", "a", "b", "ab", "ba",
        ]
        df = spark.createDataFrame([(n,) for n in names], "alias_norm string")
        got = sorted(map(tuple, fuzzy_alias_pairs(df.repartition(5)).collect()))
        want = sorted(
            (x, y)
            for x, y in itertools.combinations(sorted(names), 2)
            if ed(x, y) <= 1
        )
        assert got == want and len(want) >= 6

    def test_bucket_cap_drops_megavariant(self, spark):
        from kg.stages.canon import fuzzy_alias_pairs

        # 20 two-char strings all sharing the "" deletion variant: with
        # max_bucket=4 the ""-bucket is dropped, but pairs still surface
        # through their other (single-char) shared variants
        names = [c + "x" for c in "abcdefghij"] + ["xa", "xb"]
        df = spark.createDataFrame([(n,) for n in names], "alias_norm string")
        uncapped = set(map(tuple, fuzzy_alias_pairs(df).collect()))
        capped = set(
            map(tuple, fuzzy_alias_pairs(df, max_bucket=4).collect())
        )
        assert capped <= uncapped
        # 'ax'/'xa'-style pairs (ed 2) never appear in either
        assert ("ax", "xa") not in uncapped


class TestWeightedLinking:
    def test_priors_override_min_id_fallback(self, spark):
        from pyspark.sql import functions as F

        from kg.stages.link import link_triples

        triples = spark.createDataFrame(
            [("u1", "Acme", "acquired", "Globex", 1.0)],
            "url string, subj string, pred string, obj string, conf double",
        )
        dim = spark.createDataFrame(
            [
                ("Acme", "acme", 7, "Acme Corp"),
                ("acme-decoy", "acme", 0, "Decoy"),
                ("Globex", "globex", 2, "Globex"),
            ],
            "alias string, alias_norm string, entity_id long,"
            " canonical string",
        )
        # without weights: min entity_id picks the decoy (0)
        plain = link_triples(triples, dim).collect()[0]
        assert plain.subj_id == 0 and plain.subj_canonical == "Decoy"
        # with a prior on the true entity: weight wins over min-id
        w = spark.createDataFrame(
            [("acme", 7, 0.9)],
            "alias_norm string, entity_id long, weight double",
        )
        prior = link_triples(triples, dim, weights=w).collect()[0]
        assert prior.subj_id == 7 and prior.subj_canonical == "Acme Corp"
        assert prior.obj_id == 2  # unweighted aliases keep min-id behavior

    def test_weight_ties_break_by_min_id(self, spark):
        from kg.stages.link import link_triples

        triples = spark.createDataFrame(
            [("u1", "Acme", "p", "x", 1.0)],
            "url string, subj string, pred string, obj string, conf double",
        )
        dim = spark.createDataFrame(
            [("a", "acme", 5, "A5"), ("b", "acme", 3, "A3")],
            "alias string, alias_norm string, entity_id long,"
            " canonical string",
        )
        w = spark.createDataFrame(
            [("acme", 5, 0.5), ("acme", 3, 0.5)],
            "alias_norm string, entity_id long, weight double",
        )
        out = link_triples(triples, dim, weights=w).collect()[0]
        assert out.subj_id == 3


class TestPredicateCanon:
    """Schema canonicalization: extensional-overlap synonym merging."""

    @staticmethod
    def _claims(spark, rows):
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string"
        )

    def test_synonyms_merge_distinct_stay(self, spark):
        from kg.stages.canon import canonicalize_predicates

        pairs = [(f"s{i}", f"o{i}") for i in range(10)]
        rows = [(s, "works_for", o) for s, o in pairs]
        rows += [(s, "employed_by", o) for s, o in pairs[:6]]  # J = 0.6
        rows += [(f"t{i}", "born_in", f"p{i}") for i in range(10)]
        got = {
            r["pred"]: r
            for r in canonicalize_predicates(
                self._claims(spark, rows), min_shared_pairs=2,
                min_jaccard=0.5,
            ).collect()
        }
        assert got["employed_by"]["canon_pred"] == "employed_by"
        assert got["works_for"]["canon_pred"] == "employed_by"
        assert got["born_in"]["canon_pred"] == "born_in"
        assert got["works_for"]["n_pairs"] == 10
        assert got["employed_by"]["n_pairs"] == 6

    def test_pair_cap_blocks_boilerplate_pair(self, spark):
        from kg.stages.canon import canonicalize_predicates

        # one hot (s, o) pair asserted under every predicate is the only
        # overlap between p0..p4; with pair_cap below 5 it is dropped and
        # nothing merges
        rows = [(f"s{p}{i}", f"p{p}", f"o{p}{i}") for p in range(5)
                for i in range(3)]
        rows += [("hot", f"p{p}", "pair") for p in range(5)]
        got = canonicalize_predicates(
            self._claims(spark, rows), min_shared_pairs=1, min_jaccard=0.1,
            pair_cap=4,
        ).collect()
        assert all(r["pred"] == r["canon_pred"] for r in got)
        uncapped = canonicalize_predicates(
            self._claims(spark, rows), min_shared_pairs=1, min_jaccard=0.1,
            pair_cap=32,
        ).collect()
        assert {r["canon_pred"] for r in uncapped} == {"p0"}

    def test_chain_converges_within_rounds(self, spark):
        from kg.stages.canon import canonicalize_predicates

        # a <-> b share pairs x0..x9, b <-> c share y0..y9: a-b-c chain,
        # diameter 2 < rounds, so all three reach canon 'a'
        rows = [(f"x{i}", p, f"xo{i}") for i in range(10) for p in ("a", "b")]
        rows += [(f"y{i}", p, f"yo{i}") for i in range(10) for p in ("b", "c")]
        got = canonicalize_predicates(
            self._claims(spark, rows), min_shared_pairs=5, min_jaccard=0.2,
            rounds=4,
        ).collect()
        assert {r["canon_pred"] for r in got} == {"a"}
        assert {r["pred"]: r["n_pairs"] for r in got} == {
            "a": 10, "b": 20, "c": 10,
        }


class TestPersonNames:
    @staticmethod
    def _run(spark, names, **kw):
        from kg.stages.canon import canonicalize_person_names

        df = spark.createDataFrame([(n,) for n in names], "name string")
        return {
            r["name"]: r
            for r in canonicalize_person_names(df, **kw).collect()
        }

    def test_initial_routes_same_letter_hub_merges_all(self, spark):
        got = self._run(
            spark,
            ["Bob Smith", "B. Smith", "Bill Smith", "Alice Smith",
             "Smith", "Alice Jones", "Amy Jones", "Carol Jones"],
        )
        # hub "Smith" merges every Smith variant (incl. Alice)
        smiths = {n for n, r in got.items() if r["cluster"] == got["Smith"]["cluster"]}
        assert smiths == {"Bob Smith", "B. Smith", "Bill Smith",
                          "Alice Smith", "Smith"}
        assert got["Smith"]["canonical"] in ("Alice Smith",)  # most specific
        # no Jones hub: Alice/Amy merge via the shared "A. ..." letter?
        # no initial surface exists, so they stay separate
        assert got["Alice Jones"]["cluster"] != got["Amy Jones"]["cluster"]
        assert got["Carol Jones"]["cluster"] != got["Alice Jones"]["cluster"]

    def test_initial_form_bridges_same_letter_firsts(self, spark):
        got = self._run(spark, ["Bob Smith", "Bill Smith", "B. Smith"])
        cl = {r["cluster"] for r in got.values()}
        assert len(cl) == 1  # bridged through "B. Smith" (diameter 2)
        assert got["Bob Smith"]["n_members"] == 3

    def test_different_letters_stay_apart_without_hub(self, spark):
        got = self._run(spark, ["Bob Smith", "Carol Smith"])
        assert got["Bob Smith"]["cluster"] != got["Carol Smith"]["cluster"]

    def test_block_cap_drops_mega_surname(self, spark):
        names = [f"P{i} Hot" for i in range(9)] + ["Hot", "Ann Cold", "Cold"]
        got = self._run(spark, names, max_block=5)
        # "hot" block (10 surfaces) over cap -> no edges -> singletons
        assert got["P0 Hot"]["n_members"] == 1
        assert got["Ann Cold"]["n_members"] == 2


class TestNilCluster:
    def _linked(self, spark, rows):
        # rows: (url, subj, obj, subj_id, obj_id)
        return spark.createDataFrame(
            rows,
            "url string, subj string, pred string, obj string,"
            " subj_id long, obj_id long",
        )

    def test_transitive_chain_and_canonical(self, spark):
        from kg.stages.link import nil_cluster

        rows = [
            ("u1", "Dr Ada King", "p", "Ada King", None, None),
            ("u2", "Ada King", "p", "King", None, None),
        ]
        got = {
            r["surface_norm"]: r
            for r in nil_cluster(self._linked(spark, rows)).collect()
        }
        assert len(got) == 3
        ids = {r["nil_id"] for r in got.values()}
        assert len(ids) == 1  # one cluster via transitivity
        assert all(r["nil_id"] < 0 for r in got.values())
        assert all(
            r["canonical"] == "dr ada king" for r in got.values()
        )

    def test_linked_surfaces_excluded_and_counts(self, spark):
        from kg.stages.link import nil_cluster

        rows = [
            ("u1", "Known Corp", "p", "Mystery Co", 7, None),
            ("u2", "Mystery Co", "p", "Known Corp", None, 7),
        ]
        got = nil_cluster(self._linked(spark, rows)).collect()
        assert len(got) == 1
        assert got[0]["surface_norm"] == "mystery co"
        assert got[0]["n_mentions"] == 2  # obj role + subj role

    def test_per_doc_cap_blocks_junk_page_edges(self, spark):
        from kg.stages.link import nil_cluster

        junk = [
            ("spam", f"Alpha {i}", "p", f"Alpha {i} X", None, None)
            for i in range(6)
        ]
        rows = junk + [("ok", "Beta Inc", "p", "Beta", None, None)]
        got = nil_cluster(self._linked(spark, rows), max_per_doc=4).collect()
        by_surface = {r["surface_norm"]: r["nil_id"] for r in got}
        # the spam page's containment pairs are suppressed: every alpha
        # surface is its own cluster
        alpha_ids = {v for k, v in by_surface.items() if k.startswith("alpha")}
        assert len(alpha_ids) == 12
        # the small doc still clusters
        assert by_surface["beta inc"] == by_surface["beta"]

    def test_containment_requires_token_boundary(self, spark):
        from kg.stages.link import nil_cluster

        # 'rome' is a substring of 'romeo corp' but NOT a token
        # subsequence -> no edge
        rows = [("u1", "Romeo Corp", "p", "Rome", None, None)]
        got = nil_cluster(self._linked(spark, rows)).collect()
        assert len({r["nil_id"] for r in got}) == 2

    def test_partition_invariant(self, spark):
        from kg.stages.link import nil_cluster

        rows = [
            ("u1", "Dr Ada King", "p", "Ada King", None, None),
            ("u2", "Ada King", "p", "King", None, None),
            ("u3", "Gamma Gmbh", "p", "Gamma", None, None),
        ] * 3
        df = self._linked(spark, [(f"{u}#{i}", s, p, o, a, b)
                                  for i, (u, s, p, o, a, b) in enumerate(rows)])
        one = sorted(map(tuple, nil_cluster(df).collect()))
        two = sorted(map(tuple, nil_cluster(df.repartition(13)).collect()))
        assert one == two


class TestContextDisambiguation:
    def _data(self, spark):
        mentions = spark.createDataFrame(
            [
                (1, "jaguar", "the fast car engine roared"),
                (2, "jaguar", "the wild cat prowled the jungle"),
                (3, "jaguar", ""),
            ],
            "mention_id long, surface_norm string, context string",
        )
        cands = spark.createDataFrame(
            [
                ("jaguar", 1, "a british car maker with fast engine"),
                ("jaguar", 2, "a large wild cat of the jungle"),
            ],
            "surface_norm string, entity_id long, description string",
        )
        priors = spark.createDataFrame(
            [("jaguar", 1, 0.7), ("jaguar", 2, 0.3)],
            "surface_norm string, entity_id long, prior double",
        )
        return mentions, cands, priors

    def test_context_overrides_prior(self, spark):
        from kg.stages.link import disambiguate_by_context

        mentions, cands, priors = self._data(spark)
        got = {
            r["mention_id"]: r["entity_id"]
            for r in disambiguate_by_context(
                mentions, cands, priors, alpha=0.5
            ).collect()
        }
        # car context -> car; jungle context beats the 0.7 prior;
        # empty context -> the prior decides
        assert got == {1: 1, 2: 2, 3: 1}

    def test_alpha_one_is_pure_prior(self, spark):
        from kg.stages.link import disambiguate_by_context

        mentions, cands, priors = self._data(spark)
        got = {
            r["mention_id"]: r["entity_id"]
            for r in disambiguate_by_context(
                mentions, cands, priors, alpha=1.0
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}

    def test_no_priors_context_only_with_id_tiebreak(self, spark):
        from kg.stages.link import disambiguate_by_context

        mentions, cands, _ = self._data(spark)
        got = {
            r["mention_id"]: (r["entity_id"], r["prior"])
            for r in disambiguate_by_context(
                mentions, cands, None, alpha=0.4
            ).collect()
        }
        assert got[1] == (1, None)
        assert got[2] == (2, None)
        # empty context + no prior: every score 0 -> smallest entity id
        assert got[3] == (1, None)

    def test_alpha_validation(self, spark):
        from kg.stages.link import disambiguate_by_context

        mentions, cands, priors = self._data(spark)
        with pytest.raises(ValueError):
            disambiguate_by_context(mentions, cands, priors, alpha=2.0)
