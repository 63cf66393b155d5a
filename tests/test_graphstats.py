"""Graph analytics (kg/graphstats.py) and incremental merge
(kg/ops/merge.py)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from kg.graphstats import (
    degree_stats,
    entity_cooccurrence,
    khop_reachability,
    pagerank,
    triangle_stats,
)
from kg.ops.merge import upsert_latest


@pytest.fixture(scope="module")
def tiny_edges(spark):
    # 1->2, 1->3, 2->3, 3->1, plus dangling node 4 (in-edges only)
    rows = [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4)]
    return spark.createDataFrame(rows, "src long, dst long")


def _numpy_pagerank(edges, iters, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out_deg = {u: 0 for u in nodes}
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dang = sum(r[idx[u]] for u in nodes if out_deg[u] == 0)
        c = np.zeros(n)
        for s, t in edges:
            c[idx[t]] += r[idx[s]] / out_deg[s]
        r = (1 - d) / n + d * dang / n + d * c
    return {u: r[idx[u]] for u in nodes}


class TestPagerank:
    def test_matches_independent_numpy_recurrence(self, spark, tiny_edges):
        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4)]
        want = _numpy_pagerank(edges, iters=8)
        got = {r["node"]: r["rank"] for r in pagerank(tiny_edges, 8).collect()}
        assert set(got) == set(want)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-9)

    def test_ranks_sum_to_one(self, spark, tiny_edges):
        total = pagerank(tiny_edges, 4).agg(F.sum("rank")).first()[0]
        assert total == pytest.approx(1.0, abs=1e-6)

    def test_partition_invariant(self, spark, tiny_edges):
        a = sorted(pagerank(tiny_edges, 4).collect())
        b = sorted(pagerank(tiny_edges.repartition(7), 4).collect())
        assert a == b


class TestDegrees:
    def test_known_degrees(self, spark, tiny_edges):
        got = {r["node"]: (r["out_degree"], r["in_degree"], r["degree"])
               for r in degree_stats(tiny_edges).collect()}
        assert got == {
            1: (2, 1, 3), 2: (2, 1, 3), 3: (1, 2, 3), 4: (0, 1, 1),
        }


class TestTriangles:
    def test_k4_plus_pendant(self, spark):
        # K4 on 1..4 (every node in 3 triangles, lcc=1) plus pendant 5-1
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges = spark.createDataFrame(k4 + [(5, 1)], "src long, dst long")
        got = {r["node"]: (r["degree"], r["triangles"], r["lcc"])
               for r in triangle_stats(edges).collect()}
        assert got[5] == (1, 0, 0.0)
        assert got[1] == (4, 3, 0.5)  # 3 of C(4,2)=6 neighbor pairs linked
        for n in (2, 3, 4):
            assert got[n] == (3, 3, 1.0)

    def test_direction_and_duplicates_collapse(self, spark):
        # triangle given with mixed directions + a reverse duplicate edge
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 2), (1, 3)], "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in triangle_stats(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_partition_invariant(self, spark, tiny_edges):
        a = sorted(map(tuple, triangle_stats(tiny_edges).collect()))
        b = sorted(map(tuple, triangle_stats(
            tiny_edges.repartition(5)).collect()))
        assert a == b


class TestCooccurrence:
    def test_pairs_and_min_count(self, spark):
        rows = [
            ("d1", "A"), ("d1", "B"), ("d1", "B"),  # dup mention collapses
            ("d2", "A"), ("d2", "B"), ("d2", "C"),
            ("d3", "A"), ("d3", "C"),
        ]
        m = spark.createDataFrame(rows, "url string, entity_name string")
        got = {(r["entity_a"], r["entity_b"]): r["n_docs"]
               for r in entity_cooccurrence(m, min_count=1).collect()}
        assert got == {("A", "B"): 2, ("A", "C"): 2, ("B", "C"): 1}
        got2 = entity_cooccurrence(m, min_count=2).collect()
        assert {(r["entity_a"], r["entity_b"]) for r in got2} == {
            ("A", "B"), ("A", "C")}

    def test_skew_cap_drops_pathological_doc(self, spark):
        rows = [("big", f"E{i}") for i in range(50)] + [
            ("ok", "A"), ("ok", "B")]
        m = spark.createDataFrame(rows, "url string, entity_name string")
        got = entity_cooccurrence(m, max_entities_per_doc=10).collect()
        assert {(r["entity_a"], r["entity_b"]) for r in got} == {("A", "B")}


TS = dt.datetime(2024, 1, 1)


def _ts(h):
    return TS + dt.timedelta(hours=h)


class TestUpsertLatest:
    def test_latest_wins_and_stale_delta_ignored(self, spark):
        existing = spark.createDataFrame(
            [(1, "k1", _ts(5), 10), (2, "k2", _ts(5), 20)],
            "id long, key string, ts timestamp, v long")
        delta = spark.createDataFrame(
            [(3, "k1", _ts(9), 11),   # newer: replaces
             (4, "k2", _ts(1), 21),   # STALE: must not clobber
             (5, "k3", _ts(2), 30)],  # new key: inserted
            "id long, key string, ts timestamp, v long")
        got = {r["key"]: (r["id"], r["v"]) for r in upsert_latest(
            existing, delta, keys=["key"], ts_col="ts", seq_col="id"
        ).collect()}
        assert got == {"k1": (3, 11), "k2": (2, 20), "k3": (5, 30)}

    def test_idempotent_replay_and_tiebreak(self, spark):
        existing = spark.createDataFrame(
            [(1, "k", _ts(5), 10)], "id long, key string, ts timestamp, v long")
        delta = spark.createDataFrame(
            [(2, "k", _ts(5), 11)], "id long, key string, ts timestamp, v long")
        once = upsert_latest(existing, delta, ["key"], "ts", "id")
        # equal ts: higher seq (later ingest) wins deterministically
        assert once.collect()[0]["id"] == 2
        twice = upsert_latest(once, delta, ["key"], "ts", "id")
        assert [tuple(r) for r in twice.collect()] == [
            tuple(r) for r in once.collect()]


class TestKhop:
    def test_path_graph_distances(self, spark):
        # 1->2->3->4->5 chain, seed {1}: dist = hops, capped at k
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 5)], "src long, dst long")
        got = {r["node"]: r["dist"]
               for r in khop_reachability(edges, [1], k=2).collect()}
        assert got == {1: 0, 2: 1, 3: 2}

    def test_min_dist_wins_and_multi_seed(self, spark):
        # 1->2->3, 9->3 with seeds {1, 9}: 3 is reachable at dist 1 via 9
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (9, 3)], "src long, dst long")
        got = {r["node"]: r["dist"]
               for r in khop_reachability(edges, [1, 9], k=3).collect()}
        assert got == {1: 0, 9: 0, 2: 1, 3: 1}

    def test_undirected_and_early_exit(self, spark):
        edges = spark.createDataFrame(
            [(2, 1), (3, 2)], "src long, dst long")
        # directed from 1: nothing outgoing
        d = {r["node"]: r["dist"]
             for r in khop_reachability(edges, [1], k=5).collect()}
        assert d == {1: 0}
        # undirected: reaches the chain
        u = {r["node"]: r["dist"]
             for r in khop_reachability(
                 edges, [1], k=5, directed=False).collect()}
        assert u == {1: 0, 2: 1, 3: 2}

    def test_partition_invariant(self, spark, tiny_edges):
        a = sorted(map(tuple,
                       khop_reachability(tiny_edges, [1], k=3).collect()))
        b = sorted(map(tuple, khop_reachability(
            tiny_edges.repartition(5), [1], k=3).collect()))
        assert a == b


class TestPPR:
    def test_vs_numpy_recurrence(self, spark, tiny_edges):
        import numpy as np

        from kg.graphstats import personalized_pagerank

        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (2, 4)]
        seeds, iters, d = [1], 6, 0.85
        nodes = sorted({u for e in edges for u in e})
        idx = {u: i for i, u in enumerate(nodes)}
        n = len(nodes)
        r = np.zeros(n)
        for s in seeds:
            r[idx[s]] = 1.0 / len(seeds)
        rank = r.copy()
        out = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
        for _ in range(iters):
            dang = sum(rank[idx[u]] for u in nodes if out[u] == 0)
            nxt = (1 - d) * r + d * dang * r
            for a, b in edges:
                nxt[idx[b]] += d * rank[idx[a]] / out[a]
            rank = nxt
        got = {row["node"]: row["rank"]
               for row in personalized_pagerank(
                   tiny_edges, seeds, iterations=iters).collect()}
        for u in nodes:
            assert abs(got[u] - rank[idx[u]]) < 1e-8, u
        # mass conservation: total rank stays 1
        assert abs(sum(got.values()) - 1.0) < 1e-8

    def test_seed_locality(self, spark):
        # two disconnected triangles; seeding in one leaves the other at 0
        from kg.graphstats import personalized_pagerank

        tri = lambda o: [(o, o + 1), (o + 1, o + 2), (o + 2, o)]  # noqa
        edges = spark.createDataFrame(
            tri(1) + tri(10), "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in personalized_pagerank(edges, [1]).collect()}
        assert all(got[n] == 0.0 for n in (10, 11, 12))
        assert all(got[n] > 0.0 for n in (1, 2, 3))

    def test_no_seeds_raises(self, spark, tiny_edges):
        from kg.graphstats import personalized_pagerank

        with pytest.raises(ValueError):
            personalized_pagerank(tiny_edges, [999])


class TestWeightedPagerank:
    def test_vs_numpy(self, spark):
        import numpy as np

        edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0),
                 (2, 4, 1.0)]
        df = spark.createDataFrame(edges, "src long, dst long, wt double")
        iters, d = 6, 0.85
        nodes = sorted({u for a, b, _ in edges for u in (a, b)})
        idx = {u: i for i, u in enumerate(nodes)}
        n = len(nodes)
        out_w = {u: sum(w for a, _, w in edges if a == u) for u in nodes}
        rank = np.full(n, 1.0 / n)
        for _ in range(iters):
            dang = sum(rank[idx[u]] for u in nodes if out_w[u] == 0)
            nxt = np.full(n, (1 - d) / n + d * dang / n)
            for a, b, w in edges:
                nxt[idx[b]] += d * rank[idx[a]] * w / out_w[a]
            rank = nxt
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iterations=iters,
                                 weight_col="wt").collect()}
        for u in nodes:
            assert abs(got[u] - rank[idx[u]]) < 1e-8, u
        assert abs(sum(got.values()) - 1.0) < 1e-8

    def test_rejects_nonpositive_weights(self, spark):
        df = spark.createDataFrame(
            [(1, 2, 0.0)], "src long, dst long, wt double")
        with pytest.raises(ValueError):
            pagerank(df, weight_col="wt")


class TestShortestPaths:
    def test_weighted_beats_fewer_hops(self, spark):
        from kg.graphstats import shortest_paths

        # 1->3 direct costs 10; 1->2->3 costs 2+3=5: weighted min wins
        edges = spark.createDataFrame(
            [(1, 3, 10.0), (1, 2, 2.0), (2, 3, 3.0)],
            "src long, dst long, wt double")
        got = {r["node"]: r["dist"] for r in shortest_paths(
            edges, [1], rounds=5, weight_col="wt").collect()}
        assert got == {1: 0.0, 2: 2.0, 3: 5.0}

    def test_unweighted_matches_khop(self, spark, tiny_edges):
        from kg.graphstats import shortest_paths

        hop = {r["node"]: r["dist"]
               for r in khop_reachability(tiny_edges, [1], k=4).collect()}
        sp = {r["node"]: int(r["dist"]) for r in shortest_paths(
            tiny_edges, [1], rounds=4).collect()}
        assert sp == hop

    def test_multi_seed_undirected_and_parallel_edges(self, spark):
        from kg.graphstats import shortest_paths

        # parallel edges collapse to min weight; undirected doubles them
        edges = spark.createDataFrame(
            [(2, 1, 9.0), (2, 1, 4.0), (3, 2, 1.0), (9, 9, 1.0)],
            "src long, dst long, wt double")
        got = {r["node"]: r["dist"] for r in shortest_paths(
            edges, [1, 9], rounds=6, weight_col="wt",
            directed=False).collect()}
        assert got == {1: 0.0, 9: 0.0, 2: 4.0, 3: 5.0}

    def test_early_exit_and_partition_invariant(self, spark, tiny_edges):
        from kg.graphstats import shortest_paths

        # rounds far beyond convergence: loop exits on empty frontier
        a = sorted(map(tuple, shortest_paths(
            tiny_edges, [1], rounds=50).collect()))
        b = sorted(map(tuple, shortest_paths(
            tiny_edges.repartition(7), [1], rounds=50).collect()))
        assert a == b


class TestPredicateStats:
    def test_known_profile(self, spark):
        from kg.graphstats import predicate_stats

        rows = [  # works_for: 3 triples, 2 subj, 3 obj, 2 docs
            ("u1", "a", "works_for", "x"),
            ("u1", "a", "works_for", "y"),
            ("u2", "b", "works_for", "z"),
            ("u2", "c", "born_in", "p"),  # fully functional: 1/1/1
        ]
        df = spark.createDataFrame(
            rows, "url string, subj string, pred string, obj string")
        got = {r["pred"]: r.asDict() for r in predicate_stats(df).collect()}
        w = got["works_for"]
        assert (w["n_triples"], w["n_subj"], w["n_obj"], w["n_docs"]) == (
            3, 2, 3, 2)
        assert w["fun"] == pytest.approx(2 / 3)
        assert w["inv_fun"] == pytest.approx(1.0)
        b = got["born_in"]
        assert (b["n_triples"], b["fun"], b["inv_fun"]) == (1, 1.0, 1.0)

    def test_partition_invariant(self, spark):
        from kg.graphstats import predicate_stats

        rows = [(f"u{i % 5}", f"s{i % 7}", f"p{i % 3}", f"o{i % 11}")
                for i in range(200)]
        df = spark.createDataFrame(
            rows, "url string, subj string, pred string, obj string")
        a = sorted(map(tuple, predicate_stats(df).collect()))
        b = sorted(map(tuple, predicate_stats(df.repartition(9)).collect()))
        assert a == b


class TestEntityProfile:
    def test_profile_counts_top_pred_and_surface_cap(self, spark):
        from kg.graphstats import entity_profile

        rows = [
            # entity 1: subj twice (pred a, b tie -> 'a' wins lexically),
            # obj once, 2 docs, surfaces Acme/ACME/acme-corp
            ("u1", "Acme", "a", "X", 1, None),
            ("u2", "ACME", "b", "Y", 1, 2),
            ("u2", "Z", "c", "acme-corp", 9, 1),
            # entity 2: never a subject -> top_pred null
        ]
        df = spark.createDataFrame(
            rows, "url string, subj string, pred string, obj string,"
                  " subj_id long, obj_id long")
        got = {r["entity_id"]: r.asDict()
               for r in entity_profile(df).collect()}
        e1 = got[1]
        assert (e1["n_as_subj"], e1["n_as_obj"], e1["n_docs"]) == (2, 1, 2)
        assert e1["top_pred"] == "a"
        assert e1["surfaces"] == "ACME|Acme|acme-corp"
        assert got[2]["top_pred"] is None
        capped = {r["entity_id"]: r["surfaces"]
                  for r in entity_profile(df, max_surfaces=2).collect()}
        assert capped[1] == "ACME|Acme"

    def test_partition_invariant(self, spark):
        from kg.graphstats import entity_profile

        rows = [(f"u{i % 4}", f"s{i % 3}", f"p{i % 2}", f"o{i % 5}",
                 i % 3, i % 5) for i in range(60)]
        df = spark.createDataFrame(
            rows, "url string, subj string, pred string, obj string,"
                  " subj_id long, obj_id long")
        a = sorted(map(tuple, entity_profile(df).collect()))
        b = sorted(map(tuple, entity_profile(df.repartition(7)).collect()))
        assert a == b


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        from kg.graphstats import label_propagation

        # two triangles {0,1,2} and {10,11,12} joined by a single bridge
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)],
            "src long, dst long")
        got = {r["node"]: r["label"]
               for r in label_propagation(edges, rounds=5).collect()}
        # each clique converges to its min label; min-label tie-breaks make
        # label 0 win inside the left triangle and 10 inside the right
        assert got[0] == got[1] == got[2] == 0
        assert got[10] == got[11] == got[12]

    def test_partition_invariant_and_matches_python(self, spark):
        from kg.graphstats import label_propagation

        import itertools
        edges_py = [(i, (i + 1) % 7) for i in range(7)] + [(20, 21)]
        edges = spark.createDataFrame(edges_py, "src long, dst long")
        a = sorted(map(tuple, label_propagation(edges, rounds=4).collect()))
        b = sorted(map(tuple, label_propagation(
            edges.repartition(5), rounds=4).collect()))
        assert a == b
        # independent python recompute of the synchronous recurrence
        adj = {}
        for u, v in edges_py:
            if u != v:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
        labels = {n: n for n in adj}
        for _ in range(4):
            new = {}
            for n, nbrs in adj.items():
                counts = {}
                for m in nbrs:
                    counts[labels[m]] = counts.get(labels[m], 0) + 1
                new[n] = min(
                    (l for l in counts
                     if counts[l] == max(counts.values()))
                )
            labels = new
        assert a == sorted((n, l) for n, l in labels.items())


class TestFactEvidence:
    def _linked(self, spark):
        t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        rows = []
        # fact (1, works_for, 2): 3 evidence rows across 2 docs
        rows.append(("u1", "Ada", "works_for", "Acme", 1, 2, t0))
        rows.append(("u1", "Ada L", "works_for", "Acme", 1, 2, t0))
        rows.append(
            ("u2", "Ada", "works_for", "Acme Co", 1, 2,
             t0 + dt.timedelta(days=3))
        )
        # half-linked rows: never become facts
        rows.append(("u3", "Ada", "knows", "Nobody", 1, None, t0))
        rows.append(("u3", "Nobody", "knows", "Acme", None, 2, t0))
        # fact (2, sued, 1): 1 row
        rows.append(
            ("u9", "Acme", "sued", "Ada", 2, 1, t0 + dt.timedelta(days=9))
        )
        return spark.createDataFrame(
            rows,
            "url string, subj string, pred string, obj string, "
            "subj_id long, obj_id long, warc_ts timestamp",
        )

    def test_counts_span_and_half_linked_excluded(self, spark):
        from kg.graphstats import fact_evidence

        out = fact_evidence(self._linked(spark)).collect()
        by_key = {(r.subj_id, r.pred, r.obj_id): r for r in out}
        assert set(by_key) == {(1, "works_for", 2), (2, "sued", 1)}
        f = by_key[(1, "works_for", 2)]
        assert f.n_evidence == 3 and f.n_docs == 2
        assert f.first_seen.day == 1 and f.last_seen.day == 4
        assert f.sample_urls == ["u1", "u2"]
        g = by_key[(2, "sued", 1)]
        assert g.n_evidence == 1 and g.n_docs == 1
        assert g.first_seen == g.last_seen

    def test_url_sample_bounded_and_deterministic(self, spark):
        from kg.graphstats import fact_evidence

        t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        rows = [
            (f"u{i:03d}", "A", "p", "B", 1, 2, t0) for i in range(50)
        ]
        df = spark.createDataFrame(
            rows,
            "url string, subj string, pred string, obj string, "
            "subj_id long, obj_id long, warc_ts timestamp",
        )
        for parts in (1, 7):
            out = fact_evidence(df.repartition(parts), max_urls=5).collect()
            assert len(out) == 1
            r = out[0]
            assert r.n_evidence == 50 and r.n_docs == 50
            # smallest 5 urls, sorted — invariant to partitioning
            assert r.sample_urls == [f"u{i:03d}" for i in range(5)]


class TestMergeFactEvidence:
    def test_three_way_merge_equals_batch(self, spark):
        import datetime as dt

        from kg.graphstats import fact_evidence, merge_fact_evidence

        t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        rows = [
            (f"u{i:02d}", "A", "p", "B", 1, 2, t0 + dt.timedelta(hours=i))
            for i in range(30)
        ] + [
            (f"v{i}", "C", "q", "D", 3, 4, t0 + dt.timedelta(days=i))
            for i in range(4)
        ]
        df = spark.createDataFrame(
            rows,
            "url string, subj string, pred string, obj string, "
            "subj_id long, obj_id long, warc_ts timestamp",
        )
        batch = {
            (r.subj_id, r.pred, r.obj_id): r
            for r in fact_evidence(df, max_urls=5).collect()
        }
        # disjoint url batches by hash: merge of per-batch rollups
        parts = [
            fact_evidence(
                df.where(F.abs(F.xxhash64("url")) % 3 == i), max_urls=5
            )
            for i in range(3)
        ]
        merged = {
            (r.subj_id, r.pred, r.obj_id): r
            for r in merge_fact_evidence(parts, max_urls=5).collect()
        }
        assert set(merged) == set(batch)
        for k, b in batch.items():
            m = merged[k]
            assert (m.n_evidence, m.n_docs) == (b.n_evidence, b.n_docs)
            assert (m.first_seen, m.last_seen) == (b.first_seen, b.last_seen)
            assert m.sample_urls == b.sample_urls


class TestLinkPrediction:
    def test_known_scores_on_two_wedges(self, spark):
        import math

        from kg.graphstats import link_prediction_scores

        # square 1-2-3-4-1: non-adjacent diagonals (1,3) and (2,4) each
        # share exactly the two square corners; all degrees are 2
        rows = [(1, 2), (2, 3), (3, 4), (4, 1)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        got = {
            (r.u, r.v): r
            for r in link_prediction_scores(edges, min_common=1).collect()
        }
        assert set(got) == {(1, 3), (2, 4)}
        aa = round(2 * (1.0 / math.log(2)), 9)
        for r in got.values():
            assert r.common_neighbors == 2
            assert r.jaccard == round(2 / (2 + 2 - 2), 9) == 1.0
            assert r.adamic_adar == aa

    def test_existing_edges_excluded_and_direction_collapsed(self, spark):
        from kg.graphstats import link_prediction_scores

        # triangle (all pairs adjacent) -> no candidates, even with
        # duplicate and reversed raw edges
        rows = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        assert link_prediction_scores(edges, min_common=1).count() == 0

    def test_hub_cap_excludes_hub_centers_not_ends(self, spark):
        from kg.graphstats import link_prediction_scores

        # star center 0 with leaves 1..5, plus leaf pair (1,2) through a
        # side node 9: with max_degree below the hub degree, wedges
        # through 0 vanish but the wedge through 9 survives, and jaccard
        # still uses the ends' FULL degrees
        rows = [(0, i) for i in range(1, 6)] + [(9, 1), (9, 2)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        capped = {
            (r.u, r.v): r
            for r in link_prediction_scores(
                edges, max_degree=2, min_common=1
            ).collect()
        }
        # leaf pairs through hub 0 ((1,3), (3,4), ...) are gone; what
        # remains goes through degree-2 centers: (1,2) via 9, and (0,9)
        # via 1 and 2 (both legitimately non-adjacent common-neighbor
        # pairs)
        assert set(capped) == {(1, 2), (0, 9)}
        r = capped[(1, 2)]
        # deg(1) = deg(2) = 2 (hub + side), cn = 1 via node 9
        assert r.common_neighbors == 1 and r.jaccard == round(1 / 3, 9)

    def test_partition_invariant(self, spark):
        from kg.graphstats import link_prediction_scores

        rows = [(i, (i * 7 + 3) % 23) for i in range(60)] + [(2, 11), (5, 17)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        a = sorted(
            map(tuple, link_prediction_scores(edges).collect())
        )
        b = sorted(
            map(
                tuple,
                link_prediction_scores(edges.repartition(13)).collect(),
            )
        )
        assert a == b and len(a) > 0


class TestHits:
    def _numpy_hits(self, edge_list, iters):
        nodes = sorted({u for e in edge_list for u in e})
        idx = {u: i for i, u in enumerate(nodes)}
        es = {(s, t) for s, t in edge_list if s != t}
        n = len(nodes)
        hub = np.full(n, 1.0 / n)
        auth = np.full(n, 1.0 / n)
        for _ in range(iters):
            a = np.zeros(n)
            for s, t in es:
                a[idx[t]] += hub[idx[s]]
            auth = a / a.sum()
            h = np.zeros(n)
            for s, t in es:
                h[idx[s]] += auth[idx[t]]
            hub = h / h.sum()
        return {u: (hub[idx[u]], auth[idx[u]]) for u in nodes}

    def test_matches_numpy_recurrence(self, spark, tiny_edges):
        from kg.graphstats import hits

        edge_list = [(r.src, r.dst) for r in tiny_edges.collect()]
        want = self._numpy_hits(edge_list, iters=6)
        got = {r.node: r for r in hits(tiny_edges, iterations=6).collect()}
        assert set(got) == set(want)
        for u, (h, a) in want.items():
            assert abs(got[u].hub - h) < 1e-9
            assert abs(got[u].authority - a) < 1e-9

    def test_l1_normalized_and_partition_invariant(self, spark, tiny_edges):
        from kg.graphstats import hits

        rows = hits(tiny_edges, iterations=4).collect()
        assert abs(sum(r.hub for r in rows) - 1.0) < 1e-6
        assert abs(sum(r.authority for r in rows) - 1.0) < 1e-6
        rep = hits(tiny_edges.repartition(5), iterations=4).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, rep))


class TestIncrementalComponents:
    def test_fold_equals_full_recompute_and_merges_components(self, spark):
        from kg.cc import connected_components, incremental_components

        # batch 1: two separate chains; batch 2: a bridge merging them,
        # plus a brand-new singleton pair
        b1 = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src long, dst long"
        )
        b2 = spark.createDataFrame(
            [(3, 10), (20, 21)], "src long, dst long"
        )
        a1 = incremental_components(
            spark.createDataFrame([], "node long, component long"), b1
        )
        got1 = {r.node: r.component for r in a1.collect()}
        assert got1 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        a2 = incremental_components(a1, b2)
        got2 = {r.node: r.component for r in a2.collect()}
        full = {
            r.node: r.component
            for r in connected_components(b1.union(b2)).collect()
        }
        assert got2 == full
        assert got2[11] == 1  # merged component keeps the min id

    def test_nodes_persist_across_increments_without_new_edges(self, spark):
        from kg.cc import incremental_components

        prev = spark.createDataFrame(
            [(5, 5), (7, 6), (6, 6)], "node long, component long"
        )
        batch = spark.createDataFrame([(100, 101)], "src long, dst long")
        got = {
            r.node: r.component
            for r in incremental_components(prev, batch).collect()
        }
        # untouched nodes (incl. the singleton 5) keep their assignment
        assert got == {5: 5, 6: 6, 7: 6, 100: 100, 101: 100}


class TestKcore:
    def test_ring_survives_chain_and_star_peel(self, spark):
        from kg.graphstats import kcore

        ring = [(i, (i + 1) % 5) for i in range(5)]          # 0..4 cycle
        chain = [(4, 10), (10, 11), (11, 12)]                # tail off node 4
        star = [(20, 21), (20, 22), (20, 23)]                # all leaves
        edges = spark.createDataFrame(
            ring + chain + star, "src long, dst long"
        )
        got = {r.node: r.degree for r in kcore(edges, k=2).collect()}
        assert got == {i: 2 for i in range(5)}

    def test_k3_core_of_k4_with_pendant(self, spark):
        from kg.graphstats import kcore

        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges = spark.createDataFrame(k4 + [(5, 1)], "src long, dst long")
        got = {r.node: r.degree for r in kcore(edges, k=3).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_bounded_rounds_reach_fixpoint_and_partition_invariant(self, spark):
        from kg.graphstats import kcore

        edges = spark.read.parquet("fixtures/edges.parquet")
        a = sorted(map(tuple, kcore(edges, k=2, max_rounds=8).collect()))
        b = sorted(map(tuple, kcore(edges, k=2, max_rounds=13).collect()))
        assert a == b and len(a) > 0
        c = sorted(
            map(tuple, kcore(edges.repartition(9), k=2, max_rounds=8).collect())
        )
        assert a == c

    def test_empty_core_when_k_exceeds_connectivity(self, spark):
        from kg.graphstats import kcore

        chain = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        assert kcore(chain, k=2).count() == 0


class TestHarmonicCentrality:
    def test_path_graph_exact_when_all_nodes_are_landmarks(self, spark):
        from kg.graphstats import harmonic_centrality

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"
        )
        got = {
            r["node"]: (r["n_reached"], r["harmonic"])
            for r in harmonic_centrality(
                edges, n_landmarks=10, rounds=6
            ).collect()
        }
        # path 1-2-3-4 undirected, every node a landmark:
        # ends: 1 + 1/2 + 1/3 = 110/60; middles: 1 + 1 + 1/2 = 150/60
        assert got[1] == (3, pytest.approx(110 / 60))
        assert got[2] == (3, pytest.approx(150 / 60))
        assert got[3] == (3, pytest.approx(150 / 60))
        assert got[4] == (3, pytest.approx(110 / 60))

    def test_landmark_choice_is_md5_deterministic(self, spark):
        import hashlib

        from kg.graphstats import harmonic_centrality

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"
        )
        lm = min(
            range(1, 5), key=lambda n: hashlib.md5(str(n).encode()).hexdigest()
        )
        got = {
            r["node"]: (r["n_reached"], r["harmonic"])
            for r in harmonic_centrality(
                edges, n_landmarks=1, rounds=6
            ).collect()
        }
        # the landmark reaches nobody's sum (dist 0 excluded)
        assert got[lm] == (0, 0.0)
        for node in range(1, 5):
            if node != lm:
                assert got[node] == (1, pytest.approx(1.0 / abs(node - lm)))

    def test_directed_unreached_nodes_get_zero(self, spark):
        from kg.graphstats import harmonic_centrality

        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        got = {
            r["node"]: (r["n_reached"], r["harmonic"])
            for r in harmonic_centrality(
                edges, n_landmarks=10, rounds=6, directed=True
            ).collect()
        }
        assert got[1] == (0, 0.0)  # no in-edges: unreached, still a row
        assert got[2] == (1, pytest.approx(1.0))
        assert got[3] == (2, pytest.approx(1.5))

    def test_rounds_bound_caps_distance_contributions(self, spark):
        from kg.graphstats import harmonic_centrality

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "src long, dst long"
        )
        got = {
            r["node"]: r["n_reached"]
            for r in harmonic_centrality(
                edges, n_landmarks=1, rounds=2
            ).collect()
        }
        # only nodes within 2 hops of the single landmark contribute
        assert max(got.values()) == 1
        assert 0 in set(got.values())

    def test_partition_invariant(self, spark, tiny_edges):
        from kg.graphstats import harmonic_centrality

        a = harmonic_centrality(tiny_edges, n_landmarks=3, rounds=4)
        b = harmonic_centrality(
            tiny_edges.repartition(7), n_landmarks=3, rounds=4
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestPagerankWarmStart:
    def _graph(self, spark):
        # degree-IRREGULAR graph (hub at 0) so uniform is NOT already the
        # fixed point; a regular graph would make cold start exact
        n = 60
        rows = (
            [(i, (i * i + 1) % n) for i in range(n)]
            + [(i, (i * 3 + 7) % n) for i in range(n)]
            + [(i, 0) for i in range(0, n, 5)]
        )
        return spark.createDataFrame(
            [(a, b) for a, b in rows if a != b], "src long, dst long"
        )

    def test_warm_start_converges_faster_than_cold(self, spark):
        from kg.graphstats import pagerank

        full = self._graph(spark)
        # crawl increment: nodes 0-2's out-edges are new this crawl
        old = full.where(~F.col("src").isin(0, 1, 2))
        fixed = {
            r["node"]: r["rank"]
            for r in pagerank(full, iterations=24).collect()
        }
        standing = pagerank(old, iterations=12)
        warm = {
            r["node"]: r["rank"]
            for r in pagerank(
                full, iterations=2, init_ranks=standing
            ).collect()
        }
        cold = {
            r["node"]: r["rank"]
            for r in pagerank(full, iterations=2).collect()
        }
        l1_warm = sum(abs(warm[n] - fixed[n]) for n in fixed)
        l1_cold = sum(abs(cold[n] - fixed[n]) for n in fixed)
        assert l1_warm < 0.5 * l1_cold

    def test_warm_ranks_are_a_distribution_and_new_nodes_seeded(self, spark):
        from kg.graphstats import pagerank

        old = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        full = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
        )
        standing = pagerank(old, iterations=8)
        got = pagerank(full, iterations=2, init_ranks=standing)
        rows = got.collect()
        assert {r["node"] for r in rows} == {1, 2, 3}
        assert sum(r["rank"] for r in rows) == pytest.approx(1.0, abs=1e-6)

    def test_warm_equals_cold_when_seed_is_uniform(self, spark):
        from kg.graphstats import pagerank

        full = self._graph(spark)
        n = (
            full.select(F.col("src").alias("n"))
            .union(full.select("dst"))
            .distinct()
            .count()
        )
        uniform = (
            full.select(F.col("src").alias("node"))
            .union(full.select("dst"))
            .distinct()
            .withColumn("rank", F.lit(1.0 / n))
        )
        a = sorted(
            map(tuple, pagerank(full, iterations=4).collect())
        )
        b = sorted(
            map(
                tuple,
                pagerank(full, iterations=4, init_ranks=uniform).collect(),
            )
        )
        assert a == b


class TestStronglyConnectedComponents:
    # two cycles bridged by a DAG edge, plus a pendant tail:
    # SCC {1,2,3} -> SCC {10,11} -> 20 -> 21   (20, 21 singletons)
    EDGES = [
        (1, 2), (2, 3), (3, 1),
        (3, 10), (10, 11), (11, 10),
        (11, 20), (20, 21),
    ]
    EXPECTED = [
        (1, 1, True), (2, 1, True), (3, 1, True),
        (10, 10, True), (11, 10, True),
        (20, 20, True), (21, 21, True),
    ]

    def _df(self, spark, rows=None):
        return spark.createDataFrame(rows or self.EDGES, "src long, dst long")

    def test_local_path(self, spark):
        from kg.graphstats import strongly_connected_components

        got = sorted(
            map(tuple, strongly_connected_components(self._df(spark)).collect())
        )
        assert got == self.EXPECTED

    def test_distributed_path_matches_local(self, spark):
        from kg.graphstats import strongly_connected_components

        got = sorted(map(tuple, strongly_connected_components(
            self._df(spark), local_threshold=0
        ).collect()))
        assert got == self.EXPECTED

    def test_distributed_equals_tarjan_on_hash_graph(self, spark):
        """md5-derived pseudo-random directed graph, both paths equal."""
        import hashlib

        from kg.graphstats import strongly_connected_components

        n = 24
        rows = []
        for i in range(n):
            for j in range(n):
                if i != j and hashlib.md5(
                    f"scc:{i}:{j}".encode()
                ).hexdigest()[0] in "01":
                    rows.append((i, j))
        df = self._df(spark, rows)
        local = sorted(map(tuple, strongly_connected_components(df).collect()))
        dist = sorted(map(tuple, strongly_connected_components(
            df, local_threshold=0
        ).collect()))
        assert local == dist
        assert all(r[2] for r in local)

    def test_bounded_rounds_leftover_unresolved(self, spark):
        from kg.graphstats import strongly_connected_components

        got = {
            r.node: (r.scc, r.resolved)
            for r in strongly_connected_components(
                self._df(spark), local_threshold=0, max_rounds=0
            ).collect()
        }
        assert got == {v: (v, False) for v in (1, 2, 3, 10, 11, 20, 21)}


class TestBowtieDecomposition:
    # IN {101->100->core}, core cycle {1,2,3}, OUT {200->201} and an out
    # SCC {10,11}; tendril off IN (300) and a disconnected pair -> other
    EDGES = [
        (1, 2), (2, 3), (3, 1),
        (100, 1), (101, 100),
        (3, 200), (200, 201),
        (3, 10), (10, 11), (11, 10),
        (100, 300),
        (400, 401),
    ]

    def test_regions(self, spark):
        from kg.graphstats import bowtie_decomposition

        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {r.node: r.region for r in bowtie_decomposition(edges).collect()}
        assert got == {
            1: "core", 2: "core", 3: "core",
            100: "in", 101: "in",
            200: "out", 201: "out", 10: "out", 11: "out",
            300: "other", 400: "other", 401: "other",
        }


class TestNeighborhoodFunction:
    def test_path_graph_known_counts(self, spark):
        from kg.graphstats import neighborhood_function

        # path 0-1-2-3: exact N(r) = 4, 10, 14, 16, 16 for r = 0..4
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "src long, dst long"
        )
        # p=6 (64 registers): at ball sizes <= 4 the linear-counting
        # branch is near-exact and register collisions are unlikely
        nf = neighborhood_function(edges, rounds=4, p=6)
        rows = {int(r["r"]): r for r in nf.collect()}
        exact = {0: 4, 1: 10, 2: 14, 3: 16, 4: 16}
        for r, true_n in exact.items():
            assert rows[r]["n_nodes"] == 4
            rel = abs(rows[r]["est_pairs"] - true_n) / true_n
            assert rel < 0.25, (r, rows[r]["est_pairs"], true_n)
        # monotone in r; converged after the diameter (exact fixpoint)
        ests = [rows[r]["est_pairs"] for r in range(5)]
        assert ests == sorted(ests)
        assert ests[3] == ests[4]

    def test_directed_vs_undirected(self, spark):
        from kg.graphstats import neighborhood_function

        edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        und = neighborhood_function(edges, rounds=3, p=4)
        dir_ = neighborhood_function(edges, rounds=3, p=4, directed=True)
        # directed balls are subsets of undirected balls at every radius
        u = {r["r"]: r["est_pairs"] for r in und.collect()}
        dd = {r["r"]: r["est_pairs"] for r in dir_.collect()}
        assert all(dd[r] <= u[r] + 1e-9 for r in u)

    def test_partition_invariant(self, spark):
        from kg.graphstats import neighborhood_function

        edges = spark.read.parquet("fixtures/edges.parquet")
        one = sorted(
            map(tuple, neighborhood_function(edges, rounds=3, p=4).collect())
        )
        two = sorted(
            map(
                tuple,
                neighborhood_function(
                    edges.repartition(13), rounds=3, p=4
                ).collect(),
            )
        )
        # DECIMAL-summed totals are order-insensitive: bit-identical
        assert one == two


class TestModularity:
    def _two_triangles(self, spark):
        # two triangles bridged by one edge; m = 7
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
            "src long, dst long",
        )
        comm = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)],
            "node long, label long",
        )
        return edges, comm

    def test_two_triangles_known_q(self, spark):
        from kg.graphstats import modularity

        edges, comm = self._two_triangles(spark)
        rows = {r["label"]: r for r in modularity(edges, comm).collect()}
        # Q_c = 3/7 - (7/14)^2 = 35/196 = 0.178571 for each triangle
        for label in (0, 1):
            r = rows[label]
            assert (r["n_nodes"], r["intra_edges"], r["degree_sum"]) == (
                3, 3, 7
            )
            assert r["q_contrib"] == round(35 / 196, 6)

    def test_unlabeled_nodes_excluded_but_edges_count(self, spark):
        from kg.graphstats import modularity

        edges, comm = self._two_triangles(spark)
        partial = comm.where(F.col("node") != 5)
        rows = {r["label"]: r for r in modularity(edges, partial).collect()}
        # community 1 is now {3, 4}: one intra edge, degrees 3 + 2;
        # m stays 7 (all edges count toward the degree normalization)
        r = rows[1]
        assert (r["n_nodes"], r["intra_edges"], r["degree_sum"]) == (2, 1, 5)
        assert r["q_contrib"] == round((14 * 2 - 25) / 196, 6)

    def test_total_q_better_than_trivial_partition(self, spark):
        from kg.graphstats import label_propagation, modularity

        edges = spark.read.parquet("fixtures/edges.parquet")
        comm = label_propagation(edges, rounds=5)
        q_lpa = sum(
            r["q_contrib"] for r in modularity(edges, comm).collect()
        )
        all_one = comm.select("node", F.lit(0).cast("long").alias("label"))
        q_one = sum(
            r["q_contrib"] for r in modularity(edges, all_one).collect()
        )
        # one-big-community modularity is ~0 by construction; LPA on the
        # clustered fixture must beat it clearly
        assert abs(q_one) < 1e-6
        assert q_lpa > 0.2


class TestGraphMixing:
    def test_star_perfectly_disassortative(self, spark):
        from kg.graphstats import graph_mixing

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "src long, dst long"
        )
        r = graph_mixing(edges).first()
        assert (r["n_nodes"], r["n_edges"], r["n_directed"]) == (4, 3, 3)
        assert r["assortativity"] == -1.0
        assert r["reciprocity"] == 0.0

    def test_regular_graph_null_assortativity(self, spark):
        from kg.graphstats import graph_mixing

        # a 4-cycle: every degree 2 -> zero variance -> NULL
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
        )
        r = graph_mixing(edges).first()
        assert r["assortativity"] is None

    def test_reciprocity_counts_mutual_directed_edges(self, spark):
        from kg.graphstats import graph_mixing

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 3), (3, 3)], "src long, dst long"
        )
        r = graph_mixing(edges).first()
        # self-loop dropped; (1,2) and (2,1) are mutual
        assert r["n_directed"] == 3
        assert r["reciprocity"] == round(2 / 3, 6)


class TestKTruss:
    def _graph(self, spark):
        # K4 on {0..3} plus a pendant triangle {3,4,5}
        return spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 4), (3, 5), (4, 5)],
            "src long, dst long",
        )

    def test_truss_ladder(self, spark):
        from kg.graphstats import ktruss

        g = self._graph(spark)
        t3 = sorted(map(tuple, ktruss(g, 3).collect()))
        t4 = sorted(map(tuple, ktruss(g, 4).collect()))
        t5 = sorted(map(tuple, ktruss(g, 5).collect()))
        assert t3 == sorted(
            [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (3, 4), (3, 5), (4, 5)]
        )
        # K4: every edge in 2 triangles -> survives k=4; the pendant
        # triangle's edges have support 1 -> peeled
        assert t4 == sorted(
            [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
        )
        assert t5 == []

    def test_cascading_peel(self, spark):
        from kg.graphstats import ktruss

        # two triangles sharing an edge: (0,1) has support 2; all
        # others 1. k=4 peels the outer edges FIRST round, which drops
        # (0,1)'s support to 0 -> second round empties it: cascade.
        g = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3)],
            "src long, dst long",
        )
        assert ktruss(g, 4).count() == 0

    def test_k_validation_and_directed_collapse(self, spark):
        from kg.graphstats import ktruss

        with pytest.raises(ValueError):
            ktruss(self._graph(spark), 2)
        # direction and duplicates are irrelevant: reversed duplicate
        # edges collapse onto the canonical undirected set
        g = self._graph(spark)
        doubled = g.union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        one = sorted(map(tuple, ktruss(g, 4).collect()))
        two = sorted(map(tuple, ktruss(doubled, 4).collect()))
        assert one == two


class TestDegreePowerlaw:
    def test_mle_matches_python_reference(self, spark):
        from kg.graphstats import degree_powerlaw

        import math as _math

        # star-of-stars: varied degrees
        edges = []
        nid = 100
        for hub in range(5):
            for _ in range(3 + hub * 4):
                edges.append((hub, nid)); nid += 1
        df = spark.createDataFrame(edges, "src long, dst long")
        r = degree_powerlaw(df, d_min=3).first()
        # python replay over the same histogram with the same rounding
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        tail = [d for d in deg.values() if d >= 3]
        s = sum(
            round(_math.log(d / 2.5), 9) for d in sorted(set(tail))
            for _ in range(tail.count(d))
        )
        assert r["n_tail"] == len(tail)
        assert r["alpha"] == round(1.0 + len(tail) / s, 6)

    def test_heavier_tail_lower_alpha(self, spark):
        from kg.graphstats import degree_powerlaw

        # graph A: all tail degrees equal (light tail); graph B: one
        # huge hub added (heavy tail) -> alpha must drop
        a_edges = [(h, 100 + h * 10 + i) for h in range(6) for i in range(4)]
        b_edges = a_edges + [(99, 200 + i) for i in range(64)]
        a = spark.createDataFrame(a_edges, "src long, dst long")
        b = spark.createDataFrame(b_edges, "src long, dst long")
        aa = degree_powerlaw(a, d_min=3).first()["alpha"]
        bb = degree_powerlaw(b, d_min=3).first()["alpha"]
        assert bb < aa

    def test_empty_tail_null_alpha(self, spark):
        from kg.graphstats import degree_powerlaw

        df = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
        r = degree_powerlaw(df, d_min=3).first()
        assert r["n_tail"] == 0 and r["alpha"] is None
