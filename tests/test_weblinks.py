"""Hyperlink extraction / host link graph (kg/ops/weblinks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.ops.weblinks import extract_links, host_link_graph


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode()) for u, h in rows], "url string, html binary"
    )


class TestExtractLinks:
    def test_resolution_matrix(self, spark):
        html = (
            '<a href="https://Other.test:443/x?utm_source=a&q=1#f">abs</a>'
            '<a href="//proto.test/p/">pr</a>'
            '<a href="/root">rel</a>'
            '<a href="#frag">self</a>'
            '<a href="">empty</a>'
            '<a href="bare?gclid=z">bare</a>'
        )
        df = _pages(spark, [("https://src.test/dir/page", html)])
        got = {r["href"]: r["dst_url"] for r in extract_links(df).collect()}
        assert got == {
            # fragment + default port + tracking param all normalized away
            "https://Other.test:443/x?utm_source=a&q=1#f":
                "https://other.test/x?q=1",
            # protocol-relative inherits the page scheme; trailing / stripped
            "//proto.test/p/": "https://proto.test/p",
            "/root": "https://src.test/root",
            "#frag": "https://src.test/dir/page",
            "": "https://src.test/dir/page",
            # bare path resolves root-relative; gclid-only query dropped
            "bare?gclid=z": "https://src.test/bare",
        }

    def test_no_anchors_no_rows_and_multiline(self, spark):
        df = _pages(spark, [
            ("https://a.test/1", "<html><p>plain</p></html>"),
            ("https://a.test/2", '<a class="x"\n href="/y">two-attr</a>'),
        ])
        rows = extract_links(df).collect()
        assert [(r["src_url"], r["dst_url"]) for r in rows] == [
            ("https://a.test/2", "https://a.test/y")]

    def test_synth_pages_link_shape(self, spark):
        # every synth page emits exactly 4 anchors: next, jump, self, ext
        from kg.synth import EXTERNAL_HOSTS

        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        links = extract_links(pages)
        per_page = links.groupBy("src_url").count().select("count").distinct()
        assert [r[0] for r in per_page.collect()] == [4]
        hosts = {
            r[0] for r in links.select(
                F.regexp_extract("dst_url", "://([^/?#]+)", 1)
            ).distinct().collect()
        }
        assert hosts == {"ex42.test", *EXTERNAL_HOSTS}


class TestHostLinkGraph:
    def test_counts(self, spark):
        df = _pages(spark, [
            ("https://a.test/1", '<a href="/x">i</a><a href="https://b.test/y">o</a>'),
            ("https://a.test/2", '<a href="/x">i</a>'),
        ])
        got = {(r["src_host"], r["dst_host"]): (r["n_links"], r["n_pages"],
                                                r["n_targets"])
               for r in host_link_graph(df).collect()}
        assert got == {
            ("a.test", "a.test"): (2, 2, 1),
            ("a.test", "b.test"): (1, 1, 1),
        }

    def test_partition_invariant(self, spark):
        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        a = sorted(map(tuple, host_link_graph(pages).collect()))
        b = sorted(map(tuple, host_link_graph(
            pages.repartition(7)).collect()))
        assert a == b


class TestAnchorTextIndex:
    def test_texts_collapsed_sorted_distinct_and_capped(self, spark):
        from kg.ops.weblinks import anchor_text_index

        df = _pages(spark, [
            ("https://a.test/1",
             '<a href="/t">b  text</a><a href="/t">a</a><a href="/t">a</a>'),
            ("https://a.test/2", '<a href="/t">c</a>'),
        ])
        full = anchor_text_index(df).collect()
        assert [tuple(r) for r in full] == [
            ("https://a.test/t", 4, 2, "a|b text|c")]
        capped = anchor_text_index(df, max_texts=2).collect()
        assert capped[0]["anchor_texts"] == "a|b text"
        # counts are unaffected by the text cap
        assert (capped[0]["n_links"], capped[0]["n_pages"]) == (4, 2)

    def test_synth_first_word_is_self_anchor(self, spark):
        from kg.ops.weblinks import anchor_text_index

        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        idx = anchor_text_index(pages)
        # the fragment anchor names the page by its own first word
        row = idx.where(
            F.col("dst_url") == "https://ex42.test/00000003").first()
        assert "12345" in row["anchor_texts"].split("|")


class TestLinksPipelineStage:
    def test_checkpointed_stage_and_rollups(self, spark, tmp_path):
        import run_pipeline
        from kg.ops.weblinks import extract_links, host_link_graph

        out = str(tmp_path / "kgout")
        rc = run_pipeline.main([
            "--pages", "fixtures/pages_tiny.parquet", "--out", out,
            "--buckets", "4", "--stages", "extract,links",
        ])
        assert rc == 0
        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        got = spark.read.parquet(f"{out}/links")
        want = extract_links(pages)
        assert got.count() == want.count()
        assert (got.select("src_url", "href", "dst_url")
                .exceptAll(want).count() == 0)
        hg = spark.read.parquet(f"{out}/link_host_graph")
        assert (hg.exceptAll(host_link_graph(pages)).count() == 0)
        fr = spark.read.parquet(f"{out}/crawl_frontier")
        # frontier never contains a crawled page
        crawled = {r["url"] for r in pages.select("url").collect()}
        assert not ({r["dst_url"] for r in fr.collect()} & crawled)
        # resume is a no-op: all buckets already committed
        rc2 = run_pipeline.main([
            "--pages", "fixtures/pages_tiny.parquet", "--out", out,
            "--buckets", "4", "--stages", "links",
        ])
        assert rc2 == 0
        assert spark.read.parquet(f"{out}/links").count() == want.count()

    def test_links_alone_on_fresh_out(self, spark, tmp_path):
        """links reads only the pages: it runs without a docs table."""
        import run_pipeline

        out = str(tmp_path / "kgout_links")
        rc = run_pipeline.main([
            "--pages", "fixtures/pages_tiny.parquet", "--out", out,
            "--buckets", "4", "--stages", "links",
        ])
        assert rc == 0
        assert not (tmp_path / "kgout_links" / "docs").exists()
        for table in ("links", "link_host_graph", "crawl_frontier",
                      "url_templates"):
            assert spark.read.parquet(f"{out}/{table}").count() > 0

    def test_robots_gate_and_url_templates_rollup(self, spark, tmp_path):
        import run_pipeline
        from kg.ops.weblinks import extract_links

        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        # disallow one real frontier host entirely
        a_host = (
            extract_links(pages)
            .select(F.regexp_extract("dst_url", r"://([^/?#]+)", 1)
                    .alias("h"))
            .where(F.col("h") != "ex42.test")
            .first()["h"]
        )
        robots_pq = str(tmp_path / "robots.parquet")
        spark.createDataFrame(
            [(a_host, "User-agent: *\nDisallow: /")],
            "host string, body string",
        ).write.parquet(robots_pq)
        out = str(tmp_path / "kgout_rb")
        rc = run_pipeline.main([
            "--pages", "fixtures/pages_tiny.parquet", "--out", out,
            "--buckets", "4", "--stages", "extract,links",
            "--robots", robots_pq,
        ])
        assert rc == 0
        fr = spark.read.parquet(f"{out}/crawl_frontier")
        hosts = {
            r["h"] for r in fr.select(
                F.regexp_extract("dst_url", r"://([^/?#]+)", 1).alias("h")
            ).collect()
        }
        assert a_host not in hosts and hosts  # gated host gone, rest kept
        tpl = spark.read.parquet(f"{out}/url_templates")
        assert tpl.count() > 0
        # the numeric page-id family collapses to one template row
        assert tpl.where(
            F.col("template").contains("ex42.test/{")
        ).count() == 1


class TestMineAnchorAliases:
    def test_mining_semantics(self, spark):
        from kg.ops.weblinks import mine_anchor_aliases

        def page(url, anchors):
            body = "".join(
                f'<a href="{h}">{t}</a>' for h, t in anchors
            )
            return (url, f"<html><body>{body}</body></html>".encode())

        pages = spark.createDataFrame(
            [
                page("http://a.com/acme", []),
                # two hosts call the acme page "ACME Inc." (>= min_refs),
                # one calls it by the entity's own surface (self-alias ->
                # dropped), one one-off alias (below min_refs -> dropped)
                page("http://b.com/1", [("http://a.com/acme", "ACME  Inc.")]),
                page("http://c.com/1", [("http://a.com/acme", "acme inc"),
                                        ("http://a.com/acme", "Acme Corp!")]),
                page("http://d.com/1", [("http://a.com/acme", "Acme Corp")]),
                page("http://e.com/1", [("http://a.com/acme", "one-off name")]),
            ],
            "url string, html binary",
        )
        triples = spark.createDataFrame(
            # primary subject of /acme: tie on count -> lexicographically
            # smallest ("Acme Corp" < "Zeta") wins deterministically
            [("http://a.com/acme", "Zeta", "p", "o"),
             ("http://a.com/acme", "Acme Corp", "p", "o")],
            "url string, subj string, pred string, obj string",
        )
        out = {
            (r.entity_surface, r.alias_norm): (r.n_refs, r.n_hosts)
            for r in mine_anchor_aliases(pages, triples, min_refs=2).collect()
        }
        # 'acme inc' normalization collapses "ACME  Inc." -> wait: norm is
        # lower+strip-punct only (no inner-space collapse beyond the anchor
        # whitespace collapse), so "acme inc." and "acme inc" both norm to
        # "acme inc" -> 2 refs from 2 hosts
        assert out == {("Acme Corp", "acme inc"): (2, 2)}
        # self-alias ("Acme Corp"/"Acme Corp!") and the one-off are gone
        assert ("Acme Corp", "acme corp") not in out

    def test_fixture_urls_are_normalization_fixed_points(self, spark):
        """The web_anchor_aliases oracle joins golden-fixture urls RAW
        against normalized anchor targets; valid iff fixture urls are
        fixed points of the url normalization — pinned here."""
        from pyspark.sql import functions as F

        from kg.ops.webnorm import normalize_urls

        for fx in ("pages_tiny", "pages_small"):
            pages = spark.read.parquet(f"/root/repo/fixtures/{fx}.parquet")
            n = pages.count()
            eq = normalize_urls(pages.select("url")).where(
                F.col("url") == F.col("url_norm")
            ).count()
            assert eq == n, fx


class TestResolveRedirects:
    def _resolve(self, spark, rows, **kw):
        from kg.ops.webnorm import resolve_redirects

        df = spark.createDataFrame(rows, "src_url string, dst_url string")
        return {r.src: r for r in resolve_redirects(df, **kw).collect()}

    def test_chain_resolves_with_exact_hops(self, spark):
        rows = [("a", "b"), ("b", "c"), ("c", "d")]
        got = self._resolve(spark, rows)
        assert (got["a"].target, got["a"].hops, got["a"].resolved) == ("d", 3, True)
        assert (got["b"].target, got["b"].hops) == ("d", 2)
        assert (got["c"].target, got["c"].hops) == ("d", 1)
        assert set(got) == {"a", "b", "c"}  # terminal d is not a src

    def test_cycle_and_over_budget_chain_unresolved(self, spark):
        rows = [("x", "y"), ("y", "x")] + [
            (f"n{i}", f"n{i + 1}") for i in range(10)
        ]
        got = self._resolve(spark, rows, max_hops=4)
        for s in ("x", "y", "n0"):  # cycle, and 10 hops > budget 4
            assert not got[s].resolved
            assert got[s].target is None and got[s].hops is None
        assert got["n7"].resolved and got["n7"].hops == 3

    def test_self_loop_dropped_and_min_dst_wins(self, spark):
        rows = [("s", "s"), ("d", "zz"), ("d", "aa")]
        got = self._resolve(spark, rows)
        assert "s" not in got
        assert (got["d"].target, got["d"].hops, got["d"].resolved) == ("aa", 1, True)

    def test_long_chain_within_budget_and_partition_invariance(self, spark):
        from kg.ops.webnorm import resolve_redirects

        rows = [(f"u{i}", f"u{i + 1}") for i in range(31)]
        df = spark.createDataFrame(rows, "src_url string, dst_url string")
        got = {r.src: r for r in resolve_redirects(df, max_hops=32).collect()}
        assert (got["u0"].target, got["u0"].hops) == ("u31", 31)
        rep = {
            r.src: r
            for r in resolve_redirects(df.repartition(7), max_hops=32).collect()
        }
        assert {k: tuple(v) for k, v in got.items()} == {
            k: tuple(v) for k, v in rep.items()
        }


class TestRobotsRules:
    BODY_A = (
        "User-agent: *\nDisallow: /private/\nDisallow: /tmp\n\n"
        "User-agent: evilbot\nDisallow: /"
    )
    BODY_B = (
        "User-agent: googlebot\nUser-agent: *\nDisallow: /search"
        " # trailing comment\nAllow: /search/about\nDisallow:"
    )

    def _robots(self, spark):
        from kg.ops.weblinks import robots_rules

        df = spark.createDataFrame(
            [("a.test", self.BODY_A), ("b.test", self.BODY_B),
             ("c.test", "User-agent: otherbot\nDisallow: /all")],
            "host string, body string",
        )
        return robots_rules(df)

    def test_star_groups_only_and_comments_stripped(self, spark):
        rules = {(r["host"], r["prefix"]) for r in self._robots(spark).collect()}
        assert rules == {
            ("a.test", "/private/"),
            ("a.test", "/tmp"),
            # multi-UA run (googlebot + *) shares its rules; comment and
            # empty Disallow dropped
            ("b.test", "/search"),
        }

    def test_specific_agent_gets_star_and_own_groups(self, spark):
        from kg.ops.weblinks import robots_rules

        df = spark.createDataFrame(
            [("a.test", self.BODY_A)], "host string, body string"
        )
        rules = {
            (r["host"], r["prefix"])
            for r in robots_rules(df, agent="EvilBot").collect()
        }
        assert rules == {
            ("a.test", "/private/"),
            ("a.test", "/tmp"),
            ("a.test", "/"),
        }

    def test_filter_frontier_prefix_and_host_semantics(self, spark):
        from kg.ops.weblinks import robots_filter_frontier

        frontier = spark.createDataFrame(
            [
                ("https://a.test/private/x.html",),  # blocked
                ("https://a.test/public/x.html",),  # kept
                ("https://a.test/tmpfile",),  # blocked: prefix match
                ("https://A.test/TMP",),  # kept: path case-sensitive
                ("https://b.test/search?q=1",),  # blocked: query not in path
                ("https://b.test/about",),  # kept
                ("https://c.test/all/x",),  # kept: group is otherbot's
                ("https://d.test/x",),  # kept: no robots for host
            ],
            "url string",
        )
        kept = {
            r["url"]
            for r in robots_filter_frontier(
                frontier, self._robots(spark)
            ).collect()
        }
        assert kept == {
            "https://a.test/public/x.html",
            "https://A.test/TMP",
            "https://b.test/about",
            "https://c.test/all/x",
            "https://d.test/x",
        }
        # frontier schema unchanged
        assert robots_filter_frontier(
            frontier, self._robots(spark)
        ).columns == ["url"]

    def test_filter_is_broadcast_anti_join_no_shuffle(self, spark):
        from kg.ops.weblinks import robots_filter_frontier

        frontier = spark.createDataFrame(
            [("https://a.test/x",)], "url string"
        )
        plan = robots_filter_frontier(
            frontier, self._robots(spark)
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


class TestUrlTemplates:
    def test_rules_and_rollup(self, spark):
        from kg.ops.webnorm import url_templates

        urls = [
            "https://shop.test/item/123",
            "https://shop.test/item/456",
            "https://shop.test/item/123?page=2",
            "https://shop.test/item/9/review",
            "https://cdn.test/obj/deadbeef01234567/x.jpg",
            "http://plain.test/",
            "HTTP://Plain.Test/",
            "https://mixed.test/v2/page7",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {
            r["template"]: (r["n_urls"], r["sample_url"])
            for r in url_templates(df).collect()
        }
        assert got["shop.test/item/{n}"] == (3, "https://shop.test/item/123")
        assert got["shop.test/item/{n}/review"][0] == 1
        assert got["cdn.test/obj/{h}/x.jpg"][0] == 1
        # host case folds; two raw spellings of the root url both count
        assert got["plain.test/"][0] == 2
        assert got["mixed.test/v{n}/page{n}"][0] == 1
        assert len(got) == 5

    def test_min_count_filters_singletons(self, spark):
        from kg.ops.webnorm import url_templates

        df = spark.createDataFrame(
            [("https://h.test/a/1",), ("https://h.test/a/2",),
             ("https://h.test/b",)],
            "url string",
        )
        got = [r["template"] for r in url_templates(df, min_count=2).collect()]
        assert got == ["h.test/a/{n}"]


class TestSitemaps:
    def _sitemaps(self, spark):
        xml1 = (
            '<?xml version="1.0"?><urlset>'
            "<url><loc> https://ex.com/a </loc>"
            "<lastmod>2024-01-05T10:00:00Z</lastmod></url>"
            "<url><loc>https://ex.com/b?utm_source=x</loc></url>"
            "<url><lastmod>2024-01-01</lastmod></url>"
            "</urlset>"
        )
        xml2 = (
            "<sitemapindex><sitemap>"
            "<loc>https://ex.com/sitemap2.xml</loc>"
            "<lastmod>2024-02-01</lastmod>"
            "</sitemap></sitemapindex>"
        )
        return spark.createDataFrame(
            [
                ("https://ex.com/sitemap.xml", xml1),
                ("https://ex.com/sitemap_index.xml", xml2),
            ],
            "sitemap_url string, xml string",
        )

    def test_parse_blocks_fields_and_dropped_entries(self, spark):
        from kg.ops.weblinks import parse_sitemaps

        got = {
            (r.sitemap_url, r.kind, r.loc, r.lastmod_iso)
            for r in parse_sitemaps(self._sitemaps(spark)).collect()
        }
        assert got == {
            # loc whitespace trimmed, lastmod truncated to the ISO day
            ("https://ex.com/sitemap.xml", "url", "https://ex.com/a",
             "2024-01-05"),
            # absent lastmod -> '' (never NULL)
            ("https://ex.com/sitemap.xml", "url",
             "https://ex.com/b?utm_source=x", ""),
            # index entries kept with kind='sitemap'; loc-less entry gone
            ("https://ex.com/sitemap_index.xml", "sitemap",
             "https://ex.com/sitemap2.xml", "2024-02-01"),
        }

    def test_parse_plan_is_jvm_only(self, spark):
        from kg.ops.weblinks import parse_sitemaps

        p = (
            parse_sitemaps(self._sitemaps(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in p


class TestCanonicalClusters:
    def test_chains_cycles_and_self_representatives(self, spark):
        from kg.ops.webnorm import canonical_clusters

        def page(url, canon=None):
            c = f'<link rel="canonical" href="{canon}">' if canon else ""
            return (
                url,
                bytearray(
                    f"<html><head><title>x</title>{c}</head>"
                    f"<body>b</body></html>".encode()
                ),
            )

        pages = spark.createDataFrame(
            [
                page("https://ex.com/a", "https://ex.com/b"),
                page("https://ex.com/b", "https://ex.com/c"),
                page("https://ex.com/c"),
                # canonical == self after normalization -> self-loop drop
                page("https://ex.com/d?utm_source=x", "https://ex.com/d"),
                page("https://ex.com/loop1", "https://ex.com/loop2"),
                page("https://ex.com/loop2", "https://ex.com/loop1"),
            ],
            "url string, html binary",
        )
        got = {
            r.url_norm: (r.canonical_norm, r.hops, r.resolved)
            for r in canonical_clusters(pages).collect()
        }
        assert got["https://ex.com/a"] == ("https://ex.com/c", 2, True)
        assert got["https://ex.com/b"] == ("https://ex.com/c", 1, True)
        assert got["https://ex.com/c"] == ("https://ex.com/c", 0, True)
        assert got["https://ex.com/d"] == ("https://ex.com/d", 0, True)
        # cycles fall back to self, flagged unresolved
        assert got["https://ex.com/loop1"] == (
            "https://ex.com/loop1", 0, False
        )
        assert got["https://ex.com/loop2"] == (
            "https://ex.com/loop2", 0, False
        )


class TestParseFeeds:
    RSS = """<?xml version="1.0"?><rss version="2.0"><channel>
<title>Decoy Channel Title</title>
<link>https://blog.test/</link>
<item><title> First Post </title>
  <link> https://blog.test/p/1 </link>
  <pubDate>Thu, 5 Mar 2020 10:30:00 GMT</pubDate></item>
<item><title>No Date</title><link>https://blog.test/p/2</link></item>
<item><title>No link, dropped</title></item>
</channel></rss>"""
    ATOM = """<feed xmlns="http://www.w3.org/2005/Atom">
<title>Decoy Feed Title</title>
<entry><title>Entry One</title>
  <link rel="alternate" href="https://news.test/a"/>
  <updated>2021-11-30T08:00:00Z</updated></entry>
<entry><title>Entry Two</title>
  <link href="https://news.test/b"/>
  <published>2022-01-02T00:00:00Z</published></entry>
</feed>"""

    def _rows(self, spark):
        from kg.ops.weblinks import parse_feeds

        feeds = spark.createDataFrame(
            [("https://blog.test/rss.xml", self.RSS),
             ("https://news.test/atom.xml", self.ATOM)],
            "feed_url string, xml string",
        )
        return sorted(map(tuple, parse_feeds(feeds).collect()))

    def test_rows(self, spark):
        assert self._rows(spark) == [
            ("https://blog.test/rss.xml", "rss", "First Post",
             "https://blog.test/p/1", "2020-03-05"),
            ("https://blog.test/rss.xml", "rss", "No Date",
             "https://blog.test/p/2", ""),
            ("https://news.test/atom.xml", "atom", "Entry One",
             "https://news.test/a", "2021-11-30"),
            ("https://news.test/atom.xml", "atom", "Entry Two",
             "https://news.test/b", "2022-01-02"),
        ]

    def test_plan_is_jvm_only(self, spark):
        from kg.ops.weblinks import parse_feeds

        feeds = spark.createDataFrame(
            [("u", self.RSS)], "feed_url string, xml string"
        )
        p = (
            parse_feeds(feeds)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in p


class TestFetchSchedule:
    def test_slots_delays_and_priority(self, spark):
        from kg.ops.weblinks import fetch_schedule

        fr = spark.createDataFrame(
            [
                ("https://a.test/1", 5.0),
                ("https://a.test/2", 9.0),
                ("https://a.test/3", 1.0),
                ("https://b.test/x", 2.0),
                ("https://b.test/y", 2.0),  # tie -> md5(url) order
            ],
            "url string, pri double",
        )
        delays = spark.createDataFrame(
            [("a.test", 3.0)], "host string, crawl_delay_s double"
        )
        got = {
            r.url: (r.host, r.slot, r.fetch_at_s)
            for r in fetch_schedule(
                fr, delays, default_delay_s=1.0, priority_col="pri"
            ).collect()
        }
        # a.test: priority desc -> /2, /1, /3 at 3s spacing
        assert got["https://a.test/2"] == ("a.test", 0, 0.0)
        assert got["https://a.test/1"] == ("a.test", 1, 3.0)
        assert got["https://a.test/3"] == ("a.test", 2, 6.0)
        # b.test: default delay; tie broken by md5(url), deterministic
        import hashlib

        tie = sorted(
            ["https://b.test/x", "https://b.test/y"],
            key=lambda u: hashlib.md5(u.encode()).hexdigest(),
        )
        assert got[tie[0]] == ("b.test", 0, 0.0)
        assert got[tie[1]] == ("b.test", 1, 1.0)

    def test_no_priority_defaults(self, spark):
        from kg.ops.weblinks import fetch_schedule

        fr = spark.createDataFrame(
            [("https://c.test/1",), ("https://c.test/2",)], "url string"
        )
        rows = fetch_schedule(fr).collect()
        assert sorted(r.slot for r in rows) == [0, 1]
        assert all(r.fetch_at_s == r.slot * 1.0 for r in rows)


class TestRevisitSchedule:
    ROWS = [
        ("a", "2026-01-01 00:00:00", "h1"),
        ("a", "2026-01-02 00:00:00", "h2"),
        ("a", "2026-01-04 00:00:00", "h2"),
        ("a", "2026-01-05 00:00:00", "h3"),
        ("b", "2026-01-01 00:00:00", "x"),
        ("b", "2026-01-03 00:00:00", "x"),
        ("c", "2026-01-01 00:00:00", "only"),
    ]

    def _out(self, spark, rows=None, repartition=None):
        from kg.ops.weblinks import revisit_schedule

        df = spark.createDataFrame(
            rows or self.ROWS, "url string, ts string, fp string")
        if repartition:
            df = df.repartition(repartition)
        return {r.url: r for r in revisit_schedule(df).collect()}

    def test_poisson_mle_replay(self, spark):
        import math

        a = self._out(spark)["a"]
        # 3 observations over a 4-day span, 2 changes
        assert (a.n_obs, a.n_changes) == (3, 2)
        assert a.avg_gap_days == round(4 / 3, 6)
        rate = -math.log(1 - min(2 / 3, 1 - 1 / 6)) / (4 / 3)
        assert a.rate_per_day == round(rate, 6)
        assert a.revisit_days == round(1 / rate, 6)

    def test_no_change_yet_gives_null_rate(self, spark):
        b = self._out(spark)["b"]
        assert (b.n_obs, b.n_changes) == (1, 0)
        assert b.rate_per_day is None and b.revisit_days is None

    def test_single_visit_omitted(self, spark):
        assert "c" not in self._out(spark)

    def test_always_changing_page_uses_bias_cap(self, spark):
        import math

        rows = [("d", f"2026-01-0{i} 00:00:00", f"v{i}")
                for i in range(1, 5)]
        d = self._out(spark, rows=rows)["d"]
        assert (d.n_obs, d.n_changes) == (3, 3)
        # r = 1 would diverge; the half-observation cap applies
        rate = -math.log(1 / 6) / 1.0
        assert d.rate_per_day == round(rate, 6)

    def test_partition_invariant(self, spark):
        a = self._out(spark)
        b = self._out(spark, repartition=7)
        assert {u: tuple(r) for u, r in a.items()} == {
            u: tuple(r) for u, r in b.items()}


class TestFrontierBloom:
    def test_definitely_new_implies_new(self, spark):
        import __spark_entry__ as entry_mod

        rows = entry_mod.q_web_frontier_bloom(spark, "").collect()
        assert rows
        # Bloom law: a false membership answer is certain -> every
        # definitely_new candidate really is uncrawled
        assert all(r.is_new for r in rows if r.definitely_new)
        # and the fast path actually prunes something at this sizing
        assert any(r.definitely_new for r in rows)


class TestHostStats:
    def test_multi_host_fractions_and_no_link_host(self, spark):
        from kg.ops.weblinks import host_stats

        pages = spark.createDataFrame(
            [
                ("https://a.test/x/y",
                 b'<a href="/local">l</a><a href="https://b.test/p">b</a>'),
                ("https://a.test/z",
                 b'<a href="https://a.test/x/y">i</a>'),
                ("https://quiet.test/", b"no links here"),
            ],
            "url string, html binary",
        )
        got = {r.host: r for r in host_stats(pages).collect()}
        a = got["a.test"]
        # 3 outlinks from a.test: /local (internal), b.test (external),
        # absolute a.test (internal) -> 2/3 internal
        assert a.n_pages == 2 and a.n_outlinks == 3
        assert abs(a.frac_internal - round(2 / 3, 6)) < 1e-9
        assert a.avg_depth == 1.5  # depths 2 and 1
        q = got["quiet.test"]
        assert q.n_outlinks == 0 and q.frac_internal is None
        assert q.avg_depth == 0.0


class TestAlignParallelSentences:
    def test_positional_alignment_and_length_gate(self, spark):
        from kg.ops.weblinks import align_parallel_sentences

        docs = spark.createDataFrame(
            [
                (1, "Hello there. Second sentence! Third?"),
                (2, "Bonjour toi. Deuxieme phrase longue bien plus que deux fois! Troisieme?"),
                (3, "Unpaired doc. Alone."),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = {r.idx: r for r in
               align_parallel_sentences(docs, pairs).collect()}
        # both sides have 3 sentences -> 3 aligned rows, doc 3 untouched
        assert sorted(out) == [0, 1, 2]
        assert out[0].sent_a == "Hello there"
        assert out[0].sent_b == "Bonjour toi"
        assert out[0].len_ok  # 11 vs 11
        # idx 1: 16 vs 47 chars -> fails the 2x length gate
        assert out[1].len_a == len("Second sentence")
        assert not out[1].len_ok
        assert out[2].len_ok  # "Third" vs "Troisieme"

    def test_uneven_sides_align_common_prefix_only(self, spark):
        from kg.ops.weblinks import align_parallel_sentences

        docs = spark.createDataFrame(
            [(1, "One. Two. Three."), (2, "Un.")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        rows = align_parallel_sentences(docs, pairs).collect()
        assert len(rows) == 1 and rows[0].idx == 0

    def test_empty_sentences_do_not_shift_indexes(self, spark):
        from kg.ops.weblinks import align_parallel_sentences

        # "..." runs and trailing delimiters produce empty splits that
        # MUST be dropped before indexing on both engines
        docs = spark.createDataFrame(
            [(1, "A... B. !C."), (2, "X. Y. Z.")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = {r.idx: (r.sent_a, r.sent_b) for r in
               align_parallel_sentences(docs, pairs).collect()}
        assert out == {0: ("A", "X"), 1: ("B", "Y"), 2: ("C", "Z")}
