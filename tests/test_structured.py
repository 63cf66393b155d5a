"""Structured-data extraction (kg/ops/structured.py): JSON-LD blocks and
HTML tables → triples. Edge cases the roundtrip contract queries don't
reach: malformed JSON, blocks without a name, array-of-objects values,
real (unquoted) nested objects, layout tables, non-zero key columns."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.ops.structured import (
    extract_jsonld_blocks,
    jsonld_triples,
    table_triples,
)


def _pages(spark, *htmls: bytes):
    return spark.createDataFrame(
        [(f"u{i}", bytearray(h)) for i, h in enumerate(htmls)],
        "url string, html binary",
    )


def _triples(df):
    return sorted(
        map(tuple, df.select("url", "subj", "pred", "obj").collect())
    )


class TestJsonLd:
    def test_multiblock_nested_array_and_broken(self, spark):
        html = b"""<html><head>
<script type="application/ld+json">
{"@context":"https://schema.org","@type":"Organization","name":"Acme",
 "ceo":{"@type":"Person","name":"Bob"},
 "sameAs":["https://a.example","https://b.example"]}
</script></head><body>
<script type="application/ld+json">{"@type":"Person","name":"Bob","birthPlace":{"name":"Berlin"}}</script>
<script type="application/ld+json">{not json at all</script>
<script type="application/ld+json">{"@type":"Thing","description":"no name key, dropped"}</script>
</body></html>"""
        pages = _pages(spark, html, b"<html><body>none</body></html>")
        blocks = extract_jsonld_blocks(pages)
        assert blocks.count() == 4  # broken block still extracted as text
        got = _triples(jsonld_triples(blocks))
        assert got == [
            ("u0", "Acme", "@type", "Organization"),
            ("u0", "Acme", "ceo", "Bob"),
            ("u0", "Acme", "sameAs", "https://a.example"),
            ("u0", "Acme", "sameAs", "https://b.example"),
            ("u0", "Bob", "@type", "Person"),
            ("u0", "Bob", "birthPlace", "Berlin"),
        ]

    def test_array_of_objects_and_id_fallback(self, spark):
        html = (
            b'<script type="application/ld+json">'
            b'{"@id":"ent:1","subsidiary":[{"name":"A"},{"@id":"ent:2"}]}'
            b"</script>"
        )
        got = _triples(jsonld_triples(extract_jsonld_blocks(_pages(spark, html))))
        assert got == [
            ("u0", "ent:1", "subsidiary", "A"),
            ("u0", "ent:1", "subsidiary", "ent:2"),
        ]

    def test_emit_type_false_and_context_skipped(self, spark):
        html = (
            b'<script type="application/ld+json">'
            b'{"@context":"https://schema.org","@type":"Org","name":"X","a":"1"}'
            b"</script>"
        )
        got = _triples(
            jsonld_triples(
                extract_jsonld_blocks(_pages(spark, html)), emit_type=False
            )
        )
        assert got == [("u0", "X", "a", "1")]

    def test_block_idx_positions(self, spark):
        html = (
            b'<script type="application/ld+json">{"name":"A"}</script>'
            b'<p>gap</p>'
            b'<script TYPE="application/ld+json">{"name":"B"}</script>'
        )
        rows = extract_jsonld_blocks(_pages(spark, html)).collect()
        # attribute matching is case-insensitive; positions are in order
        assert [(r.block_idx, r.json) for r in rows] == [
            (0, '{"name":"A"}'),
            (1, '{"name":"B"}'),
        ]


class TestHtmlTables:
    HTML = b"""<html><body>
<table><tr><th>Company</th><th>CEO</th><th>HQ</th></tr>
<tr><td><a href="/acme">Acme</a></td><td>Bob</td><td>Berlin</td></tr>
<tr><td>Globex</td><td></td><td>Paris</td></tr></table>
<table><tr><td>layout only</td></tr></table>
<table><tr><th>just one header row</th><th>x</th></tr></table>
</body></html>"""

    def test_table_triples_semantics(self, spark):
        got = sorted(
            map(
                tuple,
                table_triples(_pages(spark, self.HTML))
                .select("url", "table_idx", "row_idx", "subj", "pred", "obj")
                .collect(),
            )
        )
        # layout table (1 col) and header-only table emit nothing; the
        # empty Globex CEO cell is dropped
        assert got == [
            ("u0", 0, 1, "Acme", "CEO", "Bob"),
            ("u0", 0, 1, "Acme", "HQ", "Berlin"),
            ("u0", 0, 2, "Globex", "HQ", "Paris"),
        ]

    def test_key_col_idx(self, spark):
        html = (
            b"<table><tr><th>Rank</th><th>City</th><th>Pop</th></tr>"
            b"<tr><td>1</td><td>Berlin</td><td>3.7M</td></tr></table>"
        )
        got = sorted(
            map(
                tuple,
                table_triples(_pages(spark, html), key_col_idx=1)
                .select("subj", "pred", "obj")
                .collect(),
            )
        )
        assert got == [("Berlin", "Pop", "3.7M"), ("Berlin", "Rank", "1")]

    def test_ragged_row_wider_than_header(self, spark):
        # trailing cell with no header is dropped, not crashed on
        html = (
            b"<table><tr><th>A</th><th>B</th></tr>"
            b"<tr><td>s</td><td>v</td><td>extra</td></tr></table>"
        )
        got = _triples_tbl(table_triples(_pages(spark, html)))
        assert got == [("u0", "s", "B", "v")]


def _triples_tbl(df):
    return sorted(
        map(tuple, df.select("url", "subj", "pred", "obj").collect())
    )


class TestStructuredPlans:
    def test_jsonld_pure_map_no_shuffle_no_python(self, spark):
        pages = _pages(spark, b"<p>x</p>")
        p = (
            jsonld_triples(extract_jsonld_blocks(pages))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in p.replace("BroadcastExchange", "")
        assert "MapInPandas" not in p and "BatchEvalPython" not in p

    def test_table_triples_zero_shuffle(self, spark):
        pages = _pages(spark, b"<p>x</p>")
        p = (
            table_triples(pages)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in p
        assert "Join" not in p  # header/subject resolved in-array
        assert "MapInPandas" not in p and "BatchEvalPython" not in p


class TestSchemaMatch:
    def test_recovers_predicate_and_gates(self, spark):
        from kg.ops.structured import match_table_schema

        tbl = spark.createDataFrame(
            # column "Boss" carries ceo_of pairs; "Where" located_in;
            # "Rare" has only 1 overlapping pair -> gated by min_overlap
            [("u", 0, 1, "Acme", "Boss", "Bob"),
             ("u", 0, 2, "Globex", "Boss", "Eve"),
             ("u", 0, 1, "Acme", "Where", "Berlin"),
             ("u", 0, 2, "Globex", "Where", "Paris"),
             ("u", 0, 1, "Acme", "Rare", "X")],
            "url string, table_idx int, row_idx int, subj string,"
            " pred string, obj string",
        )
        facts = spark.createDataFrame(
            [("Acme", "ceo_of", "Bob"), ("Globex", "ceo_of", "Eve"),
             ("Acme", "located_in", "Berlin"),
             ("Globex", "located_in", "Paris"),
             ("Acme", "has_code", "X")],
            "subj string, pred string, obj string",
        )
        got = {
            r.header: (r.kg_pred, r.n_overlap)
            for r in match_table_schema(tbl, facts, min_overlap=2).collect()
        }
        assert got == {
            "Boss": ("ceo_of", 2), "Where": ("located_in", 2),
        }

    def test_pair_cap_excludes_template_pairs(self, spark):
        from kg.ops.structured import match_table_schema

        tbl = spark.createDataFrame(
            [("u", 0, 1, "s", "H", "hot"), ("u", 0, 2, "s2", "H", "hot2")],
            "url string, table_idx int, row_idx int, subj string,"
            " pred string, obj string",
        )
        # (s, hot) asserted under 3 predicates -> dropped at pair_cap=2;
        # (s2, hot2) under one -> kept but below min_overlap=2
        facts = spark.createDataFrame(
            [("s", f"p{i}", "hot") for i in range(3)]
            + [("s2", "q", "hot2")],
            "subj string, pred string, obj string",
        )
        assert (
            match_table_schema(tbl, facts, min_overlap=2, pair_cap=2).count()
            == 0
        )

    def test_tie_breaks_to_min_pred(self, spark):
        from kg.ops.structured import match_table_schema

        tbl = spark.createDataFrame(
            [("u", 0, 1, "a", "H", "x"), ("u", 0, 2, "b", "H", "y")],
            "url string, table_idx int, row_idx int, subj string,"
            " pred string, obj string",
        )
        facts = spark.createDataFrame(
            [("a", "p_z", "x"), ("b", "p_z", "y"),
             ("a", "p_a", "x"), ("b", "p_a", "y")],
            "subj string, pred string, obj string",
        )
        rows = match_table_schema(tbl, facts, min_overlap=2).collect()
        assert len(rows) == 1 and rows[0].kg_pred == "p_a"


class TestMarkupPipelineStage:
    def test_run_pipeline_markup_flag(self, spark, tmp_path):
        """--markup unions JSON-LD + <table> triples into the triple
        stage output: enrich the tiny pages with one JSON-LD block and
        one relational table, run extract+triples, and check both
        channels land with conf=1.0 while the prose channel is
        unchanged."""
        import run_pipeline

        pages = spark.read.parquet("/root/repo/fixtures/pages_tiny.parquet")
        block = (
            '<script type="application/ld+json">{"@type":"Organization",'
            '"name":"MarkCo","hq":"Berlin"}</script>'
            "<table><tr><th>Name</th><th>Boss</th></tr>"
            "<tr><td>MarkCo</td><td>Eve</td></tr></table>"
        )
        enriched = pages.withColumn(
            "html",
            F.encode(
                F.regexp_replace(
                    F.decode("html", "UTF-8"), "</body>", block + "</body>"
                ),
                "UTF-8",
            ),
        )
        src = str(tmp_path / "pages_mk.parquet")
        enriched.write.parquet(src)
        out = str(tmp_path / "kg_out")
        rc = run_pipeline.main([
            "--pages", src, "--out", out, "--buckets", "4",
            "--stages", "extract,triples", "--markup",
        ])
        assert rc == 0
        t = spark.read.parquet(f"{out}/triples")
        n_pages = pages.count()
        mk = t.where("subj = 'MarkCo'")
        got = {
            (r.pred, r.obj): r.cnt
            for r in mk.groupBy("pred", "obj")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        # one JSON-LD + one table triple per page, conf 1.0
        assert got == {("hq", "Berlin"): n_pages, ("Boss", "Eve"): n_pages}
        assert mk.where("conf != 1.0").count() == 0
        # prose channel unchanged vs the golden
        golden = spark.read.parquet(
            "/root/repo/fixtures/expected_triples_tiny.parquet"
        )
        assert t.where("subj != 'MarkCo'").count() == golden.count()


class TestPageMetadata:
    def _pages(self, spark):
        h1 = (
            '<html><head><title> My Page </title>'
            '<meta charset="utf-8">'
            '<meta name="description" content="A page about things">'
            '<meta property="og:title" content="OG My Page">'
            '<meta content="reversed-order" name="keywords">'
            '<meta name="empty-content" content="">'
            '<link rel="stylesheet" href="/s.css">'
            '<link rel="canonical" href="https://ex.com/a">'
            '</head><body>hi</body></html>'
        ).encode()
        h2 = b"<html><head></head><body>no head fields</body></html>"
        return spark.createDataFrame(
            [("u1", bytearray(h1)), ("u2", bytearray(h2))],
            "url string, html binary",
        )

    def test_page_metadata_fields(self, spark):
        from kg.ops.structured import page_metadata

        rows = {r.url: r for r in page_metadata(self._pages(spark)).collect()}
        assert rows["u1"].title == "My Page"  # trimmed
        assert rows["u1"].description == "A page about things"
        assert rows["u1"].canonical == "https://ex.com/a"
        # absent fields are NULL, never ''
        assert rows["u2"].title is None
        assert rows["u2"].description is None
        assert rows["u2"].canonical is None

    def test_page_meta_triples_rows_and_decoys(self, spark):
        from kg.ops.structured import page_meta_triples

        got = {
            (r.url, r.pred, r.obj)
            for r in page_meta_triples(self._pages(spark)).collect()
        }
        assert got == {
            ("u1", "title", "My Page"),
            ("u1", "description", "A page about things"),
            ("u1", "og:title", "OG My Page"),
            ("u1", "keywords", "reversed-order"),  # attr order reversed
            ("u1", "canonical", "https://ex.com/a"),
        }

    def test_plan_is_jvm_only(self, spark):
        from kg.ops.structured import page_meta_triples

        p = (
            page_meta_triples(self._pages(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in p


class TestMicrodata:
    HTML = b"""<html><body>
<p>preamble itemprop="decoy" outside any itemscope</p>
<div itemscope itemtype="https://schema.org/Organization">
  <span itemprop="name">Acme</span>
  <span itemprop="industry"><b>Heavy</b> Machinery</span>
  <meta itemprop="foundingDate" content="1999-01-02">
  <a href="https://acme.test" itemprop="url">ignored anchor text</a>
  <time itemprop="dissolutionDate" datetime="2020-06-07">June 2020</time>
  <img itemprop="logo" src="https://acme.test/logo.png">
</div>
<section itemscope itemtype="https://schema.org/Person">
  <span itemprop="name">Bob</span>
  <span itemprop="jobTitle">CEO</span>
</section>
<div itemscope><span itemprop="name">Untyped</span>
  <span itemprop="note">kept</span></div>
<div itemscope itemtype="https://schema.org/Thing">
  <span itemprop="description">no name, dropped</span>
</div>
</body></html>"""

    def _items(self, spark):
        from kg.ops.structured import extract_microdata_items

        pages = _pages(spark, self.HTML, b"<html><body>none</body></html>")
        return extract_microdata_items(pages)

    def test_segmentation_and_itemtype(self, spark):
        rows = sorted(
            (r.url, r.item_idx, r.itemtype) for r in self._items(spark).collect()
        )
        assert rows == [
            ("u0", 0, "https://schema.org/Organization"),
            ("u0", 1, "https://schema.org/Person"),
            ("u0", 2, ""),
            ("u0", 3, "https://schema.org/Thing"),
        ]

    def test_triples_value_resolution(self, spark):
        from kg.ops.structured import microdata_triples

        got = _triples(microdata_triples(self._items(spark)))
        assert got == [
            ("u0", "Acme", "@type", "https://schema.org/Organization"),
            ("u0", "Acme", "dissolutionDate", "2020-06-07"),
            ("u0", "Acme", "foundingDate", "1999-01-02"),
            ("u0", "Acme", "industry", "Heavy Machinery"),
            ("u0", "Acme", "logo", "https://acme.test/logo.png"),
            ("u0", "Acme", "url", "https://acme.test"),
            ("u0", "Bob", "@type", "https://schema.org/Person"),
            ("u0", "Bob", "jobTitle", "CEO"),
            ("u0", "Untyped", "note", "kept"),
        ]

    def test_repeated_itemprop_repeats_triple(self, spark):
        from kg.ops.structured import extract_microdata_items, microdata_triples

        html = (
            b'<div itemscope><span itemprop="name">A</span>'
            b'<span itemprop="member">X</span>'
            b'<span itemprop="member">Y</span></div>'
        )
        got = _triples(
            microdata_triples(extract_microdata_items(_pages(spark, html)))
        )
        assert got == [("u0", "A", "member", "X"), ("u0", "A", "member", "Y")]

    def test_plan_is_jvm_only(self, spark):
        from kg.ops.structured import microdata_triples

        p = (
            microdata_triples(self._items(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in p
