"""Structured-data extraction from raw HTML: JSON-LD (schema.org) blocks
and <table> markup → (subj, pred, obj) triples.

This is the Web Data Commons path of KG construction — real-world KGs
bootstrap from the embedded markup webmasters already publish, not only
from OpenIE over prose (reference scope: the service extracts entities
from caller-supplied text, e.g. entity_recogniser's ner/ner_custom
endpoints; this module is the web-scale ingest generalization the north
rule asks for).

Scale shape (both families):
- Block/row extraction is a PURE MAP: ``decode`` + ``regexp_extract_all``
  + ``explode`` over the html column — no shuffle, no Python. A page's
  blocks never leave its partition until the caller aggregates.
- JSON parsing stays JVM-side via ``from_json`` to ``map<string,string>``:
  Spark's JSON reader preserves nested objects/arrays as their raw JSON
  text when the target value type is string, which gives exact one-level
  flattening without a UDF; nested/array values are then unwrapped with a
  second ``from_json`` on the value column.
- Table parsing nests ``regexp_extract_all`` (page → tables → rows →
  cells) inside ``transform``/higher-order functions; the row/cell
  explosion is bounded by document size, the same bound the extract stage
  already carries.

Column pruning matters here exactly as in kg/stages/extract.py: callers
should select only (url, html) before invoking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "extract_jsonld_blocks",
    "jsonld_triples",
    "table_triples",
    "match_table_schema",
    "page_metadata",
    "page_meta_triples",
    "extract_microdata_items",
    "microdata_triples",
]

# Non-greedy, DOTALL: scripts can span lines; content is captured verbatim
# (JSON-LD payloads are not HTML-escaped inside <script>).
_JSONLD_RE = (
    r'(?is)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>'
)

# Keys that identify rather than describe: not emitted as property triples.
_ID_KEYS = ("@context", "@id", "@type", "name")


def extract_jsonld_blocks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per JSON-LD script block: (url, block_idx, json). Pages
    without blocks emit nothing (explode, not explode_outer — absence is
    the common case at web scale and carrying nulls helps no consumer).
    ``block_idx`` is the 0-based within-page position, so multi-block
    pages (article + breadcrumb + org markup is typical) stay addressable.
    Pure map: decode + one regexp_extract_all + posexplode."""
    html_str = F.decode(F.col(html_col), "UTF-8")
    blocks = F.regexp_extract_all(html_str, F.lit(_JSONLD_RE), F.lit(1))
    return pages.select(
        F.col(url_col).alias("url"), F.posexplode(blocks).alias("block_idx", "json")
    )


def _nested_name(value: Column) -> Column:
    """schema.org object values denote their entity by name (fallback
    @id): {"@type":"Place","name":"Berlin"} → "Berlin"."""
    m = F.from_json(value, "map<string,string>")
    return F.coalesce(m.getItem("name"), m.getItem("@id"))


def jsonld_triples(
    blocks: DataFrame,
    url_col: str = "url",
    json_col: str = "json",
    emit_type: bool = True,
) -> DataFrame:
    """Flatten JSON-LD objects into (url, subj, pred, obj) triples.

    - subj = the object's ``name`` (fallback ``@id``); blocks with
      neither are dropped (nothing to anchor the assertions to).
    - one triple per non-identity property; nested object values unwrap
      to THEIR name/@id, array values explode to one triple per element
      (elements may themselves be nested objects).
    - ``emit_type``: the ``@type`` key additionally yields one
      (subj, "@type", <type>) triple PER BLOCK — the rdf:type edge the
      reasoning layer's signature rules consume (identical blocks
      repeated on a page repeat the row; dedup is the downstream fact
      rollup's job, same as for property triples).
    - malformed JSON (from_json → null) is dropped, not failed: at crawl
      scale broken markup is data, not an error (the errors-table path is
      for OUR stages failing, not for the web being wrong).

    Everything is JVM expressions; no shuffle is introduced — output
    retains the input's partitioning for the downstream groupBy/linking.
    """
    m = F.from_json(F.col(json_col), "map<string,string>")
    parsed = (
        blocks.select(F.col(url_col).alias("url"), m.alias("m"))
        .where(F.col("m").isNotNull())
        .select(
            "url",
            F.coalesce(
                F.col("m").getItem("name"), F.col("m").getItem("@id")
            ).alias("subj"),
            F.col("m").getItem("@type").alias("_type"),
            F.col("m").alias("m"),
        )
        .where(F.col("subj").isNotNull())
    )
    base = parsed.select(
        "url", "subj", F.explode("m").alias("pred", "raw")
    )
    props = base.where(~F.col("pred").isin(*_ID_KEYS))
    # array values: one triple per element; scalars pass through as a
    # 1-element array so both shapes share the explode.
    elems = F.when(
        F.startswith(F.col("raw"), F.lit("[")),
        F.from_json(F.col("raw"), "array<string>"),
    ).otherwise(F.array(F.col("raw")))
    flat = props.select(
        "url", "subj", "pred", F.explode(elems).alias("val")
    ).select(
        "url",
        "subj",
        "pred",
        F.when(
            F.startswith(F.col("val"), F.lit("{")), _nested_name(F.col("val"))
        )
        .otherwise(F.col("val"))
        .alias("obj"),
    ).where(F.col("obj").isNotNull())
    if not emit_type:
        return flat
    types = parsed.where(F.col("_type").isNotNull()).select(
        "url", "subj", F.lit("@type").alias("pred"),
        F.col("_type").alias("obj"),
    )
    return flat.unionByName(types)


# ---------------------------------------------------------------------------
# HTML tables (WebTables-style: header row + entity rows → triples)

_TABLE_RE = r"(?is)<table[^>]*>(.*?)</table>"
_TR_RE = r"(?is)<tr[^>]*>(.*?)</tr>"
_CELL_RE = r"(?is)<t[hd][^>]*>(.*?)</t[hd]>"
_TAG_RE = r"(?s)<[^>]*>"


def _cells_expr(html_col: str) -> Column:
    """array<array<array<string>>>: tables → rows → tag-stripped cells.
    One projection; no shuffle, no Python."""
    html_str = F.decode(F.col(html_col), "UTF-8")
    tables = F.regexp_extract_all(html_str, F.lit(_TABLE_RE), F.lit(1))
    return F.transform(
        tables,
        lambda t: F.transform(
            F.regexp_extract_all(t, F.lit(_TR_RE), F.lit(1)),
            lambda r: F.transform(
                F.regexp_extract_all(r, F.lit(_CELL_RE), F.lit(1)),
                lambda c: F.trim(F.regexp_replace(c, _TAG_RE, "")),
            ),
        ),
    )


def table_triples(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    key_col_idx: int = 0,
    min_cols: int = 2,
) -> DataFrame:
    """WebTables relational interpretation: row 0 is the header, column
    ``key_col_idx`` names the row's entity, every other column asserts
    (entity, header, cell). Tables narrower than ``min_cols`` columns or
    shorter than 2 rows (layout tables) emit nothing.

    Scale shape: ZERO shuffle. Header lookup and subject resolution
    happen inside the nested ``transform`` while the table is still one
    array value — joining the relational cell view back to per-table
    headers would shuffle the corpus three times for what is a purely
    row-local computation. Empty subjects/headers/values are filtered
    in-array; one flatten + posexplode relationalizes the result.
    """
    key = key_col_idx

    def per_row(header: Column) -> "callable":
        def f(r: Column, ri: Column) -> Column:
            # try_element_at: ragged markup (rows wider than the header,
            # rows narrower than the key column) is dropped, not crashed on
            subj = F.try_element_at(r, F.lit(key + 1))
            structs = F.transform(
                r,
                lambda c, ci: F.struct(
                    (ri + 1).alias("row_idx"),
                    subj.alias("subj"),
                    F.try_element_at(header, ci + 1).alias("pred"),
                    c.alias("obj"),
                    ci.alias("_ci"),
                ),
            )
            return F.filter(
                structs,
                lambda s: (s.getField("_ci") != key)
                & s.getField("subj").isNotNull()
                & (s.getField("subj") != "")
                & s.getField("pred").isNotNull()
                & (s.getField("pred") != "")
                & (s.getField("obj") != ""),
            )

        return f

    def per_table(t: Column) -> Column:
        header = F.element_at(t, 1)
        body = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
        ok = (F.size(t) >= 2) & (F.size(header) >= min_cols)
        return F.when(
            ok, F.flatten(F.transform(body, per_row(header)))
        ).otherwise(F.array().cast(
            "array<struct<row_idx:int,subj:string,pred:string,"
            "obj:string,_ci:int>>"
        ))

    nested = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.transform(_cells_expr(html_col), lambda t: per_table(t))
        ).alias("table_idx", "trips"),
    )
    return nested.select(
        "url", "table_idx", F.explode("trips").alias("s")
    ).select(
        "url",
        "table_idx",
        F.col("s.row_idx").alias("row_idx"),
        F.col("s.subj").alias("subj"),
        F.col("s.pred").alias("pred"),
        F.col("s.obj").alias("obj"),
    )


def match_table_schema(
    tbl: DataFrame,
    facts: DataFrame,
    min_overlap: int = 2,
    pair_cap: int = 32,
) -> DataFrame:
    """WebTables semantic recovery: map each table column (identified by
    its header string) to the KG predicate whose extensional (subj, obj)
    pair set best overlaps the column's (key-cell, value-cell) pairs —
    web tables name their columns freely ("CEO", "Chief Exec", "Boss");
    the KG schema is recovered from the VALUES, not the label.

    ``tbl``: table_triples output (url, table_idx, subj, pred=header,
    obj). ``facts``: the KG fact table (subj, pred, obj).

    Returns (url, table_idx, header, kg_pred, n_overlap): the
    argmax-overlap predicate per column (ties → lexicographically
    smallest), columns below ``min_overlap`` matched pairs omitted.

    Scale shape: the join keys on the (subj, obj) VALUE pair — an
    equi-join, never a similarity scan — with the count-then-filter
    ``pair_cap`` applied to the fact side first (pairs asserted under
    more than ``pair_cap`` predicates are template noise, the same
    discipline as canonicalize_predicates). Then one partial-agged
    groupBy per (column, kg_pred) and the window-free min-struct argmax.
    """
    fp = facts.select("subj", "pred", "obj").distinct()
    hot = fp.groupBy("subj", "obj").agg(F.count(F.lit(1)).alias("_pc"))
    kept = fp.join(
        hot.where(F.col("_pc") <= pair_cap).select("subj", "obj"),
        ["subj", "obj"],
    ).select("subj", F.col("pred").alias("kg_pred"), "obj")
    overlaps = (
        tbl.select("url", "table_idx", F.col("pred").alias("header"),
                   "subj", "obj")
        .join(kept, ["subj", "obj"])
        .groupBy("url", "table_idx", "header", "kg_pred")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    key = F.struct(
        (-F.col("n_overlap")).alias("negn"), F.col("kg_pred").alias("p")
    )
    best = overlaps.groupBy("url", "table_idx", "header").agg(
        F.min(key).alias("_b")
    )
    return (
        overlaps.join(best, ["url", "table_idx", "header"])
        .where(key == F.col("_b"))
        .select("url", "table_idx", "header", "kg_pred", "n_overlap")
    )


# --- page metadata (WAT-style head channel) -------------------------

_TITLE_RE = r"(?is)<title[^>]*>([^<]*)</title>"
_META_TAG_RE = r"(?is)<meta\s[^>]*?>"
_META_KEY_RE = r'(?i)(?:name|property)="([^"]*)"'
_META_CONTENT_RE = r'(?i)content="([^"]*)"'
_CANON_TAG_RE = r'(?is)<link\s[^>]*?rel="canonical"[^>]*?>'
_HREF_RE = r'(?i)href="([^"]*)"'


def _meta_kv(html_str: Column) -> Column:
    """Array of (k, v) structs for every <meta name|property= content=>
    tag (double-quoted attributes, any attribute order); tags missing
    either half carry '' and are filtered by the callers."""
    tags = F.regexp_extract_all(html_str, F.lit(_META_TAG_RE), F.lit(0))
    return F.transform(
        tags,
        lambda t: F.struct(
            F.lower(F.regexp_extract(t, _META_KEY_RE, 1)).alias("k"),
            F.regexp_extract(t, _META_CONTENT_RE, 1).alias("v"),
        ),
    )


def page_metadata(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per page: (url, title, description, canonical) — the
    head-channel fields a crawl index keeps for every page (WAT records
    in Common-Crawl terms). Missing fields are NULL, never ''. Pure map:
    decode + regexp extracts, no shuffle, no Python; ``F.get`` (not
    element_at) keeps the lookups null-safe under ANSI mode.

    Scope: double-quoted attribute values (the overwhelmingly dominant
    form in real markup and everything the synth corpus emits);
    single-quoted attributes are a documented non-goal, same disposition
    as kg/ops/weblinks.py href extraction.
    """
    h = F.decode(F.col(html_col), "UTF-8")
    kv = _meta_kv(h)
    desc = F.get(F.filter(kv, lambda s: s["k"] == "description"), 0)["v"]
    canon_tag = F.regexp_extract(h, _CANON_TAG_RE, 0)
    canon = F.regexp_extract(canon_tag, _HREF_RE, 1)
    return pages.select(
        F.col(url_col).alias("url"),
        F.nullif(F.trim(F.regexp_extract(h, _TITLE_RE, 1)), F.lit(""))
        .alias("title"),
        F.nullif(desc, F.lit("")).alias("description"),
        F.nullif(canon, F.lit("")).alias("canonical"),
    )


def page_meta_triples(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Page-level metadata as (url, pred, obj) fact rows: 'title' and
    'canonical' plus one row per <meta name|property= content=> tag with
    pred = the lower-cased key ('description', 'og:title', …). Tags with
    an empty key or empty content are dropped (charset/http-equiv tags
    carry no name/property). Pure map; the output joins the same fact
    rollups the markup triples feed."""
    h = F.decode(F.col(html_col), "UTF-8")
    kv = F.filter(
        _meta_kv(h), lambda s: (s["k"] != "") & (s["v"] != "")
    )
    title = F.trim(F.regexp_extract(h, _TITLE_RE, 1))
    canon = F.regexp_extract(
        F.regexp_extract(h, _CANON_TAG_RE, 0), _HREF_RE, 1
    )
    base = pages.select(
        F.col(url_col).alias("url"),
        title.alias("_title"),
        canon.alias("_canon"),
        kv.alias("_kv"),
    )
    titles = base.where(F.col("_title") != "").select(
        "url", F.lit("title").alias("pred"), F.col("_title").alias("obj")
    )
    canons = base.where(F.col("_canon") != "").select(
        "url", F.lit("canonical").alias("pred"), F.col("_canon").alias("obj")
    )
    metas = base.select("url", F.explode("_kv").alias("m")).select(
        "url", F.col("m.k").alias("pred"), F.col("m.v").alias("obj")
    )
    return titles.unionByName(canons).unionByName(metas)


# --- schema.org microdata (itemscope / itemtype / itemprop) ----------
#
# Per Web Data Commons crawls, microdata is the single most widespread
# structured-data format on the web (more pages carry it than JSON-LD),
# so a web-scale markup channel needs it beside the JSON-LD path above.
#
# Scope restriction (documented, mirrors the JSON-LD one-level
# flattening): itemscopes are treated as FLAT siblings. The html is
# segmented at every itemscope opening tag (zero-width lookahead split),
# and each segment's itemprops belong to that segment's item — a nested
# itemscope therefore starts a new sibling item rather than a child
# object. Nesting is rare in real markup relative to flat item lists,
# and a regex channel cannot match balanced tags; the triples still
# land, only the parent→child edge is not emitted.

_ITEMSCOPE_SPLIT = r"(?i)(?=<[a-z][^>]*\bitemscope\b)"
_ITEMTYPE_RE = r'(?i)\bitemtype="([^"]*)"'
_FIRST_TAG_RE = r"(?s)^<[^>]*>"
# Text-valued property: any element whose itemprop value is its inner
# text, matched to the first close of the SAME tag (backreference);
# inner presentation markup (<b>, <a>) is stripped like table cells.
_PROP_TEXT_RE = r'(?is)<([a-z][a-z0-9]*)\s[^>]*?\bitemprop="([^"]*)"[^>]*>(.*?)</\1\s*>'
# Attribute-valued property tags (microdata spec: these elements carry
# their value in an attribute, not their text content).
_PROP_ATTR_RE = (
    r'(?is)<(?:meta|link|a|area|img|audio|video|source|time)\s'
    r'[^>]*?\bitemprop="([^"]*)"[^>]*?>'
)
_ATTR_VALUED_TAGS = ("meta", "link", "a", "area", "img", "audio",
                     "video", "source", "time")
_CONTENT_RE = r'(?i)\bcontent="([^"]*)"'
_DATETIME_RE = r'(?i)\bdatetime="([^"]*)"'
_SRC_RE = r'(?i)\bsrc="([^"]*)"'


def extract_microdata_items(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """One row per itemscope segment: (url, item_idx, itemtype, seg).
    ``seg`` is the raw html from the itemscope opening tag up to the next
    itemscope (or end of document) — the span whose itemprops belong to
    this item under the flat-sibling scope rule. ``itemtype`` comes from
    the segment's opening tag ('' when absent). Pages without itemscope
    emit nothing. Pure map: decode + lookahead split + posexplode."""
    # The leading space guarantees a non-empty preamble element: Java's
    # split drops a zero-width match at position 0, so a document that
    # STARTS with an itemscope tag would otherwise lose its first item
    # to the preamble slice below.
    html_str = F.concat(F.lit(" "), F.decode(F.col(html_col), "UTF-8"))
    segs = F.split(html_str, _ITEMSCOPE_SPLIT)
    # element 1 of the split is the pre-item preamble; drop it.
    items = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
    out = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(items).alias("item_idx", "seg"),
    )
    first_tag = F.regexp_extract(F.col("seg"), _FIRST_TAG_RE, 0)
    return out.select(
        "url",
        "item_idx",
        F.regexp_extract(first_tag, _ITEMTYPE_RE, 1).alias("itemtype"),
        "seg",
    )


def microdata_triples(
    items: DataFrame, emit_type: bool = True
) -> DataFrame:
    """Flatten microdata items into (url, subj, pred, obj) triples, the
    same contract as ``jsonld_triples``:

    - subj = the item's ``itemprop="name"`` value; items without one are
      dropped (nothing to anchor the assertions to).
    - one triple per non-name property. Value resolution follows the
      microdata spec's element rules: meta → content, a/link/area →
      href, img/audio/video/source → src, time → datetime (fallback
      content); every other element → its tag-stripped trimmed inner
      text. Repeated itemprops repeat the triple (arrays in microdata
      ARE repetition); dedup is the downstream fact rollup's job.
    - ``emit_type``: one (subj, "@type", itemtype) row per typed item.

    Everything is JVM regex/array expressions evaluated per segment; no
    shuffle, no Python — output keeps the scan partitioning.
    """
    seg = F.col("seg")
    t_tags = F.regexp_extract_all(seg, F.lit(_PROP_TEXT_RE), F.lit(1))
    t_keys = F.regexp_extract_all(seg, F.lit(_PROP_TEXT_RE), F.lit(2))
    t_vals = F.regexp_extract_all(seg, F.lit(_PROP_TEXT_RE), F.lit(3))
    text_props = F.filter(
        F.transform(
            F.arrays_zip(t_tags.alias("t"), t_keys.alias("k"),
                         t_vals.alias("v")),
            lambda s: F.struct(
                s["k"].alias("k"),
                F.trim(F.regexp_replace(s["v"], _TAG_RE, "")).alias("v"),
                F.lower(s["t"]).alias("_tag"),
            ),
        ),
        lambda s: ~s["_tag"].isin(*_ATTR_VALUED_TAGS),
    )
    a_tags = F.regexp_extract_all(seg, F.lit(_PROP_ATTR_RE), F.lit(0))
    a_keys = F.regexp_extract_all(seg, F.lit(_PROP_ATTR_RE), F.lit(1))
    attr_props = F.transform(
        F.arrays_zip(a_tags.alias("t"), a_keys.alias("k")),
        lambda s: F.struct(
            s["k"].alias("k"),
            F.coalesce(
                F.nullif(F.regexp_extract(s["t"], _CONTENT_RE, 1), F.lit("")),
                F.nullif(F.regexp_extract(s["t"], _HREF_RE, 1), F.lit("")),
                F.nullif(F.regexp_extract(s["t"], _DATETIME_RE, 1),
                         F.lit("")),
                F.nullif(F.regexp_extract(s["t"], _SRC_RE, 1), F.lit("")),
                F.lit(""),
            ).alias("v"),
            F.lit("_attr").alias("_tag"),
        ),
    )
    props = F.filter(
        F.concat(text_props, attr_props),
        lambda s: (s["k"] != "") & (s["v"] != ""),
    )
    base = items.select(
        "url",
        "item_idx",
        F.col("itemtype"),
        props.alias("props"),
    ).withColumn(
        "subj", F.get(F.filter(F.col("props"), lambda s: s["k"] == "name"),
                      0)["v"]
    ).where(F.col("subj").isNotNull())
    flat = base.select(
        "url", "subj", F.explode("props").alias("p")
    ).where(F.col("p.k") != "name").select(
        "url", "subj", F.col("p.k").alias("pred"), F.col("p.v").alias("obj")
    )
    if not emit_type:
        return flat
    types = base.where(F.col("itemtype") != "").select(
        "url", "subj", F.lit("@type").alias("pred"),
        F.col("itemtype").alias("obj"),
    )
    return flat.unionByName(types)
