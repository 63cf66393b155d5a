"""Hyperlink extraction and host-level link-graph construction over raw
Common-Crawl-style pages — the web-graph side of KG construction (the
reference extracts entities from text, /root/reference/src/hu_entity/
entity_finder.py; a crawl corpus also carries explicit edges in its
anchors, which feed PageRank-style entity/host importance and crawl
frontier ranking).

Spec (replayed verbatim by the DuckDB contract oracle):

1. Decode ``html`` (binary, UTF-8) and pull every double-quoted
   ``<a ... href="...">`` value with one JVM regex — no HTML parse. This
   is the standard crawl-scale trade (WAT extraction does the same); a
   single-quoted/unquoted href is out of scope and documented as such.
2. Resolve each href against the page url:
   absolute (``scheme://...``) as-is; protocol-relative (``//h/p``) gets
   the page scheme; root-relative (``/p``) gets ``scheme://host``;
   empty/fragment-only resolves to the page itself; anything else is
   treated root-relative (no dot-segment arithmetic — synth pages emit
   none, and crawl pipelines commonly normalize these away upstream).
3. Normalize the resolved url with the SAME expression as
   :func:`kg.ops.webnorm.normalize_urls` (fragment/port/tracking-param/
   trailing-slash rules), so link targets and crawled page urls land in
   one key space and the graph joins against the pages table directly.

Scale shape: ``extract_links`` is a pure map — decode + regexp_extract_all
+ explode, all whole-stage-codegen JVM expressions, no Python, no shuffle;
it streams over any number of pages. ``host_link_graph`` is one
partial-aggregated groupBy over (src_host, dst_host) — host-pair
cardinality is tiny next to the link count, so the shuffle is the
pre-aggregated pairs, not the raw links.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg.ops.webnorm import _norm_expr

__all__ = [
    "extract_links",
    "mine_anchor_aliases",
    "host_link_graph",
    "aggregate_host_graph",
    "anchor_text_index",
    "robots_rules",
    "parse_sitemaps",
    "parse_feeds",
    "robots_filter_frontier",
    "fetch_schedule",
    "revisit_schedule",
    "host_stats",
    "HREF_RE",
    "HOST_RE",
]

#: double-quoted href attribute of an anchor tag (group 1 = the value)
HREF_RE = r'<a\s[^>]*href="([^"]*)"'
#: a whole simple anchor element (no nested tags in the body)
ANCHOR_RE = r'<a\s[^>]*href="[^"]*"[^>]*>[^<]*</a>'
#: host component of an absolute URL (group 1)
HOST_RE = r"://([^/?#]+)"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_ORIGIN_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def _resolve(href: Column, page_url: Column) -> Column:
    """Resolve ``href`` against ``page_url`` per the module spec."""
    scheme = F.regexp_extract(page_url, _SCHEME_RE, 1)
    origin = F.regexp_extract(page_url, _ORIGIN_RE, 1)
    return (
        F.when(href.rlike(_SCHEME_RE), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when((href == "") | href.startswith("#"), page_url)
        .otherwise(F.concat(origin, F.lit("/"), href))
    )


def extract_links(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per anchor: (src_url, [keep_cols...,] href, dst_url) with
    ``dst_url`` resolved and normalized. Pages without anchors emit
    nothing. ``keep_cols`` carries page attributes (e.g. ``warc_ts`` for
    the streaming rate aggregation) through the explode, avoiding a
    self-join back onto the pages table."""
    html_str = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html_str, F.lit(HREF_RE), F.lit(1))
    exploded = df.select(
        F.col(url_col).alias("src_url"),
        *[F.col(c) for c in keep_cols],
        F.explode(hrefs).alias("href"),
    )
    return exploded.withColumn(
        "dst_url", _norm_expr(_resolve(F.col("href"), F.col("src_url")))
    )


def host_link_graph(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Host-level link graph: (src_host, dst_host, n_links, n_pages,
    n_targets) — total anchors, distinct linking pages, distinct
    normalized targets. Self-loops (in-site links) are kept; callers
    filter ``src_host != dst_host`` for the cross-site graph."""
    links = extract_links(df, url_col=url_col, html_col=html_col)
    return aggregate_host_graph(links)


def aggregate_host_graph(links: DataFrame) -> DataFrame:
    """Host-pair aggregation over an already-extracted links table
    (src_url, dst_url, ...) — e.g. the pipeline's checkpointed ``links``
    stage output — so the extraction pass isn't repeated per rollup."""
    return (
        links.select(
            F.regexp_extract("src_url", HOST_RE, 1).alias("src_host"),
            F.regexp_extract("dst_url", HOST_RE, 1).alias("dst_host"),
            "src_url",
            "dst_url",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("src_url").alias("n_pages"),
            F.countDistinct("dst_url").alias("n_targets"),
        )
    )


def _resolved_anchors(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, href, anchor_text, dst_url): whole simple anchors with
    whitespace-collapsed text and the target resolved + normalized — the
    shared pure-map extraction behind anchor_text_index and
    mine_anchor_aliases (same scope as :data:`ANCHOR_RE`)."""
    html_str = F.decode(F.col(html_col), "UTF-8")
    anchors = F.regexp_extract_all(html_str, F.lit(ANCHOR_RE), F.lit(0))
    per_anchor = df.select(
        F.col(url_col).alias("src_url"), F.explode(anchors).alias("a")
    ).select(
        "src_url",
        F.regexp_extract("a", HREF_RE, 1).alias("href"),
        F.trim(
            F.regexp_replace(F.regexp_extract("a", r">([^<]*)<", 1),
                             r"\s+", " ")
        ).alias("anchor_text"),
    )
    return per_anchor.withColumn(
        "dst_url", _norm_expr(_resolve(F.col("href"), F.col("src_url")))
    )


def anchor_text_index(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_texts: int = 32,
) -> DataFrame:
    """Anchor-text index: for every normalized link target, how many pages
    link to it, with how many anchors, under which (sorted, distinct)
    anchor texts. Anchor text is the classic off-page naming signal — a
    KG linker uses it as extra surface forms for the target entity/page,
    and rankers as an endorsement feature.

    Extraction matches simple anchors only (``<a ... href="...">text</a>``
    with no nested markup, text whitespace-collapsed and trimmed) — the
    documented crawl-scale simplification, same scope as :data:`HREF_RE`.

    Scale shape: pure-map extraction (decode + regexp_extract_all over
    whole elements, then per-element href/text extracts — all JVM). The
    count stats are one partial-aggregated groupBy; the text sample is
    distinct-ed then window-ranked to the lexicographically-first
    ``max_texts`` BEFORE collect_list, so no aggregation buffer ever
    holds more than ``max_texts`` strings even for a hub target every
    page links to under a different text.
    """
    resolved = _resolved_anchors(df, url_col, html_col)
    stats = resolved.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("src_url").alias("n_pages"),
    )
    from pyspark.sql.window import Window

    texts = (
        resolved.select("dst_url", "anchor_text")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("dst_url").orderBy("anchor_text")
            ),
        )
        .where(F.col("rn") <= int(max_texts))
        .groupBy("dst_url")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("anchor_text")), "|"
            ).alias("anchor_texts")
        )
    )
    return stats.join(texts, "dst_url")


def mine_anchor_aliases(
    pages: DataFrame,
    triples: DataFrame,
    min_refs: int = 2,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Alias-dictionary enrichment from anchor text — the classic KG trick
    (Wikipedia-anchor alias mining, Cucerzan 2007): what the web CALLS a
    page is a surface form of the page's primary entity, so anchors feed
    the linker's alias dictionary.

    1. Each page's PRIMARY entity = its most frequent triple subject
       (tie -> lexicographically smallest; deterministic).
    2. Anchors whose normalized target is that page become alias
       candidates for the entity.
    3. Candidates are normalized exactly like the linker dictionary
       (``kg.stages.link.norm_surface_col``); empties and self-aliases
       (candidate == the entity's own normalized surface) are dropped.
    4. Aggregate per (entity_surface, alias_norm): ``n_refs`` anchors and
       ``n_hosts`` distinct referring hosts; keep ``n_refs >= min_refs``
       (multi-reference evidence gates out one-off anchor noise).

    Returns (entity_surface, alias_norm, n_refs, n_hosts) — rows shaped
    for appending to the alias dict after an entity-id assignment pass.

    Scale shape: anchor extraction is the shared pure map
    (``_resolved_anchors``); the primary-entity table is one window over
    the per-(url, subj) counts (triples-table sized, never the corpus);
    the candidate join is an equi join on the high-cardinality url; the
    final rollup is one partial-aggregated groupBy.
    """
    from pyspark.sql.window import Window

    from kg.stages.link import norm_surface_col

    prim = (
        triples.groupBy("url", "subj")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy(
                    F.desc("_n"), F.asc("subj")
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            _norm_expr(F.col("url")).alias("dst_url"),
            F.col("subj").alias("entity_surface"),
        )
    )
    cand = (
        _resolved_anchors(pages, url_col, html_col)
        .join(prim, "dst_url")
        .select(
            "src_url",
            "entity_surface",
            norm_surface_col("anchor_text").alias("alias_norm"),
        )
        .where(
            (F.col("alias_norm") != "")
            & (F.col("alias_norm") != norm_surface_col("entity_surface"))
        )
    )
    return (
        cand.groupBy("entity_surface", "alias_norm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_refs"),
            F.countDistinct(
                F.regexp_extract("src_url", HOST_RE, 1)
            ).cast("long").alias("n_hosts"),
        )
        .where(F.col("n_refs") >= int(min_refs))
    )


#: robots.txt line: directive ':' value (comments stripped first)
ROBOTS_LINE_RE = r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$"


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    agent: str = "*",
) -> DataFrame:
    """Parse robots.txt bodies into (host, prefix) Disallow rules that
    apply to ``agent`` — the politeness gate in front of the crawl
    frontier.

    Grammar (REP subset, deterministic and window-expressible so the
    DuckDB oracle replays it with the same window functions):
    comments (``# ...``) stripped, blank lines dropped; a GROUP is a run
    of consecutive ``User-agent:`` lines plus the non-UA lines that
    follow until the next UA run; a group's Disallow rules apply iff one
    of its UA values is ``*`` or equals ``agent`` (case-insensitive).
    Empty ``Disallow:`` (allow-all) contributes no rule. ``Allow:`` and
    wildcard/$ patterns are out of scope — prefixes only, the common
    case — and documented as such.

    Scale shape: split + posexplode is a pure map; group assignment is
    two window functions over (host, line_no) — robots bodies are a few
    KB, so per-host windows are trivially bounded; the output rule table
    is tiny (it broadcasts in :func:`robots_filter_frontier`).
    """
    from pyspark.sql.window import Window

    lines = (
        robots.select(
            F.col(host_col).alias("host"),
            F.posexplode(
                F.split(F.col(body_col), "\n")
            ).alias("pos", "raw"),
        )
        .withColumn("clean", F.regexp_replace("raw", "#.*", ""))
        .withColumn(
            "directive",
            F.lower(F.regexp_extract("clean", ROBOTS_LINE_RE, 1)),
        )
        .withColumn("value", F.regexp_extract("clean", ROBOTS_LINE_RE, 2))
        .where(F.trim("clean") != "")
    )
    w = Window.partitionBy("host").orderBy("pos")
    grouped = (
        lines.withColumn("is_ua", F.col("directive") == "user-agent")
        .withColumn(
            "new_group",
            F.col("is_ua")
            & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
        )
        .withColumn(
            "group_id",
            F.sum(F.col("new_group").cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    matched = (
        grouped.where(
            F.col("is_ua")
            & (
                (F.col("value") == "*")
                | (F.lower(F.col("value")) == agent.lower())
            )
        )
        .select("host", "group_id")
        .distinct()
    )
    return (
        grouped.where(
            (F.col("directive") == "disallow") & (F.col("value") != "")
        )
        .join(matched, ["host", "group_id"], "left_semi")
        .select("host", F.col("value").alias("prefix"))
        .distinct()
    )


def robots_filter_frontier(
    frontier: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop frontier URLs whose path starts with a Disallowed prefix for
    their host (``rules`` from :func:`robots_rules`). Returns ``frontier``
    rows that remain fetchable, columns unchanged.

    Scale shape: the rule table is tiny (hosts x few prefixes) and is
    BROADCAST — the frontier never shuffles: ONE broadcast left-anti
    join, equi on host with the prefix startswith as a join filter (JVM
    expression inside the hash probe, no fan-out materialized).
    """
    from kg.ops.webnorm import _URL_RE

    url = F.col(url_col)
    fr = frontier.withColumn(
        "_host", F.lower(F.regexp_extract(url, _URL_RE, 2))
    ).withColumn("_path", F.regexp_extract(url, _URL_RE, 3))
    r = rules.select(
        F.col("host").alias("_host"), F.col("prefix").alias("_prefix")
    )
    return fr.join(
        F.broadcast(r),
        (fr["_host"] == r["_host"])
        & fr["_path"].startswith(r["_prefix"]),
        "left_anti",
    ).drop("_host", "_path")


# --- sitemaps ---------------------------------------------------------

_SITEMAP_URL_BLOCK_RE = r"(?is)<url>(.*?)</url>"
_SITEMAP_IDX_BLOCK_RE = r"(?is)<sitemap>(.*?)</sitemap>"
_LOC_RE = r"(?is)<loc>\s*([^<]*?)\s*</loc>"
_LASTMOD_RE = r"(?is)<lastmod>\s*([^<]*?)\s*</lastmod>"


def parse_sitemaps(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    id_col: str = "sitemap_url",
) -> DataFrame:
    """Sitemap-protocol parse (sitemaps.org XML): one row per <url> or
    <sitemap> entry — (sitemap_url, kind 'url'|'sitemap', loc,
    lastmod_iso). ``kind='sitemap'`` rows are index entries pointing at
    child sitemaps (the caller fetches and feeds them back — the
    protocol's recursion lives in the crawl loop, not the parser).
    ``lastmod_iso`` is the entry's <lastmod> truncated to the ISO day
    ('' when absent — empty string, not NULL, so downstream hash
    compares never coerce). Entries without a <loc> are dropped as data.

    Pure map: two regexp_extract_all block passes + per-block field
    extracts, all inside one projection — no shuffle, no Python; the
    10^6-entry sitemaps big hosts publish stay one row in, bounded rows
    out, exactly like the page→links explode."""
    x = F.col(xml_col)

    def entries(block_re: str, kind: str) -> Column:
        blocks = F.regexp_extract_all(x, F.lit(block_re), F.lit(1))
        return F.transform(
            blocks,
            lambda b: F.struct(
                F.lit(kind).alias("kind"),
                F.regexp_extract(b, _LOC_RE, 1).alias("loc"),
                F.substring(
                    F.regexp_extract(b, _LASTMOD_RE, 1), 1, 10
                ).alias("lastmod_iso"),
            ),
        )

    both = F.concat(
        entries(_SITEMAP_URL_BLOCK_RE, "url"),
        entries(_SITEMAP_IDX_BLOCK_RE, "sitemap"),
    )
    return (
        sitemaps.select(
            F.col(id_col).alias("sitemap_url"), F.explode(both).alias("e")
        )
        .select(
            "sitemap_url",
            F.col("e.kind").alias("kind"),
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod_iso").alias("lastmod_iso"),
        )
        .where(F.col("loc") != "")
    )


# --- RSS / Atom feeds (the third discovery channel, beside link
# extraction and sitemaps: feeds announce NEW urls with publish dates,
# which is how news/blog crawling finds fresh content minutes after it
# appears instead of on the next full-site recrawl) -------------------

_RSS_ITEM_RE = r"(?is)<item[^>]*>(.*?)</item>"
_ATOM_ENTRY_RE = r"(?is)<entry[^>]*>(.*?)</entry>"
_FEED_TITLE_RE = r"(?is)<title[^>]*>\s*([^<]*?)\s*</title>"
_RSS_LINK_RE = r"(?is)<link>\s*([^<]*?)\s*</link>"
_ATOM_LINK_RE = r'(?is)<link\s[^>]*?\bhref="([^"]*)"'
_RSS_PUBDATE_RE = r"(?is)<pubDate>\s*([^<]*?)\s*</pubDate>"
# RFC 822 date core ("Thu, 05 Mar 2020 10:30:00 GMT" → day/month/year);
# the weekday prefix and time are ignored — only the date matters to a
# crawl scheduler, and zone-correct time parsing is not worth a UDF.
_RFC822_RE = (
    r"(\d{1,2}) (Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) (\d{4})"
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _rfc822_to_iso(raw: Column) -> Column:
    """'Thu, 05 Mar 2020 10:30:00 GMT' → '2020-03-05'; '' when the
    day-month-year core is absent. Pure column expressions (the month
    branch is a 12-arm CASE both engines replay verbatim)."""
    d = F.regexp_extract(raw, _RFC822_RE, 1)
    mon = F.regexp_extract(raw, _RFC822_RE, 2)
    y = F.regexp_extract(raw, _RFC822_RE, 3)
    num = F.lit(None).cast("string")
    for i, name in enumerate(_MONTHS):
        num = F.when(mon == name, F.lit("%02d" % (i + 1))).otherwise(num)
    return F.when(
        mon == "", F.lit("")
    ).otherwise(F.concat(y, F.lit("-"), num, F.lit("-"), F.lpad(d, 2, "0")))


def parse_feeds(
    feeds: DataFrame,
    xml_col: str = "xml",
    id_col: str = "feed_url",
) -> DataFrame:
    """RSS 2.0 / Atom feed parse: one row per <item> or <entry> —
    (feed_url, kind 'rss'|'atom', title, link, published_iso).

    - RSS items: <title>, <link>text</link>, <pubDate> (RFC 822 →
      ISO day via :func:`_rfc822_to_iso`).
    - Atom entries: <title>, <link href="..."/> (attribute-valued, any
      other attributes tolerated), <updated> or <published> (already
      ISO 8601 → day truncation), <updated> preferred.
    - ``published_iso`` is '' when absent (empty string, not NULL — same
      contract as parse_sitemaps' lastmod_iso). Entries without a link
      are dropped as data. Channel/feed-level <title> sits outside the
      entry blocks and never leaks into rows.

    Pure map: two regexp_extract_all block passes + per-block field
    extracts in one projection — no shuffle, no Python; a megabyte feed
    stays one row in, bounded rows out."""
    x = F.col(xml_col)

    def entries(block_re: str, kind: str) -> Column:
        blocks = F.regexp_extract_all(x, F.lit(block_re), F.lit(1))
        if kind == "rss":
            link = lambda b: F.regexp_extract(b, _RSS_LINK_RE, 1)  # noqa: E731
            pub = lambda b: _rfc822_to_iso(  # noqa: E731
                F.regexp_extract(b, _RSS_PUBDATE_RE, 1)
            )
        else:
            link = lambda b: F.regexp_extract(b, _ATOM_LINK_RE, 1)  # noqa: E731
            pub = lambda b: F.substring(  # noqa: E731
                F.coalesce(
                    F.nullif(
                        F.regexp_extract(
                            b, r"(?is)<updated>\s*([^<]*?)\s*</updated>", 1
                        ),
                        F.lit(""),
                    ),
                    F.regexp_extract(
                        b, r"(?is)<published>\s*([^<]*?)\s*</published>", 1
                    ),
                ),
                1,
                10,
            )
        return F.transform(
            blocks,
            lambda b: F.struct(
                F.lit(kind).alias("kind"),
                F.regexp_extract(b, _FEED_TITLE_RE, 1).alias("title"),
                link(b).alias("link"),
                pub(b).alias("published_iso"),
            ),
        )

    both = F.concat(
        entries(_RSS_ITEM_RE, "rss"), entries(_ATOM_ENTRY_RE, "atom")
    )
    return (
        feeds.select(
            F.col(id_col).alias("feed_url"), F.explode(both).alias("e")
        )
        .select(
            "feed_url",
            F.col("e.kind").alias("kind"),
            F.col("e.title").alias("title"),
            F.col("e.link").alias("link"),
            F.col("e.published_iso").alias("published_iso"),
        )
        .where(F.col("link") != "")
    )


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    default_delay_s: float = 1.0,
    url_col: str = "url",
    priority_col: str | None = None,
) -> DataFrame:
    """Politeness-constrained fetch scheduling: a crawler may hit one
    host only every ``crawl_delay_s`` seconds (robots Crawl-delay or the
    crawler's default), so each host's frontier is a QUEUE — this op
    assigns every url its queue slot and relative fetch time:

    (url, host, slot, fetch_at_s) with slot = rank within host ordered
    by priority DESC (tie → md5(url), then url — deterministic under any
    partitioning) and fetch_at_s = slot * delay.

    ``delays``: optional (host, crawl_delay_s) dim (parsed robots
    Crawl-delay lines); hosts absent from it get ``default_delay_s``.

    Scale shape: one broadcast join against the delay dim + ONE window
    partitioned by host. A mega-host serializes through its window
    partition, but that host IS sequential by politeness — the window
    state is a running counter, and hosts schedule independently in
    parallel, which is exactly the crawl's own concurrency structure.
    """
    url = F.col(url_col)
    pr = (
        F.col(priority_col).cast("double")
        if priority_col
        else F.lit(0.0)
    )
    base = frontier.select(
        url.alias("url"),
        F.regexp_extract(url, HOST_RE, 1).alias("host"),
        pr.alias("_pr"),
        F.md5(url).alias("_h"),
    )
    if delays is not None:
        base = base.join(
            F.broadcast(
                delays.select("host", F.col("crawl_delay_s").cast("double"))
            ),
            "host",
            "left",
        )
        delay = F.coalesce("crawl_delay_s", F.lit(float(default_delay_s)))
    else:
        delay = F.lit(float(default_delay_s))
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(
        F.desc("_pr"), F.col("_h"), F.col("url")
    )
    slot = (F.row_number().over(w) - 1).cast("long")
    return base.select(
        "url",
        "host",
        slot.alias("slot"),
        (slot * delay).alias("fetch_at_s"),
    )


def revisit_schedule(
    visits: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    fp_col: str = "fp",
) -> DataFrame:
    """Crawl revisit scheduling from observed page change rates (the
    Cho & Garcia-Molina freshness recipe): estimate each page's Poisson
    change rate from its visit history and derive the revisit interval
    that keeps expected staleness at ~one change per revisit.

    Input: one row per (page, fetch) with a content fingerprint
    (``fp`` — any stable hash of the extracted text). Per url ordered by
    fetch time:

    - an OBSERVATION is a consecutive visit pair; it is a CHANGE when the
      fingerprints differ;
    - change ratio r = n_changes / n_obs is bias-adjusted away from 1
      (r_adj = min(r, 1 - 1/(2*n_obs)) — with every visit changed, the
      MLE diverges; the half-observation cap is the standard fix);
    - rate_per_day = -ln(1 - r_adj) / avg_gap_days (the Poisson MLE for
      equal-spaced visits, with avg_gap_days = total span / n_obs
      computed from EXACT integer epoch seconds so engines agree);
    - revisit_days = 1 / rate_per_day, NULL until a change has been seen
      (no rate evidence yet — schedule such pages by crawl policy, not
      by this estimate).

    Floats are rounded to 6 decimals (repo-wide oracle convention).
    Returns (url, n_obs, n_changes, avg_gap_days, rate_per_day,
    revisit_days); urls with a single visit (no observation) are
    omitted.

    Scale shape: one window over url (lag of fingerprint + timestamp,
    partition bounded by per-page visit count, which crawl policy keeps
    small) + one partial-agged groupBy on url. Everything JVM; the only
    shuffle key is url — uniform, no skew.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("_u").orderBy("_ts")
    obs = (
        visits.select(
            F.col(url_col).alias("_u"),
            F.col(ts_col).cast("timestamp").alias("_ts"),
            F.col(fp_col).alias("_fp"),
        )
        .withColumn("_prev_fp", F.lag("_fp").over(w))
        .withColumn("_prev_ts", F.lag("_ts").over(w))
        .where(F.col("_prev_ts").isNotNull())
        .select(
            "_u",
            (F.col("_fp") != F.col("_prev_fp")).cast("int").alias("_chg"),
            (
                F.unix_timestamp("_ts") - F.unix_timestamp("_prev_ts")
            ).alias("_gap_s"),
        )
    )
    g = obs.groupBy(F.col("_u").alias("url")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("_chg").cast("long").alias("n_changes"),
        F.sum("_gap_s").cast("long").alias("_span_s"),
    )
    avg_gap_days = (
        F.col("_span_s").cast("double")
        / F.col("n_obs")
        / F.lit(86400.0)
    )
    r_adj = F.least(
        F.col("n_changes").cast("double") / F.col("n_obs"),
        F.lit(1.0) - F.lit(1.0) / (F.lit(2.0) * F.col("n_obs")),
    )
    rate = -F.log(F.lit(1.0) - r_adj) / avg_gap_days
    return g.select(
        "url",
        "n_obs",
        "n_changes",
        F.round(avg_gap_days, 6).alias("avg_gap_days"),
        F.when(
            F.col("n_changes") > 0, F.round(rate, 6)
        ).alias("rate_per_day"),
        F.when(
            F.col("n_changes") > 0, F.round(F.lit(1.0) / rate, 6)
        ).alias("revisit_days"),
    )


def host_stats(pages: DataFrame) -> DataFrame:
    """Host-level curation table: per normalized host, page count, mean
    URL path depth, outlink volume, and the internal-link fraction
    (links staying on the host) — the unit at which domain-level corpus
    decisions actually happen (C4-style domain blocks, per-host crawl
    budgets, link-farm flags: a host with huge outlink volume and a
    tiny internal fraction is advertising someone else\'s pages).
    Returns (host, n_pages, avg_depth, n_outlinks, frac_internal);
    hosts with no extracted links carry 0 outlinks and NULL fraction.

    Scale shape: two partial-aggregable groupBys — pages by host (count
    + mean depth over a pure-map parsed column) and extracted links by
    source host (count + internal sum) — joined on the host dim. The
    corpus-sized link explode is extract_links\' existing pure map."""
    from kg.ops.webnorm import normalize_urls

    normed = normalize_urls(pages.select("url", "html"))
    path = F.regexp_extract(F.col("url_norm"), r"^[a-z][a-z0-9+.-]*://[^/]+(/.*)?$", 1)
    depth = F.size(
        F.filter(F.split(path, "/", -1), lambda s: s != F.lit(""))
    )
    per_host = normed.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.round(F.avg(depth), 6).alias("avg_depth"),
    )
    links = extract_links(pages)
    src_host = normalize_urls(
        links.select(F.col("src_url").alias("url"), "dst_url")
    ).select(F.col("host").alias("src_host"), "dst_url")
    dst_host = F.lower(
        F.regexp_extract(F.col("dst_url"), r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    )
    link_agg = src_host.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_outlinks"),
        F.sum(
            F.when(dst_host == F.col("src_host"), 1).otherwise(0)
        ).alias("_internal"),
    )
    return per_host.join(
        link_agg, per_host["host"] == link_agg["src_host"], "left"
    ).select(
        "host",
        "n_pages",
        "avg_depth",
        F.coalesce("n_outlinks", F.lit(0)).cast("long").alias("n_outlinks"),
        F.round(F.col("_internal") / F.col("n_outlinks"), 6).alias(
            "frac_internal"
        ),
    )


#: language path segments recognized by parallel-URL mining (lowercase)
PARALLEL_LANGS = ("en", "es", "fr", "it", "pt", "nl", "de")


def parallel_url_pairs(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """URL-pattern parallel-document mining (the ParaCrawl/WikiMatrix
    first stage, public literature): multilingual sites publish
    translations at language-segmented paths
    (``/en/about`` vs ``/fr/about``); stripping the language segment
    yields an alignment key, and docs sharing a key across DIFFERENT
    languages are translation-pair candidates — the raw material of
    parallel corpora for MT training.

    Recognizes ``/xx/`` path segments for xx in PARALLEL_LANGS (first
    path segment only — the dominant convention). Returns one row per
    cross-language candidate pair, lang_a < lang_b:

    (align_key, lang_a, url_a, lang_b, url_b, len_a, len_b, len_ok)

    len_ok is the Bitextor-style sanity gate as an integer
    cross-multiplication — translations rarely differ 2x in length:
    2*min(len) >= max(len). Pure BIGINT/BOOLEAN/STRING contract.

    Scale shape: lang/key extraction is a pure map; ONE groupBy-free
    equi self-join on align_key (per-key fan-out bounded by the
    language count, so candidate volume <= |langs|^2/2 per key — no
    skew exposure beyond sites publishing every language)."""
    url = F.col(url_col)
    m = F.regexp_extract(url, r"^([a-z]+://[^/]+)/([a-z][a-z])(/.*)?$", 2)
    lang = F.when(
        m.isin(*PARALLEL_LANGS), m
    ).otherwise(F.lit(None).cast("string"))
    rest = F.regexp_extract(url, r"^([a-z]+://[^/]+)/([a-z][a-z])(/.*)?$", 3)
    host = F.regexp_extract(url, r"^([a-z]+://[^/]+)", 1)
    base = pages.select(
        url.alias("url"),
        lang.alias("_lang"),
        F.concat(
            host,
            F.when(rest == "", F.lit("/")).otherwise(rest),
        ).alias("align_key"),
        F.length(F.col(text_col)).cast("long").alias("_len"),
    ).where(F.col("_lang").isNotNull())
    a = base.select(
        "align_key", F.col("_lang").alias("lang_a"),
        F.col("url").alias("url_a"), F.col("_len").alias("len_a"),
    )
    b = base.select(
        "align_key", F.col("_lang").alias("lang_b"),
        F.col("url").alias("url_b"), F.col("_len").alias("len_b"),
    )
    return (
        a.join(b, "align_key")
        .where(F.col("lang_a") < F.col("lang_b"))
        .select(
            "align_key", "lang_a", "url_a", "lang_b", "url_b",
            "len_a", "len_b",
            (
                F.least("len_a", "len_b") * 2
                >= F.greatest("len_a", "len_b")
            ).alias("len_ok"),
        )
    )


def align_parallel_sentences(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ratio: int = 2,
) -> DataFrame:
    """Sentence-level alignment for mined translation-pair candidates —
    the stage after :func:`parallel_url_pairs` in a parallel-corpus
    pipeline (ParaCrawl/WikiMatrix literature): split each side into
    sentences, align by POSITION (the index-alignment baseline;
    Gale-Church DP and embedding margin scoring are the upgrades this
    feeds), and gate each aligned pair with the Bitextor-style length
    sanity check as an integer cross-multiplication —
    ``max_ratio * min(len) >= max(len)``.

    ``pairs``: (id_a, id_b) candidate doc pairs (any blocking — URL
    patterns, hash keys). Returns one row per aligned sentence index
    present on BOTH sides:

    (id_a, id_b, idx, sent_a, sent_b, len_a, len_b, len_ok)

    — BIGINT/BOOLEAN/STRING only (no float in the hash surface).
    Sentences are [.!?]-delimited, trimmed, empties dropped — the
    lookbehind-free split both Spark (Java regex) and an ANSI oracle
    (RE2) evaluate identically.

    Scale shape: sentence explode is linear in corpus text and happens
    ONCE (the sentence table self-serves both sides); each side of the
    pair table joins it on the id key, then the alignment is ONE
    equi-join on (pair, idx) — per-key fan-out is exactly 1 on each
    side (a doc has one sentence per index), so no skew exposure at
    all; the pair dim broadcasts while pairs are dim-sized and AQE
    shuffles it when a mining stage emits corpus-scale candidates."""
    sents = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), r"[.!?]+"),
                    lambda s: F.trim(s),
                ),
                lambda s: s != F.lit(""),
            )
        ).alias("idx", "sent"),
    ).select(
        "_id", F.col("idx").cast("long").alias("idx"), "sent",
        F.length("sent").cast("long").alias("slen"),
    )
    pr = pairs.select(
        F.col("id_a").alias("_pa"), F.col("id_b").alias("_pb")
    )
    left = pr.join(sents, F.col("_pa") == F.col("_id")).select(
        "_pa", "_pb", "idx",
        F.col("sent").alias("sent_a"), F.col("slen").alias("len_a"),
    )
    right = sents.select(
        F.col("_id").alias("_rb"), F.col("idx").alias("_ri"),
        F.col("sent").alias("sent_b"), F.col("slen").alias("len_b"),
    )
    return (
        left.join(
            right,
            (F.col("_pb") == F.col("_rb")) & (F.col("idx") == F.col("_ri")),
        )
        .select(
            F.col("_pa").alias("id_a"),
            F.col("_pb").alias("id_b"),
            "idx",
            "sent_a",
            "sent_b",
            "len_a",
            "len_b",
            (
                F.least("len_a", "len_b") * int(max_ratio)
                >= F.greatest("len_a", "len_b")
            ).alias("len_ok"),
        )
    )
