"""Correctness checks on one pipeline output directory.

Every table is read back with pyarrow (not Spark), so a check costs no
Spark job and cannot share a bug with the pipeline's own readers. Each
table a stage writes has one check: a comparison with a ``kg.synth``
oracle where there is one, else a recomputation in pandas from the pages
and the tables the check already trusts (``links`` from the page HTML,
its rollups from ``links``, the facts and analytics tables from
``graph``).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from html.parser import HTMLParser
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds

TRIPLE_COLS = ("url", "subj", "pred", "obj")
MENTION_COLS = ("url", "matched_word", "entity_name", "detector")
# bookkeeping tables hold run ids, timestamps and walls: never equal twice
NOT_DIGESTED = ("_lineage", "_metrics", "_errors")
FLOAT_DIGITS = 6

# tables each stage of run_pipeline writes under --out
STAGE_TABLES = {
    "extract": ("docs",),
    "links": ("links", "link_host_graph", "crawl_frontier", "url_templates"),
    "mentions": ("mentions",),
    "triples": ("triples",),
    "link": ("linked",),
    "canon": ("entities_canonical",),
    "graph": ("graph",),
    "facts": ("facts", "facts_inferred", "entity_types"),
    "analytics": ("analytics_pagerank", "analytics_degrees", "analytics_triangles"),
}
# tables compared with an oracle, with the columns compared; the last one
# a run wrote is the workload's output for precision, recall and rows_per_s
ORACLE_TABLES = (("triples", TRIPLE_COLS), ("mentions", MENTION_COLS), ("graph", TRIPLE_COLS))
# the pipeline's settings for the tables recomputed here
URL_TEMPLATE_MIN_COUNT = 2
TRANSITIVE_PRED, TRANSITIVE_DEPTH = "located_in", 3
PAGERANK_ITERATIONS, PAGERANK_DAMPING = 8, 0.85


def read_table(out: Path, name: str) -> pd.DataFrame:
    # integer columns with nulls (entity ids) stay exact Python ints
    table = ds.dataset(out / name, format="parquet", partitioning="hive").to_table()
    return table.to_pandas(integer_object_nulls=True)


def _multiset(df: pd.DataFrame, cols) -> Counter:
    return Counter(zip(*(df[c] for c in cols)))


def precision_recall(got: Counter, want: Counter) -> tuple[float, float]:
    hit = sum((got & want).values())
    n_got, n_want = sum(got.values()), sum(want.values())
    return (hit / n_got if n_got else 1.0), (hit / n_want if n_want else 1.0)


def _rows(df: pd.DataFrame, cols) -> Counter:
    """Rows as a multiset, nulls as None and floats rounded."""
    return Counter(
        tuple(None if _isnull(v) else _canon(v) for v in row)
        for row in df[list(cols)].itertuples(index=False)
    )


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA


class _Anchors(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs) -> None:
        href = dict(attrs).get("href")
        if tag == "a" and href is not None:
            self.hrefs.append(href)


def _anchor_hrefs(html) -> list[str]:
    parser = _Anchors()
    parser.feed(html.decode() if isinstance(html, bytes) else html)
    parser.close()
    return parser.hrefs


def _host(url: str) -> str:
    m = re.search(r"://([^/?#]+)", url)
    return m.group(1) if m else ""


def _template(url: str) -> str:
    m = re.match(r"[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)([^?#]*)", url)
    host, path = (m.group(1).lower(), m.group(2)) if m else ("", "")
    path = re.sub("[0-9]+", "{n}", re.sub("[0-9a-fA-F]{8,}", "{h}", path))
    return host + (path or "/")


def _nodes(graph: pd.DataFrame) -> pd.DataFrame:
    """The analytics edge list with the graph's own node keys: the entity
    id where linked, else the surface (the pipeline hashes it)."""
    def key(ids, surfaces):
        return [("e", int(i)) if not _isnull(i) else ("s", s) for i, s in zip(ids, surfaces)]

    return pd.DataFrame({
        "src": key(graph["subj_entity"], graph["subj"]),
        "dst": key(graph["obj_entity"], graph["obj"]),
    })


def _pagerank(edges: pd.DataFrame) -> list[float]:
    nodes = sorted(set(edges["src"]) | set(edges["dst"]))
    n = len(nodes)
    out_deg = Counter(edges["src"])
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(PAGERANK_ITERATIONS):
        dangling = sum(r for v, r in rank.items() if v not in out_deg)
        nxt = {v: (1 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * dangling / n for v in nodes}
        for s, d in zip(edges["src"], edges["dst"]):
            nxt[d] += PAGERANK_DAMPING * rank[s] / out_deg[s]
        rank = nxt
    return sorted(rank.values())


def _triangles(edges: pd.DataFrame) -> Counter:
    nbrs = defaultdict(set)
    for s, d in zip(edges["src"], edges["dst"]):
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    result = Counter()
    for v in set(edges["src"]) | set(edges["dst"]):
        ns = nbrs[v]
        t = sum(len(ns & nbrs[u]) for u in ns) // 2
        d = len(ns)
        result[(d, t, round(2 * t / (d * (d - 1)), 6) if d >= 2 else 0.0)] += 1
    return result


def _closure(edges: set[tuple[int, int]]) -> Counter:
    """(subj, obj, min hops) reachable in at most TRANSITIVE_DEPTH hops;
    derived self-pairs dropped, asserted self-loops kept."""
    succ = defaultdict(set)
    for s, o in edges:
        succ[s].add(o)
    result = Counter()
    for start in list(succ):
        seen, frontier = {}, {start}
        for depth in range(1, TRANSITIVE_DEPTH + 1):
            frontier = {o for v in frontier for o in succ[v]} - seen.keys()
            for o in frontier:
                seen[o] = depth
        for o, depth in seen.items():
            if o != start or (start, start) in edges:
                result[(start, o, 1 if o == start else depth)] += 1
    return result


def _entity_types(graph: pd.DataFrame, rules) -> Counter:
    votes = defaultdict(Counter)
    for pred, role, etype in rules:
        rows = graph[graph["pred"] == pred]
        for e in rows["subj_entity" if role == "subj" else "obj_entity"].dropna():
            votes[int(e)][etype] += 1
    result = Counter()
    for e, c in votes.items():
        etype, n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        result[(e, etype, n, sum(c.values()))] += 1
    return result


def table_checks(t: dict[str, pd.DataFrame], pages: pd.DataFrame, oracles: dict) -> dict:
    """One check per table: a function of the tables read back that
    returns what the table should hold and what it holds, comparable
    with ``==`` (row multisets, or counts of broken invariants)."""
    def oracle(table, cols):
        return lambda: (_multiset(oracles[table], cols), _multiset(t[table], cols))

    def links():
        want = Counter((u, h) for u, html in zip(pages["url"], pages["html"]) for h in _anchor_hrefs(html))
        return want, _multiset(t["links"], ("src_url", "href"))

    def link_host_graph():
        links = t["links"].assign(src_host=t["links"]["src_url"].map(_host), dst_host=t["links"]["dst_url"].map(_host))
        want = links.groupby(["src_host", "dst_host"]).agg(
            n_links=("src_url", "size"), n_pages=("src_url", "nunique"), n_targets=("dst_url", "nunique")
        ).reset_index()
        cols = ("src_host", "dst_host", "n_links", "n_pages", "n_targets")
        return _rows(want, cols), _rows(t["link_host_graph"], cols)

    def crawl_frontier():
        links = t["links"][~t["links"]["dst_url"].isin(set(pages["url"]))]
        want = links.groupby("dst_url").agg(
            n_referrers=("src_url", "nunique"), n_links=("src_url", "size")
        ).reset_index()
        cols = ("dst_url", "n_referrers", "n_links")
        return _rows(want, cols), _rows(t["crawl_frontier"], cols)

    def url_templates():
        urls = pd.DataFrame({"url": sorted(set(pages["url"]) | set(t["links"]["dst_url"]))})
        want = urls.assign(template=urls["url"].map(_template)).groupby("template").agg(
            n_urls=("url", "size"), sample_url=("url", "min")
        ).reset_index()
        want = want[want["n_urls"] >= URL_TEMPLATE_MIN_COUNT]
        cols = ("template", "n_urls", "sample_url")
        return _rows(want, cols), _rows(t["url_templates"], cols)

    def entities_canonical():
        # aliases partition the entities; the graph's ids are entities
        canon = t["entities_canonical"]
        ids = set(canon["entity_id"])
        aliases = [a for xs in canon["aliases"] for a in xs]
        g = t.get("graph", pd.DataFrame({"subj_entity": [], "obj_entity": []}))
        used = {int(e) for e in pd.concat([g["subj_entity"], g["obj_entity"]]).dropna()}
        got = {
            "repeated ids": len(canon) - len(ids),
            "aliases in two entities": len(aliases) - len(set(aliases)),
            "unknown graph ids": len(used - ids),
        }
        return dict.fromkeys(got, 0), got

    def linked_rows():
        g = t["graph"]
        return g[g["subj_entity"].notna() & g["obj_entity"].notna()]

    def facts():
        want = linked_rows().groupby(["subj_entity", "pred", "obj_entity"]).agg(
            n_evidence=("url", "size"), n_docs=("url", "nunique")
        ).reset_index().rename(columns={"subj_entity": "subj_id", "obj_entity": "obj_id"})
        cols = ("subj_id", "pred", "obj_id", "n_evidence", "n_docs")
        return _rows(want, cols), _rows(t["facts"], cols)

    def facts_inferred():
        g = linked_rows()
        g = g[g["pred"] == TRANSITIVE_PRED]
        want = _closure({(int(s), int(o)) for s, o in zip(g["subj_entity"], g["obj_entity"])})
        got = t["facts_inferred"]
        return want, _rows(got, ("subj_id", "obj_id", "depth")) + Counter(
            ("other predicate", p) for p in got["pred"] if p != TRANSITIVE_PRED
        )

    def entity_types():
        from kg.reason import DEFAULT_TYPE_RULES

        cols = ("entity_id", "entity_type", "n_votes", "n_total")
        return _entity_types(t["graph"], DEFAULT_TYPE_RULES), _rows(t["entity_types"], cols)

    def analytics_degrees():
        e = _nodes(t["graph"])
        out_d, in_d = Counter(e["src"]), Counter(e["dst"])
        want = Counter((out_d[v], in_d[v], out_d[v] + in_d[v]) for v in out_d.keys() | in_d.keys())
        return want, _rows(t["analytics_degrees"], ("out_degree", "in_degree", "degree"))

    def analytics_pagerank():
        want = _pagerank(_nodes(t["graph"]))
        got = sorted(t["analytics_pagerank"]["rank"])
        off = sum(abs(a - b) > 1e-6 for a, b in zip(want, got))
        return {"nodes": len(want), "ranks off by >1e-6": 0}, {"nodes": len(got), "ranks off by >1e-6": off}

    def analytics_triangles():
        return _triangles(_nodes(t["graph"])), _rows(t["analytics_triangles"], ("degree", "triangles", "lcc"))

    return {
        # docs.text is byte-identical to pages.text
        "docs": lambda: (_multiset(pages, ("url", "text")), _multiset(t["docs"], ("url", "text"))),
        "triples": oracle("triples", TRIPLE_COLS),
        "mentions": oracle("mentions", MENTION_COLS),
        "graph": oracle("graph", TRIPLE_COLS),
        "linked": lambda: (_multiset(oracles["triples"], TRIPLE_COLS), _multiset(t["linked"], TRIPLE_COLS)),
        "links": links,
        "link_host_graph": link_host_graph,
        "crawl_frontier": crawl_frontier,
        "url_templates": url_templates,
        "entities_canonical": entities_canonical,
        "facts": facts,
        "facts_inferred": facts_inferred,
        "entity_types": entity_types,
        "analytics_degrees": analytics_degrees,
        "analytics_pagerank": analytics_pagerank,
        "analytics_triangles": analytics_triangles,
    }


def check_outputs(
    out: Path, pages: pd.DataFrame, oracles: dict[str, pd.DataFrame], stages: list[str]
) -> tuple[dict[str, float], list[str]]:
    """Checks every table ``stages`` write against ``pages``, the
    ``kg.synth`` oracles (``triples``, ``mentions`` and ``graph``, by table
    name; ``linked`` is compared with the triples oracle) and the
    recomputations of ``table_checks``. Returns the row
    count, precision and recall of the workload's output table, and one
    message per failed check; a missing table is a failure."""
    failures = []
    tables = [table for s in stages for table in STAGE_TABLES[s]]
    t = {}
    for table in tables:
        if (out / table).is_dir():
            t[table] = read_table(out, table)
        else:
            failures.append(f"{table} missing")
    checks = table_checks(t, pages, oracles)
    for table in tables:
        if table in checks and table in t:
            try:
                want, got = checks[table]()
            except Exception as e:  # a column missing or of another type fails the run
                failures.append(f"{table} not checked: {e!r}")
                continue
            if got != want:
                failures.append(f"{table} differs from its oracle")
    quality = {"n_rows": 0, "precision": 0.0, "recall": 0.0}
    for table, cols in ORACLE_TABLES:
        if table in t and table in oracles:
            got, want = _multiset(t[table], cols), _multiset(oracles[table], cols)
            p, r = precision_recall(got, want)
            quality = {"n_rows": sum(got.values()), "precision": p, "recall": r}
    return quality, failures


def _canon(v):
    """A value in a form whose repr is the same whatever the row order,
    array order or float noise of the run that wrote it."""
    if isinstance(v, float):
        return round(v, FLOAT_DIGITS)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(sorted((_canon(x) for x in v), key=repr))
    return v


def digests(out: Path) -> dict[str, str]:
    """One sha1 per output table over its rows, ignoring row order."""
    result = {}
    for path in sorted(p for p in out.iterdir() if p.is_dir() and p.name not in NOT_DIGESTED):
        rows = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()
        lines = sorted(repr(_canon(r)) for r in rows)
        result[path.name] = hashlib.sha1("\n".join(lines).encode()).hexdigest()
    return result
