"""Tests of the benchmark itself: ``python3 -m pytest perfbench`` from the
repository root. The smoke tests start Spark and take a few minutes."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pandas as pd
import pytest

import checks
import run

ROOT = Path(__file__).resolve().parent.parent


def _write(out: Path, table: str, df: pd.DataFrame) -> None:
    (out / table).mkdir(parents=True)
    df.to_parquet(out / table / "part-0.parquet")


@pytest.fixture
def tiny():
    from kg import synth

    pages = synth.gen_pages(8, 3, (2, 5))
    return pages, synth.expected_triples(pages)


def test_altered_graph_row_fails_and_counts_as_failed(tmp_path, tiny):
    pages, triples = tiny
    _write(tmp_path, "docs", pages[["url", "text"]])
    graph = triples.copy()
    graph.loc[0, "obj"] = graph.loc[0, "obj"] + " (altered)"
    _write(tmp_path, "graph", graph)

    quality, failures = checks.check_outputs(tmp_path, pages, {"graph": triples}, ["extract", "graph"])
    assert failures == ["graph differs from its oracle"]
    n = len(triples)
    assert quality["precision"] == pytest.approx((n - 1) / n)
    assert quality["recall"] == pytest.approx((n - 1) / n)

    good = {"metrics": {"wall_s": 1.0}, "failures": []}
    result = run.summarize([good, {"metrics": {"wall_s": 2.0}, "failures": failures}], trace=False)
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 2, 1)
    assert result["metrics"]["wall_s"] == {"value": 1.0, "unit": "s"}


def test_unaltered_outputs_pass(tmp_path, tiny):
    pages, triples = tiny
    _write(tmp_path, "docs", pages[["url", "text"]])
    _write(tmp_path, "graph", triples.sample(frac=1.0, random_state=0))
    quality, failures = checks.check_outputs(tmp_path, pages, {"graph": triples}, ["extract", "graph"])
    assert failures == []
    assert quality == {"n_rows": len(triples), "precision": 1.0, "recall": 1.0}


def test_missing_output_table_fails(tmp_path, tiny):
    pages, triples = tiny
    _write(tmp_path, "docs", pages[["url", "text"]])
    quality, failures = checks.check_outputs(tmp_path, pages, {"graph": triples}, ["extract", "graph"])
    assert failures == ["graph missing"]
    assert quality["n_rows"] == 0
    result = run.summarize([{"metrics": {}, "failures": failures}], trace=False)
    assert (result["correct"], result["failed"]) == (False, 1)


def test_altered_links_table_fails(tiny):
    pages, _ = tiny
    anchors = [
        (url, href)
        for url, html in zip(pages["url"], pages["html"])
        for href in re.findall(r'<a\s[^>]*href="([^"]*)"', html.decode() if isinstance(html, bytes) else html)
    ]
    links = pd.DataFrame(anchors, columns=["src_url", "href"])
    assert len(links) > 1

    def check(table):
        return checks.table_checks({"links": table}, pages, {})["links"]()

    want, got = check(links)
    assert got == want
    want, got = check(links.iloc[1:])
    assert got != want
    altered = links.copy()
    altered.loc[0, "href"] = "/elsewhere"
    want, got = check(altered)
    assert got != want


def test_digest_ignores_row_and_array_order(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _write(a, "t", pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0], "xs": [["p", "q"], []]}))
    _write(b, "t", pd.DataFrame({"k": [2, 1], "v": [1.0, 0.3], "xs": [[], ["q", "p"]]}))
    assert checks.digests(a) == checks.digests(b)
    _write(b, "u", pd.DataFrame({"k": [1]}))
    assert set(checks.digests(b)) == {"t", "u"}


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_prints_with_its_unit(trace, monkeypatch, capsys):
    # a tiny corpus through every default stage
    tiny = run.Workload(24, (2, 5), "extract,links,mentions,triples,link,canon,graph,facts,analytics")
    monkeypatch.setitem(run.WORKLOADS, "graph_short", tiny)
    monkeypatch.chdir(ROOT)
    assert run.main(["--workload", "graph_short", "--seed", "5", "--seconds", "1", "--trace", str(trace)]) == 0

    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert (result["correct"], result["failed"]) == (True, 0)
    units = run.layer_units() if trace else run.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        from spans import LAYERS

        selfs = sum(m[f"{layer}.self_s"] for layer in LAYERS if layer != "unattributed")
        assert selfs + m["unattributed.s"] == pytest.approx(m["traced.wall_s"])
        assert all(m[f"{layer}.jobs"] > 0 for layer in LAYERS if layer != "unattributed")
    else:
        assert m["precision"] == m["recall"] == 1.0
        assert m["wall_s"] > 0 and m["setup_s"] > 0
