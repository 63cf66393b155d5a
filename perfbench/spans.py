"""Per-layer spans around the pipeline's public calls, plus Spark's own
counters for the jobs each span started.

Nothing in the program is instrumented: ``Tracer.install`` wraps the public
functions of each ``kg`` layer (module attributes, looked up by
``run_pipeline.main`` at call time), the checkpoint bookkeeping methods and
``DataFrameWriter.parquet`` (the call that executes a layer's lazy plan,
attributed by the table it writes). Every span sets the Spark job
description to its own tag, so the jobs and SQL executions it starts can be
read back from the application status store afterwards.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import time
import urllib.request
from pathlib import Path

LAYERS = (
    "extract", "links", "mentions", "triples", "link", "canon", "graph",
    "facts", "analytics", "checkpoint", "unattributed",
)
LAYER_FIELDS = (
    "self_s", "jobs", "tasks", "rows_out", "shuffle_write_mb", "spill_mb",
    "py_boot_s", "py_init_s", "py_run_s",
)
CHECKPOINT_PARTS = ("skip", "commit", "verify")

# public calls per layer, as (module, function)
LAYER_CALLS = {
    "extract": [("kg.stages.extract", "extract_docs")],
    "links": [
        ("kg.ops.weblinks", "extract_links"),
        ("kg.ops.weblinks", "aggregate_host_graph"),
        ("kg.ops.webnorm", "normalize_urls"),
        ("kg.ops.webnorm", "url_templates"),
    ],
    "mentions": [
        ("kg.stages.mentions", "plan_gazetteer"),
        ("kg.stages.mentions", "detect_mentions"),
    ],
    "triples": [("kg.stages.triples", "extract_svo_triples")],
    "link": [("kg.stages.link", "link_triples")],
    "canon": [("kg.stages.canon", "canonicalize_aliases")],
    "facts": [
        ("kg.graphstats", "fact_evidence"),
        ("kg.reason", "infer_transitive"),
        ("kg.reason", "induce_entity_types"),
    ],
    "analytics": [
        ("kg.graphstats", "pagerank"),
        ("kg.graphstats", "degree_stats"),
        ("kg.graphstats", "triangle_stats"),
    ],
}

# output table (first path component under --out) -> (layer, checkpoint part)
TABLE_LAYER = {
    "docs": ("extract", None),
    "links": ("links", None),
    "link_host_graph": ("links", None),
    "crawl_frontier": ("links", None),
    "url_templates": ("links", None),
    "mentions": ("mentions", None),
    "triples": ("triples", None),
    "linked": ("link", None),
    "entities_canonical": ("canon", None),
    "graph": ("graph", None),
    "facts": ("facts", None),
    "facts_inferred": ("facts", None),
    "entity_types": ("facts", None),
    "analytics_pagerank": ("analytics", None),
    "analytics_degrees": ("analytics", None),
    "analytics_triangles": ("analytics", None),
    "_lineage": ("checkpoint", "commit"),
    "_metrics": ("checkpoint", "commit"),
}

_TAG = "perfbench-span-"
# description of the jobs the pipeline starts outside every span
_ROOT = "perfbench-pipeline"
_PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric with its unit. Times are seconds of wall
    time, except the ``py_*_s`` fields: task-seconds summed over tasks."""
    unit = {"jobs": "count", "tasks": "count", "rows_out": "rows"}
    out = {}
    for layer in LAYERS:
        for f in LAYER_FIELDS:
            name = "unattributed.s" if (layer, f) == ("unattributed", "self_s") else f"{layer}.{f}"
            out[name] = unit.get(f, "MB" if f.endswith("_mb") else "s")
    out.update({f"checkpoint.{p}_s": "s" for p in CHECKPOINT_PARTS})
    return out


class Span:
    __slots__ = ("sid", "layer", "part", "name", "parent", "start", "end", "child_s")

    def __init__(self, sid, layer, part, name, parent):
        self.sid, self.layer, self.part, self.name = sid, layer, part, name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.child_s = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


class Tracer:
    """Spans kept in memory for one pipeline run; ``report`` harvests the
    status store once the run is over."""

    def __init__(self, spark, out_dir: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.out = Path(out_dir).resolve()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---- spans ----

    def _open(self, layer, part, name) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), layer, part, name, parent)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobDescription(f"{_TAG}{span.sid}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
        self.sc.setJobDescription(
            f"{_TAG}{self.stack[-1].sid}" if self.stack else _ROOT
        )

    def _wrap(self, owner, attr, classify) -> None:
        """Replace ``owner.attr`` by a wrapper that opens the span
        ``classify(args, kwargs)`` returns (``None``: no span)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            key = classify(args, kwargs)
            if key is None:
                return orig(*args, **kwargs)
            span = self._open(*key)
            try:
                return orig(*args, **kwargs)
            finally:
                self._close(span)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def _in_run_stage(self) -> bool:
        return bool(self.stack) and self.stack[-1].name == "run_stage"

    def _table_span(self, args, kwargs):
        path = Path(str(kwargs.get("path", args[1] if len(args) > 1 else ""))).resolve()
        try:
            table = path.relative_to(self.out).parts[0]
        except (ValueError, IndexError):
            return None
        layer, part = TABLE_LAYER.get(table, ("unattributed", None))
        return layer, part, f"write:{table}"

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from kg.checkpoint import CheckpointedPipeline

        for layer, calls in LAYER_CALLS.items():
            for mod, fn in calls:
                key = (layer, None, fn)
                self._wrap(importlib.import_module(mod), fn, lambda a, k, key=key: key)
        ckpt = {
            "run_stage": None, "read_stage": None,
            "completed_buckets": "skip", "_probe_peak_mem": "verify",
        }
        for meth, part in ckpt.items():
            key = ("checkpoint", part, meth)
            self._wrap(CheckpointedPipeline, meth, lambda a, k, key=key: key)
        # run_stage's own driver round-trips: the empty check before the
        # write and the post-write bucket/row counts
        self._wrap(
            DataFrame, "isEmpty",
            lambda a, k: ("checkpoint", "skip", "isEmpty") if self._in_run_stage() else None,
        )
        self._wrap(
            DataFrame, "collect",
            lambda a, k: ("checkpoint", "verify", "collect") if self._in_run_stage() else None,
        )
        self._wrap(DataFrameWriter, "parquet", self._table_span)
        self.sc.setJobDescription(_ROOT)

    def uninstall(self) -> None:
        self.sc.setJobDescription(None)
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- harvest ----

    def report(self, wall_s: float) -> dict[str, float]:
        """Per-layer metrics named as in ``metric_units``. The layers' self
        times plus ``unattributed.s`` (the part of ``wall_s`` no span
        covers) sum to ``wall_s``."""
        if self.stack:
            raise RuntimeError("report() with spans still open")
        out = dict.fromkeys(metric_units(), 0.0)
        for s in self.spans:
            if s.layer == "unattributed":  # counted in the remainder below
                continue
            out[f"{s.layer}.self_s"] += s.self_s
            if s.part:
                out[f"checkpoint.{s.part}_s"] += s.self_s
        out["unattributed.s"] = wall_s - sum(
            out[f"{layer}.self_s"] for layer in LAYERS if layer != "unattributed"
        )
        for layer, fields in self._harvest().items():
            for f, v in fields.items():
                out[f"{layer}.{f}"] += v
        return out

    def _layer_of(self, description) -> str | None:
        """The layer of a job or SQL execution by its description; ``None``
        for work started before ``install`` (session set-up)."""
        if description == _ROOT:
            return "unattributed"
        if description and description.startswith(_TAG):
            return self.spans[int(description[len(_TAG):])].layer
        return None

    def _harvest(self) -> dict[str, dict[str, float]]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = _get_json(f"{base}/stages")
        sql = _get_json(f"{base}/sql?details=true&planDescription=false&length=100000")

        acc: dict[str, dict[str, float]] = {}

        def add(layer, field, v):
            if layer is None:
                return
            d = acc.setdefault(layer, {})
            d[field] = d.get(field, 0.0) + v

        stage_layer = {}
        for j in jobs:
            layer = self._layer_of(j.get("description"))
            add(layer, "jobs", 1)
            add(layer, "tasks", j.get("numCompletedTasks", 0))
            for sid in j.get("stageIds", ()):
                stage_layer.setdefault(sid, layer)
        for st in stages:
            layer = stage_layer.get(st["stageId"])
            add(layer, "rows_out", st.get("outputRecords", 0))
            add(layer, "shuffle_write_mb", st.get("shuffleWriteBytes", 0) / 2**20)
            add(layer, "spill_mb", st.get("diskBytesSpilled", 0) / 2**20)
        for ex in sql:
            layer = self._layer_of(ex.get("description"))
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    field = _PY_METRICS.get(m.get("name"))
                    if field:
                        add(layer, field, _metric_seconds(m.get("value", "")))
        return acc


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_seconds(value: str) -> float:
    """Seconds from a SQL timing metric's display string: either
    ``"1.2 s"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``; the
    first duration after the header is the total over tasks."""
    body = value.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
