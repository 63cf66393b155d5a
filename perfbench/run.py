#!/usr/bin/env python3
"""End-to-end benchmark of ``run_pipeline.main`` on generated crawl corpora.

    python3 perfbench/run.py --workload crawl_long --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's pages from
``--seed`` with ``kg.synth.gen_pages``, then starts fresh processes
(``perfbench/child.py``), one pipeline run each, until ``--seconds`` of
pipeline wall time are measured. Each run's outputs are checked against
the ``kg.synth`` oracles or recomputed from its inputs (``checks.py``),
and its table digests against every earlier run on the same workload and
seed in this checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer ones (from
``spans.Tracer``) with ``--trace 1``. Each metric is the median over the
runs.

Scratch files live under ``.perfbench-work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
# a benchmark run ends within 180 s: pipeline runs are killed at DEADLINE_S,
# and none starts after START_DEADLINE_S
DEADLINE_S = 160
START_DEADLINE_S = 60
# checkpoint buckets per stage, sized to the small corpora (default: 32)
BUCKETS = 4
# shuffle partitions per CPU: kg.session sizes them at 2-3x the cores
SHUFFLE_PER_CPU = 2


@dataclass(frozen=True)
class Workload:
    n_pages: int
    sentences: tuple[int, int]
    stages: str


# Every run starts a fresh JVM, and the default stage list costs ~80 s of
# fixed per-stage and per-job cost on 4 CPUs whatever the corpus size, too
# much for the number of runs a comparison needs. The default stages are
# therefore split over two workloads, each a fresh output directory, so
# that every stage runs in one of them. On both, fixed costs dominate: from
# 120 to 1000 long pages the crawl_long wall grew by ~6 ms per page.
WORKLOADS = {
    # long pages through the per-document stages: Arrow extraction, link
    # extraction and mention detection, each a bucketed checkpoint stage;
    # its output is the mentions table
    "crawl_long": Workload(120, (12, 20), "extract,links,mentions"),
    # short pages through triples, linking, canonicalization, the graph
    # write and the facts and analytics tail over the graph table; its
    # output is the graph table
    "graph_short": Workload(400, (2, 5), "extract,triples,link,canon,graph,facts,analytics"),
}

END_TO_END_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "setup_s": "s",
    "precision": "ratio",
    "recall": "ratio",
}


def layer_units() -> dict[str, str]:
    from spans import metric_units

    return {**metric_units(), "traced.wall_s": "s", "tree.peak_rss_mb": "MB"}


def source_key(root: Path) -> str:
    """Hash of the program's sources: cached oracles are only reused for
    the same code."""
    h = hashlib.sha1()
    for p in sorted([root / "run_pipeline.py", *(root / "kg").rglob("*.py")]):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def stop_group(proc: subprocess.Popen) -> None:
    """Kills what is left of the child's process group (JVM, Python
    workers) and waits until every member is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_child(root: Path, work: Path, i: int, pages_path: Path, stages: str, trace: bool, deadline: float):
    out, result = work / f"out{i}", work / f"result{i}.json"
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=str(root),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_SHUFFLE=str(SHUFFLE_PER_CPU * os.cpu_count()),
        SPARK_LOCAL_DIRS=str(tmp),
        TMPDIR=str(tmp),
        # keeps the JVM's temp files and perf data out of /tmp as well
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, str(HERE / "child.py"), str(result), *(["--trace"] if trace else []),
        "--", "--pages", str(pages_path), "--out", str(out), "--stages", stages,
        "--buckets", str(BUCKETS),
    ]
    with open(work / f"child{i}.log", "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not result.exists():
        tail = (work / f"child{i}.log").read_text(errors="replace")[-2000:]
        print(f"run {i} failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
        return out, None
    return out, json.loads(result.read_text())


def summarize(runs: list[dict | None], trace: bool) -> dict:
    """The result line: failed runs are those that raised or failed a
    check; metrics are medians over the runs that passed."""
    ok = [r for r in runs if r is not None and not r["failures"]]
    units = layer_units() if trace else END_TO_END_UNITS
    metrics = {}
    for name, unit in units.items():
        values = [r["metrics"][name] for r in ok if name in r["metrics"]]
        if values:
            metrics[name] = {"value": statistics.median(values), "unit": unit}
    failed = len(runs) - len(ok)
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t0 = time.monotonic()

    root = Path.cwd()
    if not (root / "run_pipeline.py").is_file() or not (root / "kg").is_dir():
        print(f"{root} holds no run_pipeline.py and kg/: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    import pandas as pd

    from checks import check_outputs, digests
    from kg import synth

    w = WORKLOADS[args.workload]
    stages = w.stages.split(",")
    inputs = (args.workload, w, BUCKETS, args.seed)
    key = hashlib.sha1(repr((source_key(root), *inputs)).encode()).hexdigest()[:16]
    cache = root / ".perfbench-work" / "cache"
    work = root / ".perfbench-work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cache.mkdir(parents=True, exist_ok=True)

    pages = synth.gen_pages(w.n_pages, args.seed, w.sentences)
    pages_path = work / "pages.parquet"
    pages.to_parquet(pages_path)
    oracles = {}
    if "triples" in stages:
        oracles["triples"] = oracles["graph"] = synth.expected_triples(pages)
    if "mentions" in stages:
        # the mention oracle is slow on long pages: cached per inputs
        cached = cache / f"mentions-{key}.parquet"
        if not cached.exists():
            synth.expected_mentions(pages).to_parquet(cached)
        oracles["mentions"] = pd.read_parquet(cached)

    # digests are keyed by the inputs only: a later run of this or another
    # commit in the same checkout must write the same tables
    digest_file = cache / f"digests-{hashlib.sha1(repr(inputs).encode()).hexdigest()[:16]}.json"
    known = json.loads(digest_file.read_text()) if digest_file.exists() else None
    runs, measured = [], 0.0
    while not runs or (measured < args.seconds and time.monotonic() - t0 < START_DEADLINE_S):
        out, res = run_child(
            root, work, len(runs), pages_path, w.stages, bool(args.trace), t0 + DEADLINE_S
        )
        if res is None:
            runs.append(None)
            continue
        measured += res["wall_s"]
        quality, failures = check_outputs(out, pages, oracles, stages)
        d = digests(out)
        if known is None:
            if not failures:
                known = d
                digest_file.write_text(json.dumps(d))
        elif d != known:
            failures.append(
                "table digests differ from an earlier run: "
                + ", ".join(sorted(t for t in d.keys() | known.keys() if d.get(t) != known.get(t)))
            )
        for f in failures:
            print(f"run {len(runs)}: {f}", file=sys.stderr)
        metrics = {
            **{k: res[k] for k in ("wall_s", "cpu_s", "setup_s")},
            "docs_per_s": w.n_pages / res["wall_s"],
            "rows_per_s": quality.pop("n_rows") / res["wall_s"],
            **quality,
        }
        if args.trace:
            metrics = {
                **res["layers"], "traced.wall_s": res["wall_s"], "tree.peak_rss_mb": res["peak_rss_mb"],
            }
        runs.append({"metrics": metrics, "failures": failures})
        shutil.rmtree(out)

    result = summarize(runs, bool(args.trace))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "runs": len(runs),
        "failed_frac": result["failed"] / result["attempted"],
    }))
    print(json.dumps(result))
    return 0 if result["attempted"] > result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
