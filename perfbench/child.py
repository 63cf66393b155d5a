"""One timed pipeline run in a fresh process, the way ``spark-submit
run_pipeline.py`` starts one.

    python3 perfbench/child.py RESULT.json [--trace] -- <run_pipeline args>

Times session start-up (``kg.session.get_spark`` plus a first trivial job)
as ``setup_s``, then ``run_pipeline.main(<args>)`` as ``wall_s``, with the
CPU and peak RSS of this process tree over the call. With ``--trace`` the
layer spans of ``spans.Tracer`` are open during the call and their report
goes into the result. Runs from the repository root, with it on
``PYTHONPATH`` so that Python workers import ``kg`` too.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

import proctree


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process tree until ``stop``."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, proctree.rss_mb(pid))
            if self._done.wait(self.interval):
                return

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def main(argv: list[str]) -> int:
    sep = argv.index("--")
    opts, pipeline_args = argv[:sep], argv[sep + 1:]
    result_path, trace = Path(opts[0]), "--trace" in opts[1:]

    t0 = time.perf_counter()
    from kg.session import get_spark

    spark = get_spark(app_name="kg-pipeline")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    import run_pipeline

    tracer = None
    if trace:
        from spans import Tracer

        out = pipeline_args[pipeline_args.index("--out") + 1]
        tracer = Tracer(spark, out)
        tracer.install()
    pid = os.getpid()
    rss = PeakRss()
    rss.start()
    cpu0 = proctree.cpu_seconds(pid)
    t1 = time.perf_counter()
    try:
        run_pipeline.main(pipeline_args)
    finally:
        wall_s = time.perf_counter() - t1
        cpu_s = proctree.cpu_seconds(pid) - cpu0
        peak_rss_mb = rss.stop()
        if tracer is not None:
            tracer.uninstall()
    result = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": peak_rss_mb,
    }
    if tracer is not None:
        result["layers"] = tracer.report(wall_s)
    result_path.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1:])
    # every output is written: skip the JVM's orderly shutdown, the caller
    # kills what is left of this process group
    sys.stdout.flush()
    os._exit(code)
