"""Per-partition checkpointing, lineage, and resume (north-rule requirement).

Unit of work = ``url_hash_bucket = pmod(xxhash64(url), n_buckets)``. Each
stage writes its output partitioned by bucket; a ``lineage`` table records
(stage, bucket, run_config_hash, counts, wall) rows only AFTER the bucket's
data is durably written. Resume = anti-join: buckets present in lineage with
a matching config hash are skipped; everything else is (re)computed with
dynamic partition overwrite, so a killed run leaves at worst orphan partition
files that the retry overwrites — output is exactly-once per bucket.

Why lineage-as-commit-log works on object storage: the parquet partition
write and the lineage append are two steps, and the lineage append happens
last; a bucket is "done" iff its lineage row exists. Rewriting a partition
is idempotent (dynamic overwrite). This is the same commit discipline
Iceberg snapshots give; we implement it directly since Iceberg jars are not
available in this sandbox (the writer targets plain partitioned parquet; the
layout maps 1:1 onto an Iceberg table with an identity bucket partition).
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.session import local_df

__all__ = ["add_bucket", "CheckpointedPipeline"]

# Per-bucket commit log. Wall time deliberately lives ONLY in the metrics
# table: a stage executes its buckets in one Spark job, so any per-bucket
# wall attribution would be fiction (round 1 divided the stage wall evenly
# across buckets — misleading for skew diagnosis; dropped).
LINEAGE_SCHEMA = (
    "stage string, url_hash_bucket int, run_config_hash string, run_id string, "
    "n_out long, ts timestamp"
)

# Per-RUN stage metrics: n_buckets_done / n_rows_out count THIS run's todo
# buckets only (a resume that skips completed buckets reports only what it
# (re)computed; the cumulative stage totals are sum(n_out) over lineage).
# peak_mem_mb: max Python-worker peak RSS observed right after the stage
# (O23 — the reference @profile-on-populate analogue).
METRICS_SCHEMA = (
    "stage string, run_id string, n_buckets_done int, n_rows_out long, "
    "wall_ms double, peak_mem_mb double, ts timestamp"
)


def add_bucket(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    return df.withColumn(
        "url_hash_bucket",
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"),
    )


def config_hash(config: dict) -> str:
    import hashlib

    return hashlib.sha1(json.dumps(config, sort_keys=True).encode()).hexdigest()[:16]


class CheckpointedPipeline:
    """Runs stages bucket-incrementally under ``base_dir``.

    Layout:
      base_dir/<stage>/url_hash_bucket=<b>/part-*.parquet
      base_dir/_lineage/part-*.parquet
      base_dir/_metrics/part-*.parquet
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        n_buckets: int = 32,
        run_config: dict | None = None,
    ) -> None:
        self.spark = spark
        self.base = Path(base_dir)
        self.n_buckets = n_buckets
        self.run_config = run_config or {}
        self.cfg_hash = config_hash({"n_buckets": n_buckets, **self.run_config})
        self.run_id = uuid.uuid4().hex[:12]
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )

    # ---- lineage ----

    def _lineage_path(self) -> str:
        return str(self.base / "_lineage")

    def _has_lineage(self) -> bool:
        return any(Path(self._lineage_path()).glob("*.parquet"))

    def read_lineage(self) -> DataFrame:
        if not self._has_lineage():
            return local_df(self.spark, [], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage_path())

    def completed_buckets(self, stage: str) -> set[int]:
        if not self._has_lineage():
            # fresh base: nothing is committed, so no job is needed to say so
            return set()
        rows = (
            self.read_lineage()
            .where(
                (F.col("stage") == stage)
                & (F.col("run_config_hash") == self.cfg_hash)
            )
            .select("url_hash_bucket")
            .distinct()
            .collect()
        )
        return {r[0] for r in rows}

    # ---- stage execution ----

    def stage_output_path(self, stage: str) -> str:
        return str(self.base / stage)

    def run_stage(
        self,
        stage: str,
        bucketed_input: DataFrame,
        fn: Callable[[DataFrame], DataFrame],
    ) -> DataFrame:
        """Apply ``fn`` to the not-yet-done buckets of ``bucketed_input``
        (which must carry url_hash_bucket) and return the stage's full output.

        fn's output must retain url_hash_bucket (it is re-derived from url if
        absent and url survives fn).
        """
        done = self.completed_buckets(stage)
        todo = bucketed_input
        if done:
            todo = bucketed_input.where(~F.col("url_hash_bucket").isin(*done))
        t0 = time.monotonic()
        # every todo bucket is durable after the write, empty ones included
        todo_buckets = sorted(
            r[0]
            for r in todo.select("url_hash_bucket").distinct().collect()
        )
        if not todo_buckets:
            return self.read_stage(stage)

        out = fn(todo)
        # O21 integration: a capture-enabled fn returns an `error` column.
        # The output is written ONCE, partitioned by has_error FIRST, so
        # poisoned rows isolate into their own partition directories: clean
        # readers (read_stage) prune them for free, and the tiny error
        # partitions are appended to base/_errors (url, stage, error) —
        # no double write, no second pass over the stage's payload.
        capture = "error" in out.columns
        has_mem_col = "peak_mb" in out.columns
        if "url_hash_bucket" not in out.columns:
            out = add_bucket(out, self.n_buckets)
        part_cols = (["has_error"] if capture else []) + ["url_hash_bucket"]
        if capture:
            # partition values round-trip as strings ("true"/"false") —
            # written and compared as such
            out = out.withColumn(
                "has_error", F.col("error").isNotNull().cast("string")
            )
        out.write.partitionBy(*part_cols).mode("overwrite").parquet(
            self.stage_output_path(stage)
        )
        wall_ms = (time.monotonic() - t0) * 1000.0

        # count ONLY the buckets this run wrote — partition pruning keeps the
        # scan to the todo partitions; counting the whole stage output would
        # re-read every previously-completed bucket on each resume.
        # read_stage excludes captured-error rows, so n_out counts CLEAN rows
        written = self.read_stage(stage).where(
            F.col("url_hash_bucket").isin(*[int(b) for b in todo_buckets])
        )
        counts = written.groupBy("url_hash_bucket").count().collect()
        count_map = {r["url_hash_bucket"]: r["count"] for r in counts}
        raw_todo = None
        if capture or has_mem_col:
            raw_todo = self.spark.read.parquet(
                self.stage_output_path(stage)
            ).where(
                F.col("url_hash_bucket").isin(*[int(b) for b in todo_buckets])
            )
        if capture:
            # append ONLY this run's buckets — the stage dir also holds
            # error partitions from previously-completed runs, which have
            # already been appended (a crash between this append and the
            # lineage commit makes the retry re-append: the errors log is
            # at-least-once; read_errors() dedups). Captured rows are
            # anti-joined against the bucket's CLEAN rows first: dynamic
            # partition overwrite only replaces partitions present in this
            # run's output, so a crashed attempt's stale has_error=true
            # partitions survive a fully-clean retry — without the
            # anti-join those phantom rows (urls that also have clean
            # output) would be appended as errors.
            err_rows = raw_todo.where(F.col("has_error") == "true").select(
                F.col("url").cast("string").alias("url"),
                F.lit(stage).alias("stage"),
                "error",
            )
            if "url" in written.columns:
                clean_urls = written.select(
                    F.col("url").cast("string").alias("url")
                ).distinct()
                err_rows = err_rows.join(clean_urls, "url", "left_anti")
            err_rows.coalesce(1).write.mode("append").parquet(
                str(self.base / "_errors")
            )
        if has_mem_col:
            # O23, in-stage: the stage's own UDF batches sampled their
            # worker's ru_maxrss into `peak_mb` (capture_metrics=True on the
            # stage fn) — valid on any cluster topology, unlike the post-hoc
            # probe. Max-aggregate from the just-written todo partitions
            # (column-pruned scan; values were produced in-stage).
            row = raw_todo.agg(F.max("peak_mb")).first()
            peak_mem_mb = float(row[0]) if row and row[0] is not None else 0.0
        else:
            peak_mem_mb = self._probe_peak_mem(written)
        now = _now_utc()
        lineage_rows = [
            (
                stage,
                int(b),
                self.cfg_hash,
                self.run_id,
                int(count_map.get(b, 0)),
                now,
            )
            for b in todo_buckets
        ]
        local_df(self.spark, lineage_rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._lineage_path())

        metrics_rows = [
            (
                stage,
                self.run_id,
                len(todo_buckets),
                int(sum(count_map.values())),
                wall_ms,
                peak_mem_mb,
                now,
            )
        ]
        local_df(self.spark, metrics_rows, METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(self.base / "_metrics"))
        return self.read_stage(stage)

    def read_stage(self, stage: str) -> DataFrame:
        """Stage output, CLEAN rows only: for capture-enabled stages the
        has_error=true partitions are pruned at the scan (leading partition
        column) and the bookkeeping columns (error/peak_mb) dropped."""
        df = self.spark.read.parquet(self.stage_output_path(stage))
        if "has_error" in df.columns:
            df = df.where(F.col("has_error") != "true").drop(
                "has_error", "error"
            )
        if "peak_mb" in df.columns:
            df = df.drop("peak_mb")
        return df

    def compact_stage(
        self, stage: str, max_records_per_file: int = 1_000_000
    ) -> int:
        """Small-file compaction for a completed stage: rewrite its output
        at ~one file per url_hash_bucket (splitting only past
        ``max_records_per_file``) and swap it in. Returns the new file
        count.

        Why it exists: every stage task writes its own file per bucket
        partition it touches, so a stage at shuffle-parallelism P over B
        buckets can leave O(P x B) tiny parquet files — at 4096 buckets
        that is millions of files whose open/footer costs dominate
        downstream scans (the classic 100-TB small-file problem; with
        Iceberg jars this is `rewrite_data_files`). Content, schema,
        partition layout, and lineage are unchanged — resume still sees
        the same completed buckets; only the file layout changes.

        Crash safety: the rewrite lands in a `__compacting` sibling and
        is swapped via two directory renames; a crash between them
        leaves either the old or the new layout fully intact plus a
        leftover directory (cleaned on the next call), never a partially
        merged stage.
        """
        import shutil

        path = Path(self.stage_output_path(stage))
        tmp = Path(str(path) + "__compacting")
        old = Path(str(path) + "__precompact")
        for leftover in (tmp, old):
            if leftover.exists():
                shutil.rmtree(leftover)
        df = self.spark.read.parquet(str(path))
        part_cols = [c for c in ("has_error", "url_hash_bucket")
                     if c in df.columns]
        (
            df.repartition(*[F.col(c) for c in part_cols])
            .write.partitionBy(*part_cols)
            .option("maxRecordsPerFile", max_records_per_file)
            .mode("overwrite")
            .parquet(str(tmp))
        )
        path.rename(old)
        tmp.rename(path)
        shutil.rmtree(old)
        return len(list(path.rglob("*.parquet")))

    def read_errors(self) -> DataFrame:
        """Accumulated (url, stage, error) rows across runs (O21),
        DEDUPLICATED: the append is at-least-once on a crash between the
        errors append and the lineage commit (the retry re-appends the same
        rows), so consumers get the distinct set — the at-least-once write
        discipline stays invisible here."""
        p = self.base / "_errors"
        if not p.exists() or not any(p.glob("*.parquet")):
            from kg.errors import ERRORS_SCHEMA

            return local_df(self.spark, [], ERRORS_SCHEMA)
        return self.spark.read.parquet(str(p)).distinct()

    def _probe_peak_mem(self, written: DataFrame) -> float:
        """O23 FALLBACK (LOCAL-MODE-ONLY attribution): max Python-worker
        peak RSS (MB) right after the stage ran, for stage fns that did not
        emit an in-stage ``peak_mb`` column (capture_metrics).

        ``resource.getrusage(RUSAGE_SELF).ru_maxrss`` is the process
        high-water mark; ON LOCAL MODE Python workers are reused across
        tasks (spark.python.worker.reuse) so the probe tasks land in the
        workers that ran the stage UDFs. On a multi-executor cluster the
        probe tasks can land on fresh workers/executors and report
        bootstrap RSS — use capture_metrics=True on the stage fn there,
        which samples ru_maxrss inside the stage's own batches (the
        preferred path; this probe is only the legacy fallback). The probe
        scans ONLY the bucket column of the just-written partitions
        (column-pruned parquet read, one tiny mapInPandas pass).
        """
        probe = written.select("url_hash_bucket").mapInPandas(
            _peak_rss_batches, schema="peak_mb double"
        )
        row = probe.agg(F.max("peak_mb")).first()
        return float(row[0]) if row and row[0] is not None else 0.0


def _peak_rss_batches(batches):
    """One (peak_mb) row per non-empty Arrow batch: this worker's RSS
    high-water mark (ru_maxrss is KB on Linux)."""
    import resource

    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:
            continue
        peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        yield pd.DataFrame({"peak_mb": [peak_kb / 1024.0]})


def _now_utc():
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).replace(microsecond=0)
