"""Per-partition checkpointing, lineage, and resume (north-rule requirement).

Unit of work = ``url_hash_bucket = pmod(xxhash64(url), n_buckets)``. Each
stage writes its output partitioned by bucket; a ``lineage`` table records
(stage, bucket, run_config_hash, counts) rows only AFTER the bucket's data
is written. Resume = anti-join: buckets present in lineage with a matching
config hash are skipped; everything else is (re)computed with dynamic
partition overwrite, so a killed run leaves at worst orphan partition files
that the retry overwrites — output is exactly-once per bucket.

One ``run_stage`` commits in this order, and a bucket is "done" iff its
lineage row exists:

1. data write: the stage's single ``partitionBy(...).parquet`` Spark job;
2. errors append (capture-enabled stages only): the just-written error
   partitions, appended to ``_errors`` by Spark;
3. lineage: the todo buckets' rows as ONE parquet file, written by the
   driver under a dot-prefixed temp name, then renamed into ``_lineage``;
4. metrics: the stage's row, committed into ``_metrics`` the same way.

Steps 3 and 4 start no Spark job: each bucket's ``n_out`` and the stage's
``peak_mem_mb`` are read from the parquet footers of the files step 1 wrote,
and ``completed_buckets`` reads ``_lineage`` with pyarrow. Spark and pyarrow
both skip dot-prefixed files, so a commit file appears whole or not at all:
a crash mid-commit leaves an ignored temp file, and the retry recomputes the
uncommitted buckets (rewriting a partition is idempotent).

The footer scan, the rename and the lineage listing are local-filesystem
calls; commits to object stores (where a rename is a copy) are out of
scope. There the layout maps 1:1 onto an Iceberg table with an identity
bucket partition, whose snapshot commit gives the same discipline.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kg.session import arrow_table, local_df

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
# peak_mem_mb: max Python-worker peak RSS the stage's own UDF batches
# sampled into a `peak_mb` column (capture_metrics=True on the stage fn;
# O23 — the reference @profile-on-populate analogue). NULL means the stage
# did not sample it.
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
        # stage -> the schema this object last wrote it with: reading a
        # stage back with its schema given spares Spark the inference job
        self._written: dict[str, StructType] = {}
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )

    # ---- lineage ----

    def _lineage_path(self) -> str:
        return str(self.base / "_lineage")

    def _has_lineage(self) -> bool:
        return bool(_data_files(Path(self._lineage_path())))

    def read_lineage(self) -> DataFrame:
        if not self._has_lineage():
            return local_df(self.spark, [], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage_path())

    def completed_buckets(self, stage: str) -> set[int]:
        if not self._has_lineage():
            # fresh base: nothing is committed
            return set()
        import pyarrow.dataset as ds

        # a driver-side read of the small commit log: no Spark job. The
        # explicit schema reads files that Spark appended (INT96 ts) and
        # files that _commit wrote alike.
        lineage = ds.dataset(
            self._lineage_path(), format="parquet",
            schema=arrow_table([], LINEAGE_SCHEMA).schema,
        )
        table = lineage.to_table(
            columns=["url_hash_bucket"],
            filter=(ds.field("stage") == stage)
            & (ds.field("run_config_hash") == self.cfg_hash),
        )
        return set(table.column("url_hash_bucket").to_pylist())

    def _commit(self, table: str, rows: list[tuple], ddl: str) -> None:
        """Append ``rows`` to ``base/<table>`` as one new parquet file:
        written under a dot-prefixed name that every reader skips, then
        renamed into place, so the file appears whole or not at all."""
        import pyarrow.parquet as pq

        d = self.base / table
        d.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = d / f".{name}.tmp"
        pq.write_table(arrow_table(rows, ddl), tmp)
        os.replace(tmp, d / name)

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
        # what the write left on disk, in the order Spark infers it: data
        # columns, then the partition columns
        self._written[stage] = written_schema = StructType(
            [f for f in out.schema if f.name not in part_cols]
            + [out.schema[c] for c in part_cols]
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
            in_todo = F.col("url_hash_bucket").isin(*todo_buckets)
            err_rows = (
                self.spark.read.schema(written_schema)
                .parquet(self.stage_output_path(stage))
                .where(in_todo & (F.col("has_error") == "true"))
                .select(
                    F.col("url").cast("string").alias("url"),
                    F.lit(stage).alias("stage"),
                    "error",
                )
            )
            written = self.read_stage(stage).where(in_todo)
            if "url" in written.columns:
                clean_urls = written.select(
                    F.col("url").cast("string").alias("url")
                ).distinct()
                err_rows = err_rows.join(clean_urls, "url", "left_anti")
            err_rows.coalesce(1).write.mode("append").parquet(
                str(self.base / "_errors")
            )

        n_out, peak_mem_mb = self._probe_peak_mem(
            stage, todo_buckets, capture, "peak_mb" in out.columns
        )
        now = _now_utc()
        self._commit(
            "_lineage",
            [
                (stage, b, self.cfg_hash, self.run_id, n_out[b], now)
                for b in todo_buckets
            ],
            LINEAGE_SCHEMA,
        )
        self._commit(
            "_metrics",
            [(
                stage, self.run_id, len(todo_buckets), sum(n_out.values()),
                wall_ms, peak_mem_mb, now,
            )],
            METRICS_SCHEMA,
        )
        return self.read_stage(stage)

    def read_stage(self, stage: str) -> DataFrame:
        """Stage output, CLEAN rows only: for capture-enabled stages the
        has_error=true partitions are pruned at the scan (leading partition
        column) and the bookkeeping columns (error/peak_mb) dropped.

        A stage this object wrote is read with the schema it wrote; any
        other stage's schema is inferred by Spark, which costs a job."""
        reader = self.spark.read
        if stage in self._written:
            reader = reader.schema(self._written[stage])
        df = reader.parquet(self.stage_output_path(stage))
        if "has_error" in df.columns:
            df = df.where(F.col("has_error") != "true").drop(
                "has_error", "error"
            )
        if "peak_mb" in df.columns:
            df = df.drop("peak_mb")
        return df

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

    def _probe_peak_mem(
        self, stage: str, buckets: list[int], capture: bool, sampled: bool
    ) -> tuple[dict[int, int], float | None]:
        """Read from the parquet footers of the files the stage just wrote
        for ``buckets``: each bucket's CLEAN row count (0 for a bucket with
        no output file), and the max of the ``peak_mb`` column statistics
        when the stage ``sampled`` it (else ``None``). No Spark job; the
        name is the one ``perfbench/spans.py`` traces."""
        import pyarrow.parquet as pq

        root = Path(self.stage_output_path(stage))
        clean = root / "has_error=false" if capture else root
        dirs = [clean, root / "has_error=true"] if capture else [clean]
        n_out, peak = dict.fromkeys(buckets, 0), None
        for d in dirs:
            for b in buckets:
                for f in _data_files(d / f"url_hash_bucket={b}"):
                    meta = pq.read_metadata(f)
                    if d == clean:
                        n_out[b] += meta.num_rows
                    if sampled:
                        peak = _max_stat(meta, "peak_mb", peak)
        return n_out, peak


def _data_files(d: Path) -> list[Path]:
    """The parquet files directly under ``d`` that Spark and pyarrow read:
    names starting with '.' or '_' (temp files, markers) are skipped."""
    return [f for f in d.glob("*.parquet") if f.name[0] not in "._"]


def _max_stat(meta, column: str, current: float | None) -> float | None:
    """``current`` raised to the max statistic of ``column`` over the row
    groups in the parquet footer ``meta``."""
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            st = col.statistics
            if col.path_in_schema == column and st is not None and st.has_min_max:
                current = st.max if current is None else max(current, st.max)
    return current


def _now_utc():
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).replace(microsecond=0)
