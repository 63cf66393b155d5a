"""SparkSession factory with the engine's scale-oriented defaults.

Centralizes the config story so tests, bench, and spark-submit entry all run
the same plan-relevant settings:

- AQE on (runtime coalescing + skew-join splitting) — the north rule names
  skew handling explicitly.
- Arrow enabled for all pandas UDF exchange (the engine forbids row-wise
  Python UDFs; mapInPandas/pandas_udf only).
- shuffle partitions sized for the local harness; a real cluster run passes
  its own value (≈ 2-3x total cores) via spark-submit --conf.
- driver-side rows (gazetteer and regex dims, union-find output, rule
  tables) become DataFrames only through :func:`local_df`.
  ``createDataFrame(<python list>, ddl)`` pickles the rows into a
  ``parallelize`` RDD, so every job that scans the result starts a Python
  worker; ``local_df`` ships them as one Arrow table and the JVM scans a
  ``LocalRelation`` with no Python worker at all.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def local_df(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``ddl`` column order),
    scanned by the JVM as a ``LocalRelation``.

    The rows go straight into a ``pyarrow.Table`` typed from the DDL, not
    through pandas, so longs above 2^53 and NULLs in integer columns keep
    their values. Independent of ``spark.sql.execution.arrow.pyspark.enabled``.
    Unlike an RDD scan, the relation has exact size statistics, so Catalyst
    broadcasts it into joins on its own when it is small.
    """
    return spark.createDataFrame(arrow_table(rows, ddl), ddl)


def arrow_table(rows: Iterable[Sequence], ddl: str):
    """``rows`` (tuples in ``ddl`` column order) as a ``pyarrow.Table``
    whose types are Spark's Arrow mapping of the DDL: the table that
    :func:`local_df` ships to the JVM, and the file the checkpoint commit
    writes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_type = pa.struct(list(to_arrow_schema(_parse_datatype_string(ddl))))
    return pa.Table.from_struct_array(pa.array(list(rows), type=arrow_type))


def materialize(df: DataFrame) -> DataFrame:
    """Eager materialization barrier for small multi-consumer intermediates
    (LSH bucket tables, CC iteration state, dedup membership maps).

    On a real cluster — where an executor loss mid-job must not fail the
    stage — callers set a RELIABLE checkpoint dir once per job
    (``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")``) and this
    helper uses ``df.checkpoint``: partitions are re-readable from durable
    storage after executor loss. Without a checkpoint dir (local/bench runs,
    where losing an executor means losing the driver too) it falls back to
    ``localCheckpoint``: executor-local blocks, no write barrier cost, same
    lineage truncation. Both paths are eager so the subtree is computed
    exactly once no matter how many consumers read it."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def get_spark(
    master: str | None = None,
    app_name: str = "kg-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The running session if there is one, else a new session with the
    defaults above.

    A running session keeps its conf: ``getOrCreate`` would write every
    builder default onto it (32 shuffle partitions, say, over the value a
    notebook or test harness chose). Only what the caller asks for here,
    ``shuffle_partitions`` and ``extra_conf``, is set on it."""
    active = SparkSession.getActiveSession()
    if active is not None:
        conf = dict(extra_conf or {})
        if shuffle_partitions:
            conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        for k, v in conf.items():
            active.conf.set(k, v)
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow joins to reuse a subset-key partitioning from upstream
        # (HashPartitioning(url) satisfies a join on (url, word) on both
        # sides): the mentions tree then shuffles the corpus ONCE and every
        # downstream agg/join stays exchange-free (co_partition=True).
        # Our join keys lead with high-cardinality ids, so the reduced-key
        # partitioning loses no parallelism.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
