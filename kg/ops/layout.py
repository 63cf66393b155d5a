"""Storage-layout operators: Z-order (Morton) clustering keys for
multi-dimensional data skipping, and compaction planning for the
small-files problem.

Why these exist in a 100-TB engine: parquet/Iceberg data skipping works
off per-file min/max ranges. A corpus sorted by ONE key prunes scans on
that key only; a Z-order layout interleaves the bits of two keys so
that files cover small RECTANGLES of the (x, y) domain, and a box
predicate on either or both dimensions prunes most files (this is what
Delta/Iceberg `OPTIMIZE ZORDER BY` does). Compaction fixes the other
layout failure: incremental ingests leave thousands of tiny files whose
per-file overhead (open, footer, scheduling) dominates the scan.

Scale shapes:
- ``zorder_key`` is a PURE MAP: the interleave is an unrolled sum of
  shift/mask terms, all whole-stage-codegen JVM arithmetic — no
  shuffle, no Python. Callers pre-quantize each dimension to
  [0, 2^bits) (rank, bucket, or domain arithmetic — for web tables
  typically ``pmod(xxhash64(host), 2^bits)`` × a day number).
- ``zorder_layout`` adds the deterministic equal-width file bucketing
  used by the contract; PRODUCTION writes use
  ``df.repartitionByRange(n, "zkey")`` + sortWithinPartitions instead
  (sampling-based range boundaries adapt to skew; the equal-width
  variant is exact and oracle-replayable).
- ``compaction_plan`` runs over file METADATA (one row per file — a
  dim table even at 10^8 files), so its single global window is a
  deliberate, documented driver-scale sort, not a corpus shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["interleave_bits", "zorder_key", "zorder_layout",
           "file_skipping_stats", "scan_prune",
           "compaction_plan"]


def interleave_bits(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton interleave: bit i of x lands at position 2i, bit i of y at
    2i+1; the result is < 4^bits (bits <= 31 keeps it in a long).
    Values are masked to ``bits`` bits first, so out-of-range inputs
    wrap instead of colliding across rectangles."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    xl = x.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    yl = y.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftright(xl, i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i))
            + F.shiftright(yl, i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    return z


def zorder_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    out_col: str = "zkey",
) -> DataFrame:
    """Attach the Morton key of two pre-quantized integer columns."""
    return df.withColumn(
        out_col, interleave_bits(F.col(x_col), F.col(y_col), bits)
    )


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 10,
    n_files: int = 64,
    out_col: str = "zkey",
    file_col: str = "file_id",
) -> DataFrame:
    """Morton key + deterministic equal-width file assignment:
    file_id = min(n_files-1, zkey // ceil(4^bits / n_files)). Under a
    roughly uniform key distribution each file covers one contiguous
    Z-range = a small (x, y) rectangle union, which is what makes box
    predicates prune. Exact and engine-replayable; see the module
    docstring for the production repartitionByRange variant."""
    chunk = max(1, ((1 << (2 * bits)) + n_files - 1) // n_files)
    out = zorder_key(df, x_col, y_col, bits, out_col)
    return out.withColumn(
        file_col,
        F.least(
            F.lit(n_files - 1), F.floor(F.col(out_col) / F.lit(chunk))
        ).cast("int"),
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    file_col: str = "file_id",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Greedy in-order bin packing of small files into ~target_bytes
    output shards: out_shard = exclusive-running-total // target, so a
    file goes to the shard its first byte falls in. Shard totals land
    in [target - max_file, target + max_file]; order is the file id, so
    an id that encodes the ingest/sort order preserves clustering
    through compaction (rewriting data in id order keeps zorder/range
    layouts intact).

    Input is file metadata (one row per file); the single global window
    is a deliberate dim-scale sort — at 10^8 input files this is still
    a few GB of state, not a corpus shuffle. Returns
    (file_id, size_bytes, out_shard).
    """
    w = (
        Window.orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return files.select(
        F.col(file_col),
        F.col(size_col).cast("long").alias(size_col),
        F.floor(cum / F.lit(int(target_bytes))).cast("long").alias(
            "out_shard"
        ),
    )


def file_skipping_stats(
    df: DataFrame,
    file_col: str,
    value_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Per-file data-skipping statistics for one column — the footer
    metadata an Iceberg/parquet reader prunes scans with, materialized
    as a queryable dim: (file, n_rows, n_nulls, vmin, vmax, bloom).
    ``bloom`` is the file's packed-word Bloom filter of the column
    (sorted ARRAY<STRUCT<word, bits>>; kg/ops/sketch.py md5 double
    hashing, so the filter itself is deterministic and
    oracle-replayable). min/max answer range predicates, the Bloom
    answers equality on UNSORTED columns — the pair is exactly what
    `OPTIMIZE ZORDER BY` (zorder_layout) is arranging data FOR, and
    :func:`scan_prune` consumes to plan a scan.

    Scale shape: one projection exploding k bit positions per row + one
    composite partial-agged groupBy(file) (min/max/counts combine
    map-side; the bloom words aggregate by bit_or inside a per-(file,
    word) pre-aggregate, then pack into the sorted array) — metadata
    output is one row per file, a dim table even at 10^8 files."""
    from kg.ops.sketch import _bloom_positions

    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    val = F.col(value_col).cast("string")
    base = df.select(
        F.col(file_col).alias("file"),
        F.col(value_col).alias("_v"),
        val.alias("_vs"),
    )
    ranges = base.groupBy("file").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
    )
    words = (
        base.where(F.col("_v").isNotNull())
        .select(
            "file",
            F.explode(
                _bloom_positions(F.col("_vs"), int(m_bits), int(k_hashes))
            ).alias("_p"),
        )
        .select(
            "file",
            F.shiftright(F.col("_p"), 5).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 32 AS INT))")
            .alias("_mask"),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("_mask").alias("bits"))
        .groupBy("file")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )
    return ranges.join(words, "file", "left").select(
        "file", "n_rows", "n_nulls", "vmin", "vmax",
        F.coalesce(
            "bloom",
            F.array().cast("array<struct<word:long,bits:long>>"),
        ).alias("bloom"),
    )


def scan_prune(
    stats: DataFrame,
    value,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Plan an equality scan against :func:`file_skipping_stats`
    metadata: per file, keep/skip plus the reason —
    ``range_miss`` (value outside [vmin, vmax]), ``bloom_miss`` (in
    range but the filter proves absence), or ``keep``. No false skips
    ever (min/max bound and Bloom no-false-negatives, both pinned);
    false KEEPS are the Bloom FP rate — pruning is conservative, a
    kept file just gets scanned. Runs on the metadata dim only.
    """
    from kg.ops.sketch import _bloom_positions

    probe = F.lit(value)
    pos = _bloom_positions(probe.cast("string"), int(m_bits), int(k_hashes))
    # per probe position: (word, mask) pair, then forall/exists over the
    # file's sorted word array — pure JVM array algebra, no join
    hits = F.forall(
        F.transform(
            pos,
            lambda p: F.struct(
                F.shiftright(p, 5).alias("w"),
                # pyspark's shiftleft needs a literal bit count; 2^(p%32)
                # via pow is exact for all 32 mask bits (< 2^53)
                F.pow(F.lit(2.0), (p % 32).cast("int"))
                .cast("long")
                .alias("m"),
            ),
        ),
        lambda pm: F.exists(
            F.col("bloom"),
            lambda e: (e["word"] == pm["w"])
            & (e["bits"].bitwiseAND(pm["m"]) == pm["m"]),
        ),
    )
    in_range = (
        F.col("vmin").isNotNull()
        & (probe >= F.col("vmin"))
        & (probe <= F.col("vmax"))
    )
    reason = (
        F.when(~in_range, F.lit("range_miss"))
        .when(~hits, F.lit("bloom_miss"))
        .otherwise(F.lit("keep"))
    )
    return stats.select(
        "file",
        (in_range & hits).alias("keep"),
        reason.alias("reason"),
    )
