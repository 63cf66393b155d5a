"""Structured Streaming wrapper over the batch stages.

The KG pipeline is stateless per page until linking, so the streaming story
is thin by design (SURVEY.md §1.2): the same detection/extraction plans run
under ``readStream`` unchanged; watermarking only matters for the windowed
mention-rate aggregation below. Use ``Trigger.AvailableNow`` (or
``trigger(availableNow=True)``) for catch-up batch runs over a growing
Iceberg/parquet landing zone, with exactly-once sinks via checkpointLocation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_pages_stream(
    spark: SparkSession, path: str, schema: str | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream of pages parquet dropped into ``path``."""
    if schema is None:
        schema = (
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of events parquet dropped into ``path`` (same
    shape as the batch events table)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_triples(pages_stream: DataFrame) -> DataFrame:
    """Streaming triples: the identical fused batch plan under readStream."""
    from kg.stages.triples import extract_triples_from_pages

    return extract_triples_from_pages(pages_stream)


def stream_markup_triples(pages_stream: DataFrame) -> DataFrame:
    """Streaming markup ingest: the JSON-LD extraction plan unchanged
    under readStream — it is a pure map (regexp + from_json, no shuffle,
    no state), so it is trivially streaming-safe and exactly-once under
    the parquet-sink checkpoint; a crawl can feed the KG markup channel
    incrementally with the SAME operator the batch path runs."""
    from kg.ops.structured import extract_jsonld_blocks, jsonld_triples

    return jsonld_triples(extract_jsonld_blocks(pages_stream))


def stream_mention_rates(
    pages_stream: DataFrame,
    gazetteer: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed mention-candidate counts per entity with late-data handling:
    watermark on warc_ts bounds state; late pages beyond it are dropped.

    Uses the span-join directly (ONE stateful aggregation — the batch
    longest-match fold is a second chained aggregation, which streaming
    append mode restricts; rates don't need the fold)."""
    from kg.normalize import PUNCT
    from kg.stages.extract import extract_docs
    from kg.stages.mentions import ngram_spans_df

    docs = extract_docs(pages_stream.select("url", "html", "lang"))
    with_ts = docs.join(pages_stream.select("url", "warc_ts"), "url")
    spans = ngram_spans_df(with_ts.select("url", "text"), max_words=2)
    keyed = spans.withColumn(
        "key", F.lower(F.btrim(F.col("span"), F.lit(PUNCT)))
    ).join(
        F.broadcast(gazetteer.select(F.col("value_norm").alias("key"), "entity_name")),
        "key",
    )
    timed = keyed.join(pages_stream.select("url", "warc_ts"), "url")
    return (
        timed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "entity_name")
        .agg(F.count("*").alias("n_mentions"))
        .select("w.start", "w.end", "entity_name", "n_mentions")
    )


def stream_link_rates(
    pages_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed outbound-link counts per destination host with late-data
    handling — crawl monitoring (a sudden link spike toward one host is a
    crawler trap / spam cluster / hot-news signal, and the frontier
    scheduler throttles on it).

    Link extraction (kg.ops.weblinks.extract_links) is a stateless pure
    map, with ``warc_ts`` carried through the explode via ``keep_cols`` so
    there is NO stream-stream self-join; the only stateful operator is the
    single windowed aggregation, whose state the watermark bounds."""
    from kg.ops.weblinks import HOST_RE, extract_links

    links = extract_links(
        pages_stream.select("url", "html", "warc_ts"),
        keep_cols=("warc_ts",),
    )
    return (
        links.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            F.regexp_extract("dst_url", HOST_RE, 1).alias("dst_host"),
        )
        .agg(F.count("*").alias("n_links"))
        .select("w.start", "w.end", "dst_host", "n_links")
    )


def stream_dedup_pages(
    pages_stream: DataFrame, watermark: str = "2 minutes"
) -> DataFrame:
    """Streaming ingestion dedup with BOUNDED STATE: keep the first
    occurrence of each url among events arriving within the watermark
    horizon of each other (``dropDuplicatesWithinWatermark``).

    Scale rationale: plain ``dropDuplicates(["url"])`` on a stream keeps one
    state row per url FOREVER — unbounded on a crawl stream.
    ``dropDuplicatesWithinWatermark`` evicts a url's state once the
    watermark passes its event time + delay, so state is bounded by the
    arrival rate times the horizon; a url re-crawled after the horizon is
    deliberately re-emitted (downstream batch dedup owns cross-horizon
    duplicates — the standard streaming/batch split for ingestion dedup).
    Late rows (event time below the watermark) are dropped."""
    return pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])


def stream_index_dedup(
    stream: DataFrame,
    index_hashes: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("url", "warc_ts"),
    broadcast_index: bool = False,
) -> DataFrame:
    """Streaming front door of incremental ingestion: flag each arriving
    page whose normalized text already exists in the ACCEPTED corpus.

    A stream-STATIC left join on the exact-dup hash (md5 of the
    whitespace/case-normalized text — the same key as
    ``kg.ops.dedup.exact_dedup``). STATELESS: no watermark, no state
    store — the static side is re-planned per micro-batch, the stream
    holds nothing. Division of labor on the dedup ladder:
    - this op: exact re-crawls bounce at the door (is_known=true);
    - ``stream_dedup_pages``: bounded within-stream url dedup;
    - ``incremental_near_dup``: near-dups settle in the batch layer
      against the persisted MinHash index.

    ``index_hashes``: any DataFrame with a ``text_hash`` column (e.g.
    ``exact_dedup`` output, or md5(_norm_text) over the accepted docs).
    ``broadcast_index=True`` hints the join when the index is dim-sized;
    leave False at corpus scale and let AQE pick the stream-static
    shuffle join (the static side is a compact fixed-width hash table
    either way)."""
    from kg.ops.dedup import _norm_text

    hashed = stream.withColumn("text_hash", F.md5(_norm_text(text_col)))
    dim = (
        index_hashes.select("text_hash").distinct()
        .withColumn("is_known", F.lit(True))
    )
    if broadcast_index:
        dim = F.broadcast(dim)
    return hashed.join(dim, "text_hash", "left").select(
        *keep_cols,
        "text_hash",
        F.coalesce("is_known", F.lit(False)).alias("is_known"),
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_seq long, n_events long, t_start_us long, "
    "t_end_us long, total_value_cents long"
)
#: open-session state per user: the session counter plus the running
#: aggregate of the (single) open session
SESSION_STATE_SCHEMA = (
    "session_seq long, n_events long, t_start_us long, t_end_us long, "
    "cents long"
)


def stream_sessionize(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 minutes",
) -> DataFrame:
    """CUSTOM STATEFUL streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``kg.ops.events.sessionize`` (same output schema, same cents-exact
    value sum, same (ts, event_id) ordering).

    Semantics (deterministic given the micro-batch boundaries):
    - rows older than the current event-time watermark are DROPPED (filtered
      explicitly inside the state function, so the cutoff is pinned here
      rather than left to engine-version behavior);
    - within a batch, a user's events are sorted by (ts, event_id) and folded
      into the open session; a gap > ``gap_minutes`` CLOSES the open session
      (emitted immediately, session_seq increments);
    - an out-of-order (but non-late) event at or before the open session's
      end folds into it without re-splitting — state holds the aggregate,
      not the raw events; this is the standard streaming-sessionize
      approximation, exact whenever arrival order respects event order up to
      the watermark delay;
    - the open session is emitted when the EVENT-TIME TIMEOUT fires: the
      watermark has advanced beyond t_end + gap, so no non-late event can
      ever extend it. Until then it stays in state (append semantics:
      every session is emitted exactly once, when finalized).

    State per user is O(1) (one open-session aggregate), bounded regardless
    of stream length; the shuffle is the groupBy(user_id) exchange only.
    """
    gap_ms = gap_minutes * 60 * 1000
    gap_us = gap_ms * 1000

    def fn(
        key: tuple, pdfs: Iterator[Any], state: Any
    ) -> Iterator[Any]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            seq, n, t0, t1, cents = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, seq, n, t0, t1, cents)],
                columns=["user_id", "session_seq", "n_events", "t_start_us",
                         "t_end_us", "total_value_cents"],
            )
            return

        wm_ms = state.getCurrentWatermarkMs()
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows["_us"] = rows["ts"].astype("datetime64[us]").astype("int64")
        rows["_cents"] = (
            (rows["value"] * 100).round().fillna(0).astype("int64")
        )
        # late-data cutoff: same boundary as Spark's stateful aggregations
        # (ts strictly below the watermark is late)
        rows = rows[rows["_us"] >= wm_ms * 1000]
        rows = rows.sort_values(["_us", "event_id"])

        if state.exists:
            seq, n, t0, t1, cents = state.get
        else:
            seq, n, t0, t1, cents = 0, 0, None, None, 0

        out = []
        for us, c in zip(rows["_us"], rows["_cents"]):
            if n == 0:
                seq, n, t0, t1, cents = seq + 1, 1, us, us, int(c)
            elif us <= t1 or us - t1 <= gap_us:
                n += 1
                cents += int(c)
                t0 = min(t0, us)
                t1 = max(t1, us)
            else:
                out.append((user_id, seq, n, t0, t1, cents))
                seq, n, t0, t1, cents = seq + 1, 1, us, us, int(c)

        if n > 0:
            # n > 0 covers every live-state case: stored state always holds
            # a non-empty open session, and an empty batch re-registers the
            # same timeout target
            state.update((seq, n, t0, t1, cents))
            # fire once no non-late event can extend the session; the
            # timestamp must sit strictly beyond the current watermark
            state.setTimeoutTimestamp(max(t1 // 1000 + gap_ms, wm_ms + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_seq", "n_events", "t_start_us",
                         "t_end_us", "total_value_cents"],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "30 minutes",
    watermark: str = "2 minutes",
) -> DataFrame:
    """STREAM-STREAM inner interval join: each left event pairs with the
    right events of the same key whose timestamp falls in
    ``[left.ts - lookback, left.ts]`` (inclusive).

    This is the one join shape where Structured Streaming must buffer
    BOTH sides; the two ingredients that keep that state bounded are
    mandatory here, not optional:
    - watermarks on both inputs (how far behind either side may arrive);
    - the time-range join condition (how long a buffered row can still
      find partners).
    Spark derives the eviction horizon from the two together — a right
    row is dropped from state once the left watermark passes
    ``right.ts + lookback``, so state is O(arrival rate × (lookback +
    watermark)) per key, independent of stream length. Without the range
    bound the buffers grow forever; the operator refuses to run in that
    shape rather than degrade (Spark raises at analysis).

    Right-side columns are prefixed ``r_`` (the key is emitted once).
    Rows later than the restored watermark are dropped on arrival —
    pinned in tests/test_streaming.py; the contract query feeds a single
    batch so the oracle is the plain interval join.
    """
    rcols = [c for c in right_stream.columns if c != key]
    l = left_stream.withWatermark(left_ts, watermark).alias("l")
    r = right_stream.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        *[F.col(f"l.{c}") for c in left_stream.columns if c != key],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in rcols],
    )


def run_stream_to_parquet(
    stream_df: DataFrame, out_path: str, checkpoint: str,
    available_now: bool = True,
):
    """Start the stream with an exactly-once parquet sink; availableNow
    processes the current backlog then stops (the resumable-batch shape)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_fact_merge(
    alias_dim: DataFrame,
    store_dir: str,
    max_urls: int = 8,
):
    """Streaming incremental fact store: every micro-batch of pages is
    extracted -> linked -> rolled up with kg.graphstats.fact_evidence and
    MONOID-MERGED (merge_fact_evidence) into a versioned parquet store —
    the standing KG that stays current as the crawl streams in, without
    ever re-aggregating history.

    Returns a foreachBatch function for the caller's writeStream. The
    store is versioned by epoch (``store_dir/v{epoch}``): each epoch
    merges the latest EARLIER version with its own batch rollup and
    overwrites only its own version directory, so a replayed epoch (the
    foreachBatch at-least-once contract) rewrites the same bytes —
    idempotent, and the newest version is always a consistent full
    table. Disjoint url sets across batches (the file-source contract
    for a crawl landing zone; re-crawls go through the batch
    delete-insert path) make merged == batch-recompute exact.

    Scale shape per batch: the batch extraction/link plan is the fused
    batch plan (one Arrow pass + broadcast dim join); the merge is one
    union + one partial-aggregated groupBy on the fact key, sized by
    |store| + |batch rollup| — never the raw corpus.
    """
    import os
    import re

    from kg.graphstats import fact_evidence, merge_fact_evidence
    from kg.stages.link import link_triples
    from kg.stages.triples import extract_triples_from_pages

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        triples = extract_triples_from_pages(batch_df)
        linked = (
            link_triples(triples, alias_dim)
            .withColumn("subj_id", F.col("subj_id").cast("long"))
            .withColumn("obj_id", F.col("obj_id").cast("long"))
            .join(batch_df.select("url", "warc_ts"), "url")
        )
        roll = fact_evidence(linked, max_urls=max_urls)
        prev_ids = [
            int(m.group(1))
            for d in (
                os.listdir(store_dir) if os.path.isdir(store_dir) else []
            )
            if (m := re.fullmatch(r"v(\d+)", d)) and int(m.group(1)) < epoch_id
        ]
        if prev_ids:
            prev = spark.read.parquet(f"{store_dir}/v{max(prev_ids)}")
            roll = merge_fact_evidence([prev, roll], max_urls=max_urls)
        roll.write.mode("overwrite").parquet(f"{store_dir}/v{epoch_id}")

    return fold


def read_fact_store(spark, store_dir: str) -> DataFrame:
    """Latest consistent version of a stream_fact_merge store."""
    import os
    import re

    ids = [
        int(m.group(1))
        for d in os.listdir(store_dir)
        if (m := re.fullmatch(r"v(\d+)", d))
    ]
    return spark.read.parquet(f"{store_dir}/v{max(ids)}")


def stream_hll_merge(
    store_dir: str,
    group_cols=("lang",),
    value_col: str = "text",
    p: int = 12,
):
    """Streaming distinct-count monitor: every micro-batch's HyperLogLog
    REGISTERS (kg/ops/sketch.py hll_registers) monoid-merge into a
    versioned store — always-on per-group cardinality counters over the
    landing zone that never re-scan history. The sketch-side sibling of
    :func:`stream_fact_merge`, and the streaming payoff of HLL's
    mergeability: union->max over <= 2^p rows per group, whatever the
    stream has seen.

    Returns a foreachBatch function; same epoch-versioned store layout
    and idempotent-replay contract as stream_fact_merge (a replayed
    epoch merges the same earlier version with the same batch registers
    — register max is idempotent, so duplicated batches cannot inflate
    the estimate, unlike a count-sum). Read the current estimates with
    :func:`read_hll_store` (registers -> hll_estimate).
    """
    import os
    import re

    from kg.ops.sketch import hll_merge, hll_registers

    groups = list(group_cols)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        regs = hll_registers(batch_df, groups, value_col, p)
        prev_ids = [
            int(m.group(1))
            for d in (
                os.listdir(store_dir) if os.path.isdir(store_dir) else []
            )
            if (m := re.fullmatch(r"v(\d+)", d)) and int(m.group(1)) < epoch_id
        ]
        if prev_ids:
            prev = spark.read.parquet(f"{store_dir}/v{max(prev_ids)}")
            regs = hll_merge(prev, regs, groups)
        regs.write.mode("overwrite").parquet(f"{store_dir}/v{epoch_id}")

    return fold


def read_hll_store(
    spark: SparkSession,
    store_dir: str,
    group_cols=("lang",),
    p: int = 12,
) -> DataFrame:
    """Estimates from the latest stream_hll_merge store version."""
    import os
    import re

    from kg.ops.sketch import hll_estimate

    ids = [
        int(m.group(1))
        for d in os.listdir(store_dir)
        if (m := re.fullmatch(r"v(\d+)", d))
    ]
    regs = spark.read.parquet(f"{store_dir}/v{max(ids)}")
    return hll_estimate(regs, list(group_cols), p)
