"""Structured Streaming wrapper: availableNow catch-up over a file landing
zone produces the same triples as the batch path, exactly-once via the
checkpointLocation; windowed mention rates run one stateful aggregation."""

from __future__ import annotations

import pytest

from kg import synth
from kg.stages.mentions import gazetteer_dim
from kg.stages.triples import extract_triples_from_pages
from kg.streaming import (
    read_pages_stream,
    run_stream_to_parquet,
    stream_mention_rates,
    stream_triples,
)


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    synth.gen_pages(80, seed=42).to_parquet(str(d / "batch1.parquet"), index=False)
    synth.gen_pages(40, seed=99).to_parquet(str(d / "batch2.parquet"), index=False)
    return str(d)


def test_stream_triples_equals_batch(spark, landing, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, landing)
    q = run_stream_to_parquet(stream_triples(stream), out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out).select("url", "subj", "pred", "obj")
    batch = extract_triples_from_pages(spark.read.parquet(landing)).select(
        "url", "subj", "pred", "obj"
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}

    # exactly-once: restarting over the same checkpoint adds nothing
    q2 = run_stream_to_parquet(
        stream_triples(read_pages_stream(spark, landing)), out, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == got.count()


def _land_events(path, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [r[3] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(path, index=False)


def _us(hhmmss: str) -> int:
    import pandas as pd

    return int(
        pd.Timestamp(f"2024-01-01 {hhmmss}").value // 1000
    )


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionize: in-batch gap close, cross-batch
    session extension, late-row drop at the restored watermark, event-time
    timeout emission, and open-session retention — all in one two-run
    availableNow fixture (gap 5 min, watermark 2 min)."""
    from kg.streaming import read_events_stream, stream_sessionize

    src = tmp_path / "events_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    batch1 = [
        (1, "2024-01-01 00:00:00", 1, 1.00),
        (2, "2024-01-01 00:02:00", 1, 2.00),
        (3, "2024-01-01 00:10:00", 1, 0.50),  # gap 8 min: closes u1 s1
        (4, "2024-01-01 00:11:00", 2, 3.25),
    ]
    batch2 = [
        (5, "2024-01-01 00:05:00", 2, 9.99),  # late: < restored wm 00:09
        (6, "2024-01-01 00:12:00", 1, 1.25),  # extends u1 s2 cross-batch
        (7, "2024-01-01 00:30:00", 2, 0.75),  # gap 19 min: closes u2 s1
    ]
    for i, rows in ((1, batch1), (2, batch2)):
        _land_events(str(src / f"batch{i}.parquet"), rows)
        q = run_stream_to_parquet(
            stream_sessionize(
                read_events_stream(spark, str(src)),
                gap_minutes=5, watermark="2 minutes",
            ),
            out, ckpt,
        )
        q.awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select("user_id", "session_seq", "n_events", "t_start_us",
                "t_end_us", "total_value_cents")
        .collect()
    }
    assert got == {
        # u1 s1: closed in batch 1 by the 00:10 event
        (1, 1, 2, _us("00:00:00"), _us("00:02:00"), 300),
        # u1 s2: extended by batch 2, then emitted by event-time timeout
        # (00:12 + 5 min < final wm 00:28)
        (1, 2, 2, _us("00:10:00"), _us("00:12:00"), 175),
        # u2 s1: closed in batch 2 by the 00:30 event; the late 00:05 row
        # was dropped at the restored watermark
        (2, 1, 1, _us("00:11:00"), _us("00:11:00"), 325),
        # u2 s2 (00:30, open): timeout 00:35 >= wm 00:28 -> NOT emitted
    }


def _land_pages(path, rows):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pd.to_datetime(
                [r[1] for r in rows]
            ).astype("datetime64[us]"),
            "html": [f"<p>{r[2]}</p>".encode() for r in rows],
            "text": [r[2] for r in rows],
            "lang": ["en"] * len(rows),
        }
    )
    pdf.to_parquet(path, index=False)


def test_stream_dedup_pages_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingestion dedup: in-batch dup dropped,
    in-horizon cross-batch dup dropped, re-crawl after the horizon
    re-emitted (state evicted), late row dropped at the restored
    watermark. Two availableNow runs over one checkpoint, delay 2 min."""
    from kg.streaming import read_pages_stream, stream_dedup_pages

    src = tmp_path / "pages_src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    batch1 = [
        ("p1", "2024-01-01 10:00:00", "alpha"),
        ("p2", "2024-01-01 10:01:00", "beta"),
        ("p1", "2024-01-01 10:00:00", "alpha"),   # in-batch dup: dropped
        ("p9", "2024-01-01 10:10:00", "omega"),   # advances wm to 10:08
    ]
    batch2 = [
        # p1 state expired at 10:02 < wm 10:08 -> re-crawl is RE-EMITTED
        ("p1", "2024-01-01 10:09:00", "alpha2"),
        # late: 10:07 < restored wm 10:08 -> dropped
        ("p2", "2024-01-01 10:07:00", "beta-late"),
        # p9 state alive (expires 10:12 > wm 10:08) -> dup dropped
        ("p9", "2024-01-01 10:11:00", "omega2"),
        ("p3", "2024-01-01 10:12:00", "gamma"),
    ]
    for i, rows in ((1, batch1), (2, batch2)):
        _land_pages(str(src / f"batch{i}.parquet"), rows)
        q = run_stream_to_parquet(
            stream_dedup_pages(
                read_pages_stream(spark, str(src)), watermark="2 minutes"
            ),
            out, ckpt,
        )
        q.awaitTermination(120)

    got = {
        (r["url"], str(r["warc_ts"]), r["text"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("p1", "2024-01-01 10:00:00", "alpha"),
        ("p2", "2024-01-01 10:01:00", "beta"),
        ("p9", "2024-01-01 10:10:00", "omega"),
        ("p1", "2024-01-01 10:09:00", "alpha2"),
        ("p3", "2024-01-01 10:12:00", "gamma"),
    }


def test_stream_mention_rates_runs(spark, landing, tmp_path):
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    rates = stream_mention_rates(
        read_pages_stream(spark, landing), gaz, window="10 minutes",
        watermark="5 minutes",
    )
    q = (
        rates.writeStream.format("memory")
        .queryName("rates")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt2")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from rates").collect()
    # append mode only emits windows closed by the watermark; with a bounded
    # availableNow run the final windows may be withheld — structural check:
    assert {c for c in spark.table("rates").columns} == {
        "start", "end", "entity_name", "n_mentions"
    }
    assert all(r["n_mentions"] > 0 for r in rows)


def _land_interval_events(path, rows, name):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype(
                "datetime64[us]"
            ),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(f"{path}/{name}.parquet", index=False)


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Single batch in -> the stream-stream interval join emits exactly
    the batch interval join."""
    from pyspark.sql import functions as F

    from kg.streaming import (
        read_events_stream,
        run_stream_to_parquet,
        stream_interval_join,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        # (event_id, ts, user_id, type)
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:20:00", 1, "purchase"),   # pairs with 1
        (3, "2024-01-01 11:30:00", 1, "purchase"),   # outside 30min of 1
        (4, "2024-01-01 10:10:00", 2, "click"),      # other user
        (5, "2024-01-01 10:15:00", 2, "purchase"),   # pairs with 4
        (6, "2024-01-01 10:30:00", 9, "purchase"),   # no clicks at all
    ]
    _land_interval_events(str(src), rows, "batch1")
    purchases = read_events_stream(spark, str(src)).where(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "event_id")
    clicks = read_events_stream(spark, str(src)).where(
        F.col("event_type") == "click"
    ).select("user_id", "ts", "event_id")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_stream_to_parquet(
        stream_interval_join(purchases, clicks, lookback="30 minutes"),
        out, ckpt,
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["r_event_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(2, 1), (5, 4)]


def test_stream_interval_join_drops_late_rows(spark, tmp_path):
    """State boundedness is observable through the drop horizon: a
    right-side row is held only while `its ts + lookback` is ahead of
    the watermark. A (click, purchase) pair arriving in batch 2 with
    both event times far below the restored watermark produces NO
    output (the click is past its state horizon watermark - lookback and
    is dropped on arrival), while an on-time batch-2 pair does. Note the
    horizon is the STATE watermark, not the raw event watermark — a
    "late" row that could still legally pair with a future row is
    correctly retained."""
    from pyspark.sql import functions as F

    from kg.streaming import (
        read_events_stream,
        run_stream_to_parquet,
        stream_interval_join,
    )

    src = tmp_path / "src"
    src.mkdir()
    batch1 = [
        (1, "2024-01-01 10:00:00", 1, "click"),
        (2, "2024-01-01 10:10:00", 1, "purchase"),  # emitted in run 1
        # advance BOTH sides' watermarks (each side's watermark is
        # computed on its own post-filter stream; the global is the min):
        # lone users, no cross pair (8's click window has no 9 purchase)
        (3, "2024-01-01 12:00:00", 8, "click"),
        (9, "2024-01-01 09:00:00", 9, "purchase"),
        (10, "2024-01-01 12:00:30", 9, "purchase"),
    ]
    batch2 = [
        # LATE click: below the click state horizon (global watermark
        # 11:58 - lookback 30m = 11:28). Not retained across batches.
        (4, "2024-01-01 10:05:00", 2, "click"),
        # on-time click, held in state for batch 3's purchase
        (6, "2024-01-01 11:59:30", 4, "click"),
    ]
    batch3 = [
        # its partner arrives a batch LATER: the late click's state is
        # gone, so no pair — while the on-time click from batch 2 pairs
        (5, "2024-01-01 10:20:00", 2, "purchase"),
        (7, "2024-01-01 12:02:00", 4, "purchase"),
    ]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        purchases = read_events_stream(spark, str(src)).where(
            F.col("event_type") == "purchase"
        ).select("user_id", "ts", "event_id")
        clicks = read_events_stream(spark, str(src)).where(
            F.col("event_type") == "click"
        ).select("user_id", "ts", "event_id")
        q = run_stream_to_parquet(
            stream_interval_join(
                purchases, clicks, lookback="30 minutes",
                watermark="2 minutes",
            ),
            out, ckpt,
        )
        q.awaitTermination(120)

    _land_interval_events(str(src), batch1, "batch1")
    run()
    _land_interval_events(str(src), batch2, "batch2")
    run()
    _land_interval_events(str(src), batch3, "batch3")
    run()
    got = sorted(
        (r["event_id"], r["r_event_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert (5, 4) not in got, "late click must be dropped at the watermark"
    assert (2, 1) in got and (7, 6) in got


def test_stream_index_dedup_stateless_across_batches(spark, tmp_path):
    """Stream-static exact-dup gate: re-crawls of indexed content flag
    is_known in EVERY micro-batch (no state involved), fresh content never
    does, and an idle re-run appends nothing (exactly-once sink)."""
    import pandas as pd

    from kg.streaming import run_stream_to_parquet, stream_index_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (tmp_path / "src").mkdir()

    index = spark.createDataFrame(
        [("the quick brown fox",)], ["text"]
    ).selectExpr("md5(trim(regexp_replace(lower(text), '\\\\s+', ' '))) AS text_hash")

    def land(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{src}/{name}.parquet", index=False
        )

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = run_stream_to_parquet(
            stream_index_dedup(stream, index, keep_cols=("doc_id",)),
            out, ckpt,
        )
        q.awaitTermination(120)

    land("b1", [(1, "The  quick BROWN fox"), (2, "something new entirely")])
    run()
    land("b2", [(3, "the quick brown fox"), (4, "another fresh doc")])
    run()
    run()  # idle re-run: nothing new lands, nothing new appends
    got = {r.doc_id: r.is_known for r in spark.read.parquet(out).collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


class TestStreamFactMerge:
    def test_fold_replay_idempotent_and_equals_batch(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from kg.graphstats import fact_evidence
        from kg.stages.link import link_triples
        from kg.stages.triples import extract_triples_from_pages
        from kg.streaming import read_fact_store, stream_fact_merge

        pages = spark.read.parquet("fixtures/pages_tiny.parquet")
        half = F.abs(F.xxhash64("url")) % 2
        alias_dim = spark.read.parquet("fixtures/alias_dict.parquet")
        store = str(tmp_path / "store")
        fold = stream_fact_merge(alias_dim, store, max_urls=8)
        b0, b1 = pages.where(half == 0), pages.where(half == 1)
        fold(b0, 0)
        fold(b1, 1)
        # replay epoch 1 (foreachBatch at-least-once): store unchanged
        first = sorted(map(tuple, read_fact_store(spark, store).collect()))
        fold(b1, 1)
        again = sorted(map(tuple, read_fact_store(spark, store).collect()))
        assert first == again
        # merged streaming store == batch recompute over all pages
        linked = (
            link_triples(extract_triples_from_pages(pages), alias_dim)
            .withColumn("subj_id", F.col("subj_id").cast("long"))
            .withColumn("obj_id", F.col("obj_id").cast("long"))
            .join(pages.select("url", "warc_ts"), "url")
        )
        batch = sorted(
            map(tuple, fact_evidence(linked, max_urls=8).collect())
        )
        assert first == batch and len(batch) > 0


class TestStreamHLL:
    def test_merged_equals_batch_and_replay_idempotent(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from kg.ops.sketch import hll_distinct
        from kg.streaming import read_hll_store, stream_hll_merge

        docs = spark.createDataFrame(
            [(i, f"text-{i % 700}", "en") for i in range(2000)],
            "doc_id long, text string, lang string",
        )
        store = str(tmp_path / "hll_store")
        fold = stream_hll_merge(store, ["lang"], "text", p=8)
        # three disjoint "micro-batches"
        for epoch in range(3):
            fold(docs.where(F.pmod("doc_id", F.lit(3)) == epoch), epoch)
        merged = sorted(
            map(tuple, read_hll_store(spark, store, ["lang"], p=8).collect())
        )
        batch = sorted(map(tuple, hll_distinct(docs, ["lang"], "text", p=8).collect()))
        assert merged == batch
        # replay the LAST epoch (the Structured Streaming retry contract):
        # register max is idempotent -> same store state, same estimate
        fold(docs.where(F.pmod("doc_id", F.lit(3)) == 2), 2)
        again = sorted(
            map(tuple, read_hll_store(spark, store, ["lang"], p=8).collect())
        )
        assert again == merged

    def test_duplicated_batch_does_not_inflate(self, spark, tmp_path):
        from kg.streaming import read_hll_store, stream_hll_merge

        docs = spark.createDataFrame(
            [(i, f"t{i}", "en") for i in range(500)],
            "doc_id long, text string, lang string",
        )
        store = str(tmp_path / "hll_store2")
        fold = stream_hll_merge(store, ["lang"], "text", p=8)
        fold(docs, 0)
        est0 = read_hll_store(spark, store, ["lang"], p=8).first()[
            "est_distinct"
        ]
        # the SAME rows land again as a later epoch (an upstream
        # duplication, not a retry): idempotent max absorbs them
        fold(docs, 1)
        est1 = read_hll_store(spark, store, ["lang"], p=8).first()[
            "est_distinct"
        ]
        assert est0 == est1
