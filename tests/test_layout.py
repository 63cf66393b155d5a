"""Storage-layout operators (kg/ops/layout.py): Morton interleave,
Z-order file layout and its data-skipping advantage, compaction
planning."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.ops.layout import compaction_plan, zorder_key, zorder_layout


class TestInterleave:
    def test_known_values(self, spark):
        df = spark.createDataFrame(
            [(0, 0), (3, 1), (1, 3), (31, 0), (0, 31)], "x long, y long"
        )
        got = {
            (r.x, r.y): r.zkey
            for r in zorder_key(df, "x", "y", bits=5).collect()
        }
        # bit i of x -> position 2i; bit i of y -> 2i+1
        assert got[(0, 0)] == 0
        assert got[(3, 1)] == 0b111          # x bits at 0,2; y bit at 1
        assert got[(1, 3)] == 0b1011         # x bit at 0; y bits at 1,3
        assert got[(31, 0)] == 0b0101010101  # all even positions
        assert got[(0, 31)] == 0b1010101010  # all odd positions

    def test_mask_wraps_out_of_range(self, spark):
        df = spark.createDataFrame([(5, 0)], "x long, y long")
        # bits=2: 5 = 0b101 masked to 0b01 -> zkey 1
        assert zorder_key(df, "x", "y", bits=2).collect()[0].zkey == 1

    def test_plan_is_jvm_only_no_shuffle(self, spark):
        df = spark.createDataFrame([(1, 2)], "x long, y long")
        p = (
            zorder_layout(df, "x", "y")
            ._jdf.queryExecution().executedPlan().toString()
        )
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "Exchange"):
            assert node not in p


class TestZorderSkipping:
    def test_box_query_prunes_more_than_linear_sort(self, spark):
        """32x32 grid, 64 files of 16 rows: a centered 8x8 box touches
        fewer Z-layout files than lexicographically-sorted files."""
        pts = spark.createDataFrame(
            [(x, y) for x in range(32) for y in range(32)],
            "x long, y long",
        )
        z = zorder_layout(pts, "x", "y", bits=5, n_files=64)
        zstats = {
            r.file_id: r
            for r in z.groupBy("file_id")
            .agg(F.min("x").alias("x0"), F.max("x").alias("x1"),
                 F.min("y").alias("y0"), F.max("y").alias("y1"))
            .collect()
        }
        rows = sorted(
            ((r.x, r.y) for r in pts.collect())
        )
        lin = {}
        for i, (x, y) in enumerate(rows):
            lin.setdefault(i // 16, []).append((x, y))

        def intersects(x0, x1, y0, y1):
            return not (x1 < 8 or x0 > 15 or y1 < 8 or y0 > 15)

        z_hit = sum(
            1 for r in zstats.values() if intersects(r.x0, r.x1, r.y0, r.y1)
        )
        lin_hit = sum(
            1
            for grp in lin.values()
            if intersects(
                min(p[0] for p in grp), max(p[0] for p in grp),
                min(p[1] for p in grp), max(p[1] for p in grp),
            )
        )
        # the aligned 8x8 quadrant is exactly 4 contiguous Z-files
        assert z_hit == 4
        assert lin_hit == 8
        assert z_hit < lin_hit


class TestCompactionPlan:
    def test_shard_sizes_and_order(self, spark):
        import hashlib

        files = spark.createDataFrame(
            [
                (i, 1 + int(hashlib.md5(f"f{i}".encode()).hexdigest()[:4],
                            16) % 5000)
                for i in range(200)
            ],
            "file_id long, size_bytes long",
        )
        plan = compaction_plan(files, target_bytes=20_000).collect()
        by_shard = {}
        max_file = 0
        for r in sorted(plan, key=lambda r: r.file_id):
            by_shard.setdefault(r.out_shard, []).append(r)
            max_file = max(max_file, r.size_bytes)
        shards = sorted(by_shard)
        assert shards == list(range(len(shards)))  # dense, monotone
        for s in shards[:-1]:
            total = sum(r.size_bytes for r in by_shard[s])
            assert 20_000 - max_file <= total <= 20_000 + max_file
        # files within a shard are contiguous in id order
        for s in shards:
            ids = [r.file_id for r in by_shard[s]]
            assert ids == list(range(min(ids), max(ids) + 1))


class TestFileSkipping:
    def _docs(self, spark):
        rows = [(i, i % 16, f"src{i % 20}") for i in range(320)]
        rows += [(900, 3, None), (901, 7, None)]
        return spark.createDataFrame(
            rows, "doc_id long, file int, source string"
        )

    def test_no_false_skips(self, spark):
        from kg.ops.layout import file_skipping_stats, scan_prune

        docs = self._docs(spark)
        stats = file_skipping_stats(docs, "file", "source", m_bits=256)
        for probe in ("src7", "src0", "src19"):
            kept = {
                r["file"]
                for r in scan_prune(stats, probe, m_bits=256).collect()
                if r["keep"]
            }
            truth = {
                r["file"]
                for r in docs.where(F.col("source") == probe)
                .select("file")
                .distinct()
                .collect()
            }
            # every file that truly contains the probe is kept
            assert truth <= kept

    def test_absent_value_prunes_everything(self, spark):
        from kg.ops.layout import file_skipping_stats, scan_prune

        docs = self._docs(spark)
        stats = file_skipping_stats(docs, "file", "source", m_bits=256)
        got = scan_prune(stats, "zzz-no-such-source", m_bits=256).collect()
        assert all(not r["keep"] for r in got)
        # 'zzz...' sorts above every src* value -> range_miss everywhere
        assert {r["reason"] for r in got} == {"range_miss"}

    def test_all_null_file_is_range_miss(self, spark):
        from kg.ops.layout import file_skipping_stats, scan_prune

        docs = spark.createDataFrame(
            [(1, 0, "a"), (2, 1, None)],
            "doc_id long, file int, source string",
        )
        stats = file_skipping_stats(docs, "file", "source", m_bits=256)
        got = {r["file"]: r for r in scan_prune(stats, "a", m_bits=256).collect()}
        assert got[0]["keep"] and got[0]["reason"] == "keep"
        assert not got[1]["keep"] and got[1]["reason"] == "range_miss"
        nulls = {
            r["file"]: r["n_nulls"]
            for r in stats.select("file", "n_nulls").collect()
        }
        assert nulls == {0: 0, 1: 1}

    def test_partition_invariant(self, spark):
        from kg.ops.layout import file_skipping_stats

        docs = self._docs(spark)
        one = sorted(
            map(
                tuple,
                file_skipping_stats(docs, "file", "source").collect(),
            )
        )
        two = sorted(
            map(
                tuple,
                file_skipping_stats(
                    docs.repartition(13), "file", "source"
                ).collect(),
            )
        )
        assert one == two
