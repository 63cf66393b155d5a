"""Checkpoint/lineage/resume semantics: kill-and-resume must reproduce the
exact same output (north rule: resumable from per-partition checkpoints)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kg import synth
from kg.checkpoint import CheckpointedPipeline, add_bucket
from kg.stages.mentions import detect_mentions, gazetteer_dim


@pytest.fixture()
def pages_sdf(spark, tmp_path):
    pdf = synth.gen_pages(120, seed=42)
    p = str(tmp_path / "pages.parquet")
    pdf.to_parquet(p, index=False)
    return spark.read.parquet(p)


def _rows(df):
    return sorted(map(tuple, df.drop("url_hash_bucket").toPandas().values.tolist()))


def test_stage_runs_and_is_idempotent(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "ckpt")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    fn = lambda df: detect_mentions(df, gaz, None).join(  # noqa: E731
        bucketed.select("url", "url_hash_bucket").distinct(), "url"
    )
    out1 = _rows(pipe.run_stage("mentions", bucketed, fn))
    assert pipe.completed_buckets("mentions") == set(range(8))

    # second run: nothing to do, identical output
    out2 = _rows(pipe.run_stage("mentions", bucketed, fn))
    assert out1 == out2


def test_kill_and_resume_reproduces_output(spark, pages_sdf, tmp_path):
    base_full = str(tmp_path / "full")
    base_killed = str(tmp_path / "killed")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    def fn(df):
        return detect_mentions(df, gaz, None).join(
            bucketed.select("url", "url_hash_bucket").distinct(), "url"
        )

    golden = _rows(
        CheckpointedPipeline(spark, base_full, n_buckets=8).run_stage(
            "mentions", bucketed, fn
        )
    )

    # simulate a killed run: only buckets 0-3 were processed and committed
    pipe1 = CheckpointedPipeline(spark, base_killed, n_buckets=8)
    half = bucketed.where(F.col("url_hash_bucket") < 4)
    pipe1.run_stage("mentions", half, fn)
    assert pipe1.completed_buckets("mentions") == {0, 1, 2, 3}

    # a NEW process resumes with the full input and the same config
    pipe2 = CheckpointedPipeline(spark, base_killed, n_buckets=8)
    resumed = _rows(pipe2.run_stage("mentions", bucketed, fn))
    assert resumed == golden
    assert pipe2.completed_buckets("mentions") == set(range(8))


def test_config_change_invalidates_checkpoints(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "cfg")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    fn = lambda df: detect_mentions(df, gaz, None)  # noqa: E731

    pipe_a = CheckpointedPipeline(spark, base, n_buckets=8, run_config={"v": 1})
    pipe_a.run_stage("mentions", bucketed, fn)
    pipe_b = CheckpointedPipeline(spark, base, n_buckets=8, run_config={"v": 2})
    assert pipe_b.completed_buckets("mentions") == set()


def test_fresh_base_skip_check_starts_no_job(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path / "fresh"), n_buckets=8)
    sc = spark.sparkContext
    group = "fresh-skip-check"
    sc.setJobGroup(group, "completed_buckets on a fresh base")
    try:
        assert pipe.completed_buckets("mentions") == set()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_lineage_and_metrics_written(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "lin")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    out = pipe.run_stage("mentions", bucketed, lambda df: detect_mentions(df, gaz, None))

    lineage = pipe.read_lineage().toPandas()
    assert len(lineage) == 8
    assert lineage["n_out"].sum() == out.count()
    assert (lineage["stage"] == "mentions").all()
    # wall time lives ONLY in metrics — per-bucket wall would be fiction
    assert "wall_ms" not in lineage.columns
    metrics = spark.read.parquet(str(Path(base) / "_metrics")).toPandas()
    assert metrics["n_rows_out"].iloc[0] == out.count()
    assert metrics["wall_ms"].iloc[0] > 0
    # O23: this stage fn does not sample peak_mb (capture_metrics), so its
    # peak memory is NULL, "not sampled"; test_errors.py pins the sampled path
    assert metrics["peak_mem_mb"].isna().all()


def _lineage_n_out(pipe, stage):
    rows = pipe.read_lineage().where(F.col("stage") == stage).collect()
    return {r["url_hash_bucket"]: r["n_out"] for r in rows}


def _bucket_counts(df):
    return {r[0]: r[1] for r in df.groupBy("url_hash_bucket").count().collect()}


def test_footer_counts_match_spark_counts(spark, pages_sdf, tmp_path):
    """Each bucket's lineage n_out, read from the parquet footers, equals
    Spark's count of the stage output, 0 included for a bucket whose input
    rows all drop out."""
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    assert 5 in _bucket_counts(bucketed)
    pipe = CheckpointedPipeline(spark, str(tmp_path / "cnt"), n_buckets=8)
    out = pipe.run_stage(
        "mentions", bucketed,
        lambda df: detect_mentions(df, gaz, None).join(
            df.select("url", "url_hash_bucket").where("url_hash_bucket != 5"),
            "url",
        ),
    )
    counts = _bucket_counts(out)
    assert 5 not in counts
    assert _lineage_n_out(pipe, "mentions") == {
        b: counts.get(b, 0) for b in range(8)
    }


def test_footer_counts_of_a_capture_stage_are_clean_rows(spark, pages_sdf,
                                                         tmp_path):
    from kg.stages.triples import detect_ner_mentions

    poison = spark.createDataFrame(
        [("poison://1", "some text", "tlh")],
        "url string, text string, lang string",
    )
    docs = pages_sdf.select("url", "text", "lang").where("lang = 'en'")
    bucketed = add_bucket(docs.unionByName(poison), 4)
    pipe = CheckpointedPipeline(spark, str(tmp_path / "cap"), n_buckets=4)
    out = pipe.run_stage(
        "ner", bucketed,
        lambda df: detect_ner_mentions(df, capture_errors=True).join(
            df.select("url", "url_hash_bucket"), "url"
        ),
    )
    assert pipe.read_errors().count() == 1
    counts = _bucket_counts(out)
    assert _lineage_n_out(pipe, "ner") == {b: counts.get(b, 0) for b in range(4)}


def test_leftover_commit_temp_files_are_ignored(spark, pages_sdf, tmp_path):
    """A crash mid-commit leaves a dot-prefixed file in _lineage, whole or
    cut short; neither commits a bucket."""
    import pyarrow.parquet as pq

    from kg.checkpoint import LINEAGE_SCHEMA
    from kg.session import arrow_table

    base = tmp_path / "crash"
    lineage = base / "_lineage"
    lineage.mkdir(parents=True)
    pipe = CheckpointedPipeline(spark, str(base), n_buckets=8)
    claimed = arrow_table(
        [("mentions", b, pipe.cfg_hash, "crashed", 1, None) for b in range(8)],
        LINEAGE_SCHEMA,
    )
    pq.write_table(claimed, lineage / ".part-whole.parquet.tmp")
    assert pipe.completed_buckets("mentions") == set()
    assert pipe.read_lineage().count() == 0

    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    pipe.run_stage(
        "mentions", bucketed.where(F.col("url_hash_bucket") < 4),
        lambda df: detect_mentions(df, gaz, None),
    )
    whole = (lineage / ".part-whole.parquet.tmp").read_bytes()
    (lineage / ".part-cut.parquet").write_bytes(whole[: len(whole) // 2])
    assert pipe.completed_buckets("mentions") == {0, 1, 2, 3}
    assert pipe.read_lineage().count() == 4


def test_lineage_mixing_spark_and_driver_files_reads_the_same(spark, pages_sdf,
                                                               tmp_path):
    """A _lineage that an older run appended with Spark and this one with
    driver-written files reads the same through Spark and pyarrow."""
    import datetime

    import pyarrow.dataset as ds

    from kg.checkpoint import LINEAGE_SCHEMA
    from kg.session import arrow_table, local_df

    base = tmp_path / "mixed"
    pipe = CheckpointedPipeline(spark, str(base), n_buckets=8)
    ts = datetime.datetime(2024, 5, 6, 7, 8, 9, tzinfo=datetime.timezone.utc)
    old = [("mentions", b, pipe.cfg_hash, "old", 10 + b, ts) for b in range(4)]
    local_df(spark, old, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(base / "_lineage"))
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    pipe.run_stage("mentions", bucketed, lambda df: detect_mentions(df, gaz, None))
    assert pipe.completed_buckets("mentions") == set(range(8))

    def key(r):
        # epoch seconds: Spark hands back naive local datetimes
        return (r["stage"], r["url_hash_bucket"], r["run_config_hash"],
                r["run_id"], r["n_out"], r["ts"].timestamp())

    by_spark = sorted(key(r) for r in pipe.read_lineage().collect())
    by_arrow = sorted(
        key(r)
        for r in ds.dataset(
            str(base / "_lineage"), format="parquet",
            schema=arrow_table([], LINEAGE_SCHEMA).schema,
        ).to_table().to_pylist()
    )
    assert by_spark == by_arrow
    assert len(by_spark) == 8
    assert {r[3] for r in by_spark} == {"old", pipe.run_id}


def _jobs_in_group(sc, group, action):
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_starts_no_job_after_the_write(spark, pages_sdf, tmp_path):
    """On a fresh base, run_stage's jobs are those of the todo-bucket scan
    and of the write: the counts, lineage, metrics and returned read are
    all driver-side."""
    import uuid

    sc = spark.sparkContext
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    def fn(df):
        return df.withColumn("n_chars", F.length("text"))

    tag = uuid.uuid4().hex[:8]
    pipe = CheckpointedPipeline(spark, str(tmp_path / "jobs"), n_buckets=8)
    staged = _jobs_in_group(
        sc, f"run-stage-{tag}", lambda: pipe.run_stage("s", bucketed, fn)
    )

    def scan_and_write():
        bucketed.select("url_hash_bucket").distinct().collect()
        fn(bucketed).write.partitionBy("url_hash_bucket").mode(
            "overwrite"
        ).parquet(str(tmp_path / "plain"))

    assert staged == _jobs_in_group(sc, f"scan-write-{tag}", scan_and_write)
    assert _lineage_n_out(pipe, "s") == _bucket_counts(pipe.read_stage("s"))


def test_stage_names_are_checked():
    import run_pipeline

    base = ["--pages", "p.parquet", "--out", "o"]
    default = run_pipeline.parse_args(base).stages
    assert default == set(run_pipeline.STAGES) - set(run_pipeline.OPT_IN)
    assert len(default) == 9
    args = run_pipeline.parse_args([*base, "--stages", "extract, links ,canon"])
    assert args.stages == {"extract", "links", "canon"}
    for bad in ("extract,linkz", "extract,,links"):
        with pytest.raises(SystemExit):
            run_pipeline.parse_args([*base, "--stages", bad])


def test_config_hash_covers_output_options():
    import run_pipeline
    from kg.checkpoint import config_hash

    base = ["--pages", "p.parquet", "--out", "o"]

    def cfg(*extra):
        return config_hash(run_pipeline.run_config(
            run_pipeline.parse_args([*base, *extra])
        ))

    plain = cfg()
    assert plain == cfg("--stages", "canon")
    for extra in (["--markup"], ["--coref"], ["--alias-dict", "a.parquet"],
                  ["--n-salts", "8"], ["--salted-linking"]):
        assert cfg(*extra) != plain, extra
