"""The manifest warehouse's metadata path runs no Spark job: reads take
each snapshot group's schema from its parquet footer instead of an
inference job, pipeline counts come from the manifest, and a tick leaves
no cached blocks behind. Job counts are exact: the DAG scheduler's next
job id, read before and after."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import storage
from _event_intelligence_data_warehouse_spark.plans import facts, pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.events_adapter import (
    events_as_raw,
)
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _mwh(spark, tmp_path, name="mwh"):
    return Warehouse(spark, str(tmp_path / name))


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("int").alias("grp"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        F.col("id").cast("decimal(10,2)").alias("price"),
        F.current_timestamp().alias("ts"),
    )


def _snapshot(df):
    return df.schema, sorted(df.collect(), key=repr)


def _footer_read_matches_inference(wh, table, monkeypatch):
    """Assert ``wh.read(table)`` gives the same schema and rows with the
    footer schema as with forced inference; return whether any group's
    schema actually came from a footer."""
    real = storage.footer_spark_schema
    hits = []

    def counting(path):
        schema = real(path)
        hits.append(schema is not None)
        return schema

    monkeypatch.setattr(storage, "footer_spark_schema", counting)
    footer = _snapshot(wh.read(table))
    monkeypatch.setattr(storage, "footer_spark_schema", lambda path: None)
    inferred = _snapshot(wh.read(table))
    monkeypatch.setattr(storage, "footer_spark_schema", real)
    assert footer[0] == inferred[0], table
    assert footer[1] == inferred[1], table
    return any(hits)


def test_footer_schema_read_matches_inference_on_pipeline_tables(
    spark, tmp_path, monkeypatch
):
    """Every table of a two-run dirty-sample manifest pipeline, including
    the partitioned fact table."""
    whdir = str(tmp_path / "wh")
    argv = ["--source", "csv", "--generate-sample", "--dirty", "--manifest"]
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        argv + ["--sample-rows", "120"]))
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        argv + ["--sample-rows", "200"]))
    wh = Warehouse(spark, whdir)
    tables = sorted(
        t for t in os.listdir(whdir)
        if os.path.isdir(os.path.join(whdir, t, "_manifests"))
    )
    assert {"raw_events", "fact_events", "quality_log",
            "dim_venue"} <= set(tables)
    assert wh._manifest("fact_events")["partition_col"] == "p_bucket"
    for t in tables:
        assert _footer_read_matches_inference(wh, t, monkeypatch), t


def test_footer_schema_read_after_schema_evolution(spark, tmp_path,
                                                   monkeypatch):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _frame(spark, 0, 20))
    wh.evolve_schema("t", rename={"s": "label"},
                     add={"flag": ("boolean", "true")})
    wh.append("t", _frame(spark, 20, 30).withColumnRenamed("s", "label")
              .withColumn("flag", F.lit(False)))
    df = wh.read("t")
    assert "label" in df.columns and "s" not in df.columns
    assert _footer_read_matches_inference(wh, "t", monkeypatch)


def test_footer_schema_read_of_shallow_clone(spark, tmp_path, monkeypatch):
    wh = _mwh(spark, tmp_path)
    wh.append("src", _frame(spark, 0, 15))
    wh.append("src", _frame(spark, 15, 25))
    wh.clone("src", "dst")
    wh.append("dst", _frame(spark, 25, 30))
    assert wh.read("dst").count() == 30
    assert _footer_read_matches_inference(wh, "dst", monkeypatch)


def test_footer_schema_read_with_deletion_vectors(spark, tmp_path,
                                                  monkeypatch):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _frame(spark, 0, 40))
    wh.append("t", _frame(spark, 40, 60))
    wh.delete_where("t", [("grp", "==", 3)], mode="dv")
    assert wh._manifest("t").get("dv_files")
    assert wh.read("t").count() == 48
    assert _footer_read_matches_inference(wh, "t", monkeypatch)


def test_footer_schema_read_of_legacy_adopted_table(spark, tmp_path,
                                                    monkeypatch):
    """Adoption reads a pre-manifest table's files with mergeSchema
    (they come from many writes) and rewrites them into one snapshot;
    that snapshot and later ones read their footers."""
    root = str(tmp_path / "legacy")
    # two plain parquet appends, the pre-manifest layout; neither write's
    # schema contains the other's: no single footer holds the merged
    # schema
    for df in (_frame(spark, 0, 10).withColumn("a", F.lit(1)),
               _frame(spark, 10, 20).withColumn("b", F.lit(2))):
        df.write.mode("append").parquet(os.path.join(root, "t"))
    wh = Warehouse(spark, root)
    assert {"a", "b"} <= set(wh.read("t").columns)
    wh.append("t", _frame(spark, 20, 25).withColumn("a", F.lit(3))
              .withColumn("b", F.lit(4)))
    assert _footer_read_matches_inference(wh, "t", monkeypatch)


def test_footer_schema_is_none_without_spark_key(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert storage.footer_spark_schema(path) is None
    assert storage.footer_spark_schema(str(tmp_path / "missing")) is None


def test_manifest_read_submits_no_job(spark, tmp_path, monkeypatch):
    """Structural gate: reading a manifest table of three snapshot groups
    resolves its schema in-process, so no Spark job is submitted.
    Forced inference submits one job per group."""
    wh = _mwh(spark, tmp_path)
    for lo in (0, 10, 20):
        wh.append("t", _frame(spark, lo, lo + 10))
    groups = {f.split(os.sep)[1] for f in wh._manifest("t")["files"]}
    assert len(groups) >= 3
    j0 = _jobs(spark)
    df = wh.read("t")
    assert _jobs(spark) - j0 == 0
    assert df.count() == 30
    monkeypatch.setattr(storage, "footer_spark_schema", lambda path: None)
    j0 = _jobs(spark)
    wh.read("t")
    assert _jobs(spark) - j0 >= len(groups)


def _step_jobs(spark, monkeypatch) -> dict[str, int]:
    """Jobs of each pipeline step in the runs that follow, by step: the
    transform-and-load, the quality step, and the KPIs plus summary."""
    jobs = {}
    for step, key in (("step_transform_and_load", "load"),
                      ("step_quality", "quality"),
                      ("step_kpis", "kpis"), ("summary", "kpis")):
        def counted(*args, _real=getattr(pipeline, step), _key=key,
                    **kwargs):
            j0 = _jobs(spark)
            try:
                return _real(*args, **kwargs)
            finally:
                jobs[_key] = jobs.get(_key, 0) + _jobs(spark) - j0
        monkeypatch.setattr(pipeline, step, counted)
    return jobs


def test_noop_tick_job_count(spark, tmp_path, monkeypatch):
    """Structural gate: a scheduler tick that finds nothing new on a small
    manifest warehouse submits exactly 1 job, the quality step's
    ``quality_log`` append: the five checks fold the counters of the
    commits since the last run, and there are none. Finding no bronze
    file appended since the watermark, reads, KPI view registration and
    the summary counts submit none. With schema inference on every read,
    per-check quality plans and counted summaries, the same tick
    submitted 58, and more on every later tick as snapshot groups
    accumulated; with an ``isEmpty`` probe of the unprocessed bronze rows
    it submitted 13; with the quality checks rescanning bronze and the
    fact table joined to four dimensions, 12."""
    whdir = str(tmp_path / "wh")
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        ["--source", "csv", "--generate-sample", "--sample-rows", "60",
         "--manifest"]))
    noop = pipeline.parse_args(["--skip-ingest", "--manifest"])
    steps = _step_jobs(spark, monkeypatch)
    j0 = _jobs(spark)
    res = pipeline.run_pipeline(spark, whdir, noop)
    assert _jobs(spark) - j0 == 1
    assert steps == {"load": 0, "quality": 1, "kpis": 0}
    assert res["load"] == {"staged": 0}
    assert res["summary"]["fact_events"] == 60


def _stream_events(spark, lo, hi):
    """Driver-shaped events whose dimension members repeat every 30 ids:
    5 dates, 3 categories, 10 venues, one source."""
    return events_as_raw(spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704110400) + (F.col("id") % 5) * 86400)
        .alias("ts"),
        (F.col("id") % 10).alias("user_id"),
        F.element_at(F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                     (F.col("id") % 3 + 1).cast("int")).alias("event_type"),
        (F.col("id") + 10).cast("double").alias("value"),
        F.lit('{"k": 1}').alias("props"),
    ))


def test_load_tick_job_count(spark, tmp_path, monkeypatch):
    """Structural gate: a load tick whose batch adds no dimension member
    (20 new events on a 60-event manifest warehouse) submits exactly 5
    jobs to land the batch and 8 to run the pipeline: 7 to transform and
    load (3 for the one aggregate over the staged batch: size, fact keys,
    touched fact buckets and the dimension probe; 1 for the scan that
    finds none of the keys in the fact table; 3 for the fact write, which
    appends the new keys: one broadcast of the four dimensions that all
    four joins share, the surrogate-key window and the write) and 1 for
    the quality step's ``quality_log`` append, which folds the counters
    the landing and the upsert observed. KPIs and the summary submit
    none. No dimension and no fact bucket is rewritten; the surrogate-key
    base comes from the manifest; the batch is key-unique, so it is not
    deduplicated, and it is not cached. Before, the same tick submitted
    11 and 77: two counts while landing, four dimension overwrites, a
    three-join upsert, a bucket collect and a max(event_sk) aggregate;
    then 5 and 30, with an ``isEmpty`` probe of the unprocessed bronze
    rows; then 5 and 29, with 12 jobs of quality checks rescanning bronze
    and the fact table; then 5 and 18, with every touched bucket read,
    merged in a full outer join and rewritten (13 jobs); then 5 and 13,
    with a job to fill the staged batch's cache, a batch dedup shuffle
    and one broadcast per dimension (12 jobs to transform and load)."""
    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    args = pipeline.parse_args(["--skip-ingest", "--manifest"])
    bronze.land_batch(wh, _stream_events(spark, 0, 60), source="stream")
    pipeline.run_pipeline(spark, whdir, args)
    versions = {t: wh._current_version(t)
                for t in ("dim_date", "dim_venue", "dim_category",
                          "dim_source")}
    steps = _step_jobs(spark, monkeypatch)
    j0 = _jobs(spark)
    bronze.land_batch(wh, _stream_events(spark, 60, 80), source="stream")
    j1 = _jobs(spark)
    res = pipeline.run_pipeline(spark, whdir, args)
    j2 = _jobs(spark)
    assert res["load"] == {"staged": 20}
    assert res["summary"]["fact_events"] == 80
    assert {t: wh._current_version(t) for t in versions} == versions
    assert (j1 - j0, j2 - j1) == (5, 8)
    assert steps == {"load": 7, "quality": 1, "kpis": 0}


def test_cold_load_job_count(spark, tmp_path, monkeypatch):
    """Structural gate: the first land of 60 events into a fresh warehouse
    submits exactly 5 jobs, and the first ``run_pipeline`` creates the
    four dimensions and the fact table in 33 or 34 jobs (ten fresh-JVM
    runs), then folds the quality checks from the empty state in exactly
    1 (every commit carries counters); KPIs and the summary submit none.
    The creating writes' count is not exact: adaptive execution plans
    them by which of their stages finish first. With the staged batch
    cached, deduplicated and joined through one broadcast per dimension,
    the load took 41 to 44 (bound 45), three jobs more than the 41 its
    fresh-JVM runs showed, so the bound allows two over the highest
    count seen. With the quality checks rescanning bronze and the fact
    table, the run submitted 53 to 55 (12 of them quality)."""
    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    steps = _step_jobs(spark, monkeypatch)
    j0 = _jobs(spark)
    bronze.land_batch(wh, _stream_events(spark, 0, 60), source="stream")
    j1 = _jobs(spark)
    res = pipeline.run_pipeline(
        spark, whdir, pipeline.parse_args(["--skip-ingest"]))
    j2 = _jobs(spark)
    assert res["summary"]["fact_events"] == 60
    assert j1 - j0 == 5
    assert (steps["quality"], steps["kpis"]) == (1, 0)
    assert steps["load"] <= 36
    assert j2 - j1 == steps["load"] + 1


def test_load_reads_rows_committed_out_of_ingested_at_order(spark, tmp_path):
    """Bronze rows become visible in commit order, and a lander stamps
    ingested_at before it commits: a batch stamped earlier than one
    already loaded is still loaded."""
    from datetime import datetime

    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    args = pipeline.parse_args(["--skip-ingest"])
    bronze.land_batch(wh, _stream_events(spark, 0, 20), source="stream",
                      ingested_at=datetime(2025, 1, 2))
    pipeline.run_pipeline(spark, whdir, args)
    bronze.land_batch(wh, _stream_events(spark, 20, 40), source="stream",
                      ingested_at=datetime(2025, 1, 1))
    res = pipeline.run_pipeline(spark, whdir, args)
    assert res["load"] == {"staged": 20}
    assert res["summary"]["raw_events"] == 40
    assert res["summary"]["fact_events"] == 40


def test_load_resumes_once_from_an_ingested_at_watermark(spark, tmp_path):
    """A warehouse whose watermark is still an ingested_at timestamp loads
    the rows past it once, then continues from the bronze version."""
    from datetime import datetime

    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    args = pipeline.parse_args(["--skip-ingest"])
    for lo, day in ((0, 1), (20, 3)):
        bronze.land_batch(wh, _stream_events(spark, lo, lo + 20),
                          source="stream", ingested_at=datetime(2025, 1, day))
    wh.set_watermark(pipeline.WATERMARK, "2025-01-02 00:00:00")
    assert pipeline.run_pipeline(spark, whdir, args)["load"] == {"staged": 20}
    assert wh.get_watermark(pipeline.WATERMARK) == wh._current_version(
        bronze.RAW_TABLE)
    bronze.land_batch(wh, _stream_events(spark, 40, 50), source="stream",
                      ingested_at=datetime(2025, 1, 1))
    res = pipeline.run_pipeline(spark, whdir, args)
    assert res["load"] == {"staged": 10}
    assert res["summary"]["fact_events"] == 30


def test_summary_counts_from_manifest_match_count(spark, tmp_path):
    """Manifest-served counts equal real counts, and a table with deletion
    vectors (whose file row counts overstate it) falls back to count()."""
    whdir = str(tmp_path / "wh")
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        ["--source", "csv", "--generate-sample", "--sample-rows", "40",
         "--manifest"]))
    wh = Warehouse(spark, whdir)
    wh.delete_where("raw_events", [("raw_event_id", "==", "MOCK_00003")],
                    mode="dv")
    got = pipeline.summary(wh)
    want = {t: wh.read(t).count() for t in got}
    assert got == want
    assert got["raw_events"] == 39


def test_pipeline_leaves_no_cached_blocks(spark, tmp_path):
    """A manifest-mode run, loading ticks included, releases every block
    it cached: storage memory returns to where it was."""
    before = _cached_rdd_ids(spark)
    whdir = str(tmp_path / "wh")
    argv = ["--source", "csv", "--generate-sample", "--manifest"]
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        argv + ["--sample-rows", "50"]))
    pipeline.run_pipeline(spark, whdir, pipeline.parse_args(
        argv + ["--sample-rows", "80"]))
    assert _cached_rdd_ids(spark) - before == set()


def test_failed_upsert_releases_staged_cache(spark, tmp_path, monkeypatch):
    """A failed fact upsert leaves neither the cached staging batch nor an
    advanced watermark behind."""
    def boom(*args, **kwargs):
        raise RuntimeError("upsert failed")

    wh = _mwh(spark, tmp_path)
    bronze.land_batch(wh, generate_sample_events(spark, 30), source="csv")
    monkeypatch.setattr(facts, "upsert_facts_partitioned", boom)
    before = _cached_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="upsert failed"):
        pipeline.step_transform_and_load(wh, spark)
    assert _cached_rdd_ids(spark) - before == set()
    assert wh.get_watermark(pipeline.WATERMARK) is None


def test_small_sizes_manifest_tables(spark, tmp_path, monkeypatch):
    """bronze._small sees a manifest table's bytes: its files live under
    data/s*/, not at the table root."""
    wh = _mwh(spark, tmp_path)
    assert bronze._small(wh, "raw_events")  # no table yet
    wh.append("raw_events", _frame(spark, 0, 10))
    live = wh.file_stats("raw_events")[1]
    assert live > 0
    monkeypatch.setattr(bronze, "BROADCAST_KEYS_MAX_BYTES", live)
    assert not bronze._small(wh, "raw_events")
    monkeypatch.setattr(bronze, "BROADCAST_KEYS_MAX_BYTES", live + 1)
    assert bronze._small(wh, "raw_events")
