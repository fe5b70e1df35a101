"""The fact load appends a batch's new keys and rewrites only the buckets
that hold an updated key (or reached the file bound). Whatever it writes,
the fact image after each load must equal ``upsert_facts`` applied to the
whole previous image, the semantics of rewriting every touched bucket,
kept here as the reference."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse
from _event_intelligence_data_warehouse_spark.streaming import jobs

FACT = "fact_events"
_COLS = [f.name for f in schemas.FACT_EVENTS.fields if f.name != "loaded_at"]


def _batch(spark, lo, hi, **cols):
    """Sample events ``MOCK_<lo>`` .. ``MOCK_<hi - 1>``, with ``cols``
    replacing columns."""
    df = generate_sample_events(spark, hi).filter(
        F.col("event_id") >= f"MOCK_{lo:05d}")
    for name, value in cols.items():
        df = df.withColumn(name, value)
    return df


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.select(_COLS).collect()), key=repr)


def _checked_upsert(spark, monkeypatch, results: list):
    """Wrap ``upsert_facts_partitioned`` so each call records the image
    it wrote next to ``upsert_facts`` over the whole previous image."""
    real = facts_mod.upsert_facts_partitioned

    def checked(wh, incoming, **kwargs):
        if wh.exists(FACT):
            prev = wh.read(FACT).drop(facts_mod.FACT_PART_COL)
            prev = spark.createDataFrame(prev.collect(), prev.schema)
        else:
            prev = spark.createDataFrame([], schemas.FACT_EVENTS)
        out = real(wh, incoming, **kwargs)
        want = _rows(facts_mod.upsert_facts(prev, incoming))
        got = wh.read(FACT)
        sks = [r[0] for r in got.select("event_sk").collect()]
        q = wh.last_commit(FACT)["meta"]["quality"]
        results.append({"equal": _rows(got) == want,
                        "unique": len(sks) == len(set(sks)),
                        "replaced": sorted(q["buckets"]),
                        "added": sorted(q["added"])})
        return out

    monkeypatch.setattr(facts_mod, "upsert_facts_partitioned", checked)


def _max_files(wh) -> int:
    return max(p["files"] for p in wh.partition_profile(FACT))


def test_fact_image_matches_whole_image_upsert(spark, tmp_path, monkeypatch):
    """New keys; re-landed keys with changed attributes (a plain append to
    ``raw_events``, which skips the landing's dedup); NULL-``raw_event_id``
    rows; a stream merge that re-processes every bronze row; and insert
    ticks that cross the file bound. After every load the image equals
    the reference in every column but ``loaded_at``, and ``event_sk`` is
    unique."""
    k = 3
    monkeypatch.setattr(facts_mod, "FACT_BUCKET_MAX_FILES", k)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    results: list[dict] = []
    _checked_upsert(spark, monkeypatch, results)

    def load(name, *lands):
        for source, batch in lands:
            bronze.land_batch(wh, batch, source=source)
        n = len(results)
        pipeline.step_transform_and_load(wh, spark)
        got = results[n:]
        assert got and all(r["equal"] and r["unique"] for r in got), (
            name, got)
        assert _max_files(wh) <= k, name
        return got

    load("cold", ("csv", _batch(spark, 0, 60)))
    [new] = load("new", ("csv", _batch(spark, 60, 100)))
    assert new["added"] and not new["replaced"]

    relanded = wh.read("raw_events").filter(
        F.col("raw_event_id").between("MOCK_00010", "MOCK_00019")
    ).withColumn("status", F.lit("cancelled")).withColumn(
        "event_name", F.concat(F.col("event_name"), F.lit(" Moved"))
    ).withColumn("ingested_at", F.lit(datetime(2030, 1, 1)))
    wh.append("raw_events", relanded.select(
        [f.name for f in schemas.RAW_EVENTS.fields]))
    [upd] = load("relanded")
    assert upd["replaced"]
    moved = wh.read(FACT).filter(F.col("event_name").endswith(" Moved"))
    assert moved.count() == 10
    assert {r[0] for r in moved.select("event_status").collect()} == {
        "cancelled"}

    nulls = _batch(spark, 0, 2, event_id=F.lit(None).cast("string"))
    load("null_ids", ("csv", _batch(spark, 100, 110).unionByName(nulls)),
         ("api", nulls))
    assert wh.read(FACT).filter(F.col("event_nk").isNull()).count() == 2

    bronze.land_batch(wh, _batch(spark, 110, 120), source="csv")
    n = len(results)
    # a stream that starts at bronze version 0 re-merges every key
    wh.set_watermark(jobs.STREAM_WATERMARK, 0)
    jobs.stream_facts_from_bronze(spark, wh)
    streamed = results[n:]
    assert streamed and all(r["equal"] and r["unique"] for r in streamed)
    assert any(r["replaced"] for r in streamed)
    load("after_stream")

    crossed = False
    for t in range(4):
        lo = 120 + 20 * t
        [ins] = load(f"insert{t}", ("csv", _batch(spark, lo, lo + 20)))
        crossed |= bool(ins["replaced"])
    assert crossed, "no insert-only load reached the file bound"
    sks = [r[0] for r in wh.read(FACT).select("event_sk").collect()]
    assert len(sks) == len(set(sks))


def test_pipeline_fact_write_goes_through_public_writes(
    spark, tmp_path, monkeypatch,
):
    """The pipeline's fact write goes through ``Warehouse.append`` or
    ``Warehouse.overwrite_partitions``, the methods a write tracer wraps
    from outside (perfbench's ``storage.write`` layer and its
    ``rows_rewritten_per_row_loaded`` counter). A write committed through
    a private method would read as 0 there."""
    calls: list[tuple[str, str]] = []
    for name in ("append", "overwrite_partitions"):
        def wrapped(self, table, *args, _real=getattr(Warehouse, name),
                    _name=name, **kwargs):
            calls.append((_name, table))
            return _real(self, table, *args, **kwargs)
        monkeypatch.setattr(Warehouse, name, wrapped)
    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    args = pipeline.parse_args(["--skip-ingest"])
    for lo, hi in ((0, 40), (40, 60)):
        bronze.land_batch(wh, _batch(spark, lo, hi), source="csv")
        n = len(calls)
        res = pipeline.run_pipeline(spark, whdir, args)
        assert res["load"] == {"staged": hi - lo}
        assert [c for c in calls[n:] if c[1] == FACT] == [
            ("overwrite_partitions", FACT)]
