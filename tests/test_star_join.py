"""The fact load's star join joins the batch to one broadcast lookup of
the four dimension images, and a key-unique batch skips the batch dedup.
Both must give the fact rows of the star join they replaced: the batch
deduplicated, then one broadcast join per dimension, kept here as the
reference."""

from __future__ import annotations

import shutil
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.functions.keys import (
    event_nk,
    price_avg_expr,
    price_to_eur,
    venue_nk,
)
from _event_intelligence_data_warehouse_spark.operators.upsert import dedup_keys
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


def _four_broadcast_star(
    stg: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    *,
    loaded_at: Column,
) -> DataFrame:
    """The reference: dedup the batch on (source, raw_event_id), then
    LEFT join each dimension through its own broadcast."""
    batch = dedup_keys(
        stg,
        ["source", "raw_event_id"],
        [F.desc("ingested_at"), F.desc("ingest_id")],
    ).withColumn("_venue_nk", venue_nk("venue_name", "venue_city"))
    dd = F.broadcast(dim_date.select("date_id", "full_date"))
    dv = F.broadcast(
        dim_venue.filter(F.col("is_current")).select("venue_sk", "venue_nk")
    )
    dc = F.broadcast(dim_category.select(
        "category_sk", "category_name", F.col("subcategory").alias("_subcat")
    ))
    ds = F.broadcast(dim_source.select("source_sk", "source_name"))
    joined = (
        batch.join(dd, batch.event_date == dd.full_date, "left")
        .join(dv, batch._venue_nk == dv.venue_nk, "left")
        .join(dc, (batch.category == dc.category_name)
              & (batch.subcategory == dc._subcat), "left")
        .join(ds, batch.source == ds.source_name, "left")
    )
    return joined.select(
        event_nk("source", "raw_event_id").alias("event_nk"),
        F.col("date_id").cast("long"),
        F.col("venue_sk").cast("long"),
        F.col("category_sk").cast("long"),
        F.col("source_sk").cast("long"),
        F.col("event_name"),
        F.col("url").alias("event_url"),
        F.col("event_status"),
        F.col("price_min"),
        F.col("price_max"),
        price_avg_expr("price_min", "price_max").alias("price_avg"),
        F.col("currency"),
        price_to_eur("price_min", "currency").alias("price_min_eur"),
        F.col("ingested_at"),
        loaded_at.alias("loaded_at"),
        F.lit(False).alias("is_deleted"),
        F.col("ingest_id").alias("_ingest_id"),
    )


def _sorted(df: DataFrame) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _image(wh) -> list[tuple]:
    return _sorted(wh.read(FACT).select(_COLS))


def _events(spark, lo, hi, *, dirty=False, **cols):
    """Sample events ``MOCK_<lo>`` .. ``MOCK_<hi - 1>``, with ``cols``
    replacing columns."""
    df = generate_sample_events(spark, hi, dirty=dirty).filter(
        F.col("event_id") >= f"MOCK_{lo:05d}")
    for name, value in cols.items():
        df = df.withColumn(name, value)
    return df


def test_star_join_matches_four_broadcast_reference(
    spark, tmp_path, monkeypatch,
):
    """Over the dirty fixture mix, loaded by the pipeline and by the
    stream, every fact build equals the reference on the same inputs,
    and every fact image equals the one the reference makes from a copy
    of the same warehouse, in every column but ``loaded_at``. The mix
    holds malformed dates (NULL ``event_date``), NULL ``raw_event_id``
    rows, a venue whose old SCD2 version was closed, a venue, date and
    category no dimension holds yet (the stream does not add members),
    and one drain holding the same key twice."""
    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir)
    builds: list[bool] = []
    real_build = facts_mod.build_fact_rows

    def checked(stg, *dims, loaded_at):
        got = real_build(stg, *dims, loaded_at=loaded_at)
        want = _four_broadcast_star(stg, *dims, loaded_at=loaded_at)
        builds.append(_sorted(got.drop("loaded_at"))
                      == _sorted(want.drop("loaded_at")))
        return got

    monkeypatch.setattr(facts_mod, "build_fact_rows", checked)

    def load(name, drain):
        ref = str(tmp_path / f"ref_{name}")
        shutil.copytree(whdir, ref)
        n = len(builds)
        drain(wh)
        with monkeypatch.context() as m:
            m.setattr(facts_mod, "build_fact_rows", _four_broadcast_star)
            drain(Warehouse(spark, ref))
        assert builds[n:] and all(builds[n:]), name
        assert _image(wh) == _image(Warehouse(spark, ref)), name

    def pipeline_load(w):
        pipeline.step_transform_and_load(w, spark)

    def stream_load(w):
        jobs.stream_facts_from_bronze(spark, w)

    nulls = _events(spark, 0, 2, event_id=F.lit(None).cast("string"))
    bronze.land_batch(wh, _events(spark, 0, 120, dirty=True)
                      .unionByName(nulls), source="csv")
    bronze.land_batch(wh, nulls, source="api")
    load("cold", pipeline_load)
    fact = wh.read(FACT)
    assert fact.filter(F.col("event_nk").isNull()).count() == 2
    assert fact.filter(F.col("date_id").isNull()).count() > 0

    bronze.land_batch(wh, _events(spark, 120, 130, venue_lat=F.lit("1.5")),
                      source="csv")
    load("scd2", pipeline_load)
    venues = wh.read("dim_venue")
    closed = {r[0] for r in venues.filter(~F.col("is_current"))
              .select("venue_sk").collect()}
    assert closed, "no SCD2 version was closed"
    moved = {r[0] for r in wh.read(FACT).filter(
        F.col("event_nk").between("csv_MOCK_00120", "csv_MOCK_00129")
    ).select("venue_sk").collect()}
    assert moved and None not in moved and not moved & closed

    bronze.land_batch(wh, _events(
        spark, 130, 140, venue_name=F.lit("Nowhere Hall"),
        venue_city=F.lit("Atlantis"), event_date=F.lit("2031-02-03"),
        category=F.lit("Circus")), source="csv")
    load("unknown_members", stream_load)
    unknown = wh.read(FACT).filter(F.col("event_nk") >= "csv_MOCK_00130")
    assert unknown.count() == 10
    assert unknown.filter(F.col("venue_sk").isNull()
                          & F.col("date_id").isNull()
                          & F.col("category_sk").isNull()).count() == 10

    twice = wh.read(bronze.RAW_TABLE).filter(
        F.col("raw_event_id").between("MOCK_00010", "MOCK_00014")
    ).select([f.name for f in schemas.RAW_EVENTS.fields])
    for day in (1, 2):
        wh.append(bronze.RAW_TABLE, twice.withColumn(
            "event_name", F.lit(f"moved {day}")
        ).withColumn("ingested_at", F.lit(datetime(2030, 1, day))))
    load("twice", pipeline_load)
    moved = wh.read(FACT).filter(
        F.col("event_nk").between("csv_MOCK_00010", "csv_MOCK_00014"))
    assert {r[0] for r in moved.select("event_name").collect()} == {"Moved 2"}
