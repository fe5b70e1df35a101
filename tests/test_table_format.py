"""One table format: every table commits through its manifest.

A warehouse that the pipeline wrote before manifests existed (plain
parquet files per table, the fact table ``p_bucket=``-partitioned) is
adopted on first access: each table's files are rewritten into one
snapshot, and the old files are vacuumed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse


def test_warehouse_without_manifest_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="removed"):
        Warehouse(spark, str(tmp_path / "wh"), manifest=False)


def _write_old_layout(spark, src: str, dst: str) -> list[str]:
    """Copy warehouse ``src`` to ``dst`` as the pre-manifest layout: each
    table's image written with a plain ``df.write.parquet``, partitioned
    as its manifest records; ``_meta`` (watermarks) copied as is."""
    wh = Warehouse(spark, src)
    tables = sorted(t for t in os.listdir(src) if t != "_meta")
    for t in tables:
        w = wh.read(t).write
        pcol = wh._manifest(t)["partition_col"]
        if pcol is not None:
            w = w.partitionBy(pcol)
        w.parquet(os.path.join(dst, t))
    shutil.copytree(os.path.join(src, "_meta"), os.path.join(dst, "_meta"))
    return tables


def _tick(spark, root: str) -> dict:
    wh = Warehouse(spark, root)
    batch = generate_sample_events(spark, 20).withColumn(
        "event_id", F.concat(F.lit("T_"), F.col("event_id"))
    )
    bronze.land_batch(wh, batch, source="csv",
                      ingested_at=dt.datetime(2030, 1, 1))
    return pipeline.run_pipeline(
        spark, root, pipeline.parse_args(["--skip-ingest"])
    )["summary"]


def test_old_layout_warehouse_is_adopted(spark, tmp_path):
    new = str(tmp_path / "new")
    old = str(tmp_path / "old")
    pipeline.run_pipeline(spark, new, pipeline.parse_args(
        ["--source", "csv", "--generate-sample", "--sample-rows", "60"]
    ))
    tables = _write_old_layout(spark, new, old)
    assert {"raw_events", "fact_events", "dim_venue"} <= set(tables)
    assert not os.path.isdir(os.path.join(old, "fact_events", "_manifests"))

    # the same tick on the manifest warehouse and on the adopted one
    assert _tick(spark, old) == _tick(spark, new)

    wh = Warehouse(spark, old)
    for t in tables:
        m = wh._manifest(t)
        assert m["files"], t
        assert all(f.split(os.sep)[0] == "data" and
                   f.split(os.sep)[1].startswith("s") for f in m["files"]), t
        base = wh.path(t)
        on_disk = {
            os.path.relpath(os.path.join(r, f), base)
            for r, _d, fs in os.walk(base) for f in fs
            if f.endswith(".parquet")
        }
        assert all(f.startswith("data" + os.sep) for f in on_disk), (
            t, "an old-layout file outlived adoption")

    n = wh.read("fact_events").count()
    sk = wh.read("fact_events").agg(F.min("event_sk")).first()[0]
    res = wh.delete_where("fact_events", [("event_sk", "==", sk)], mode="dv")
    assert res["rows_deleted"] == 1
    assert wh.read("fact_events").count() == n - 1


def test_manifest_listing_old_layout_files_is_upgraded(spark, tmp_path):
    """A manifest that lists old-layout files (how an earlier release
    adopted a table, without rewriting it) is upgraded on first access:
    those files are rewritten into a snapshot, and snapshot files the
    manifest already lists are kept as they are."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = wh.path("t")
    spark.range(0, 10).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p").parquet(base)
    old = sorted(
        os.path.relpath(os.path.join(r, f), base)
        for r, _d, fs in os.walk(base) for f in fs if f.endswith(".parquet")
    )
    kept = wh._write_snapshot(
        "t", spark.range(10, 14).selectExpr("id", "id % 2 AS p"), "p")
    wh._publish("t", old + kept, "p", "adopt_legacy")

    assert sorted(r.id for r in wh.read("t").collect()) == list(range(14))
    files = wh._manifest("t")["files"]
    assert all(f.split(os.sep)[0] == "data" for f in files)
    assert set(kept) <= set(files)
    assert not any(os.path.exists(os.path.join(base, f)) for f in old)
