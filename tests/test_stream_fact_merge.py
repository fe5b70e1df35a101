"""Streaming bronze -> gold fact MERGE: each drain loads the bronze
commits made since its watermark through the pipeline's incremental load
(so only published, undeleted rows), idempotent via the event_nk upsert,
incremental for genuinely new keys. Also the file-stream MERGE into a
warehouse table (``stream_merge_into``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse
from _event_intelligence_data_warehouse_spark.streaming import jobs


def test_stream_fact_merge_is_incremental_and_idempotent(spark, tmp_path):
    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "120"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    n0 = wh.read("fact_events").count()
    assert n0 == 120

    # Drain 1 starts where the pipeline's load stopped: nothing to merge.
    jobs.stream_facts_from_bronze(spark, wh)
    assert wh.read("fact_events").count() == n0
    assert (wh.get_watermark(jobs.STREAM_WATERMARK)
            == wh.get_watermark(pipeline.WATERMARK))

    # Land a batch of genuinely new keys, drain again -> facts grow.
    fresh = generate_sample_events(spark, 30).withColumn(
        "event_id", F.concat(F.lit("S_"), F.col("event_id"))
    )
    bronze.land_batch(wh, fresh, source="csv")
    jobs.stream_facts_from_bronze(spark, wh)
    n1 = wh.read("fact_events").count()
    assert n1 == n0 + 30, "new bronze keys did not reach the fact table"

    # Drain 3 with no new bronze commit: the watermark processes nothing.
    jobs.stream_facts_from_bronze(spark, wh)
    assert wh.read("fact_events").count() == n1
    # surrogate keys stayed unique through the streaming merges
    sks = wh.read("fact_events").select("event_sk").collect()
    vals = [r[0] for r in sks]
    assert len(vals) == len(set(vals))
    # every drain that merged rows left a success row in the run log (S9
    # parity for the streaming path) and loaded counts are conserved
    stream_runs = (
        bronze.current_runs(wh)
        .filter(F.col("source") == "stream_fact_merge")
        .collect()
    )
    assert stream_runs and all(r["status"] == "success" for r in stream_runs)
    assert sum(r["records_loaded"] for r in stream_runs) == 30


def test_stream_fact_merge_skips_surrogate_key_probe(
    spark, tmp_path, monkeypatch
):
    """Each drain already counts its staged rows, an upper bound on its
    new keys, so it must pass the surrogate-key regime down instead of
    letting assign_surrogate_keys probe (persist + count) per batch."""
    from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod

    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "40"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)

    real_assign = facts_mod.assign_surrogate_keys
    seen = []

    def spy(*a, **kw):
        seen.append(kw.get("bulk"))
        return real_assign(*a, **kw)

    fresh = generate_sample_events(spark, 10).withColumn(
        "event_id", F.concat(F.lit("S_"), F.col("event_id"))
    )
    bronze.land_batch(wh, fresh, source="csv")
    monkeypatch.setattr(facts_mod, "assign_surrogate_keys", spy)
    jobs.stream_facts_from_bronze(spark, wh)
    assert seen, "the drain never reached the fact upsert"
    assert None not in seen, f"surrogate-key probe ran: bulk={seen}"
    assert wh.read("fact_events").count() == 50


def _drain_pipeline(spark, wh):
    pipeline.step_transform_and_load(wh, spark)


def _drain_stream(spark, wh):
    jobs.stream_facts_from_bronze(spark, wh)


@pytest.mark.parametrize("drain", [_drain_pipeline, _drain_stream],
                         ids=["pipeline", "stream"])
def test_stream_fact_merge_crash_restart_is_exactly_once(
    spark, tmp_path, monkeypatch, drain
):
    """Crash-injection for the incremental fact load of both entry
    points: kill the drain after its fact write lands but before its
    watermark advances (the worst-case crash point: data visible,
    progress not recorded), then drain again. The replay of the whole
    batch into the idempotent event_nk MERGE must yield exactly-once
    fact state: no lost row, no double-applied row, unique surrogate
    keys."""
    from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod

    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "120"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    n0 = wh.read("fact_events").count()
    drain(spark, wh)  # drain the backlog

    # Land 30 genuinely new keys as six separate bronze batches (six
    # bronze commits), which the next drain reads as one batch.
    import os

    raw_dir = wh.path(bronze.RAW_TABLE)

    def _n_files():
        return sum(
            1 for _, _, fs in os.walk(raw_dir)
            for f in fs if f.endswith(".parquet")
        )

    before_files = _n_files()
    base30 = generate_sample_events(spark, 30).withColumn(
        "event_id", F.concat(F.lit("C_"), F.col("event_id"))
    ).cache()
    for i in range(6):
        bronze.land_batch(
            wh, base30.filter(F.crc32(F.col("event_id")) % 6 == i),
            source="csv",
        )
    base30.unpersist()
    assert _n_files() - before_files >= 4, (
        "need several new bronze files"
    )

    real_upsert = facts_mod.upsert_facts_partitioned
    calls = {"n": 0}

    def crash_after_first_write(wh_, incoming, **kw):
        out = real_upsert(wh_, incoming, **kw)  # the write COMPLETES
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after batch write")
        return out

    monkeypatch.setattr(
        facts_mod, "upsert_facts_partitioned", crash_after_first_write
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        drain(spark, wh)
    assert calls["n"] == 1, "crash was injected after the fact write"
    mid = wh.read("fact_events").count()
    assert n0 <= mid <= n0 + 30, "mid-crash state outside replay envelope"
    if drain is _drain_stream:
        # the crashed drain left a failed row in the run log
        failed = (
            bronze.current_runs(wh)
            .filter((F.col("source") == "stream_fact_merge")
                    & (F.col("status") == "failed"))
            .count()
        )
        assert failed >= 1

    # Restart with the crash removed: the batch whose watermark never
    # advanced replays (idempotently), and the fact table converges to
    # exactly-once state.
    monkeypatch.setattr(facts_mod, "upsert_facts_partitioned", real_upsert)
    drain(spark, wh)
    assert wh.read("fact_events").count() == n0 + 30
    nks = [r[0] for r in wh.read("fact_events").select("event_nk").collect()]
    assert len(nks) == len(set(nks)), "replayed batch double-applied"
    sks = [r[0] for r in wh.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks))

    # A further drain with nothing new processes nothing.
    drain(spark, wh)
    assert wh.read("fact_events").count() == n0 + 30


def test_stream_fact_merge_loads_only_published_live_rows(spark, tmp_path):
    """The drain reads bronze through its manifests: keys a deletion
    vector erased from ``raw_events`` and rows of a snapshot whose
    commit never published do not reach ``fact_events``, and the fact
    image equals the one the pipeline's load makes from the same
    state."""
    import shutil

    from _event_intelligence_data_warehouse_spark import schemas

    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "60"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    jobs.stream_facts_from_bronze(spark, wh)  # drain the backlog

    # 10 new keys with the categories, dates and current venue versions
    # of keys already loaded, so the pipeline's load changes no dimension.
    sample = generate_sample_events(spark, 10)
    venues = wh.read("dim_venue").filter(F.col("is_current")).select(
        "venue_name", F.col("city").alias("venue_city"),
        F.col("latitude").cast("string").alias("lat"),
        F.col("longitude").cast("string").alias("lon"))
    fresh = (sample.join(venues, ["venue_name", "venue_city"])
             .withColumn("event_id", F.concat(F.lit("N_"), F.col("event_id")))
             .withColumn("venue_lat", F.col("lat"))
             .withColumn("venue_lon", F.col("lon")))
    bronze.land_batch(wh, fresh.select(sample.columns), source="csv")
    erased = [f"N_MOCK_{i:05d}" for i in (1, 4, 5, 8)]
    for key in erased:
        wh.delete_where(bronze.RAW_TABLE, [("raw_event_id", "==", key)],
                        mode="dv")
    unpublished = wh.read(bronze.RAW_TABLE).limit(6).withColumn(
        "raw_event_id", F.concat(F.lit("U_"), F.col("raw_event_id")))
    wh._write_snapshot(bronze.RAW_TABLE, unpublished)  # no commit

    copy = str(tmp_path / "copy")
    shutil.copytree(whdir, copy)
    jobs.stream_facts_from_bronze(spark, wh)
    pipeline.step_transform_and_load(Warehouse(spark, copy), spark)

    fact = wh.read("fact_events")
    keys = {r[0] for r in fact.select("event_nk").collect()}
    assert not keys & {f"csv_{k}" for k in erased}, "erased key loaded"
    assert not {k for k in keys if k.startswith("csv_U_")}, (
        "unpublished row loaded")
    assert len({k for k in keys if k.startswith("csv_N_")}) == 6

    cols = [f.name for f in schemas.FACT_EVENTS.fields
            if f.name != "loaded_at"]

    def image(w):
        return sorted(map(tuple, w.read("fact_events").select(cols).collect()),
                      key=repr)

    assert image(wh) == image(Warehouse(spark, copy))


def test_stream_merge_into_exactly_once_and_replay_safe(spark, tmp_path):
    """File stream -> Warehouse.merge_into per micro-batch: keys
    converge to their latest version, a second drain is a no-op, and a
    checkpoint loss replay converges instead of double-applying."""
    import shutil

    from _event_intelligence_data_warehouse_spark.storage import Warehouse
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, ver long, val string"

    spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1")], schema
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(1, 2, "a2"), (3, 1, "c1")], schema
    ).write.mode("append").parquet(src)

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    sschema = StructType([
        StructField("id", LongType()), StructField("ver", LongType()),
        StructField("val", StringType()),
    ])
    jobs.stream_merge_into(
        spark, wh, src, "gold", ["id"], sschema, ckpt,
        max_files_per_trigger=1,
    )
    want = {1: "a2", 2: "b1", 3: "c1"}
    got = {r.id: r.val for r in wh.read("gold").collect()}
    assert got == want
    # provenance stamped per batch
    metas = [h["meta"] for h in wh.history("gold") if h["meta"]]
    assert metas and all("stream_batch" in m for m in metas)

    # second drain: nothing new -> table unchanged
    v = wh._current_version("gold")
    jobs.stream_merge_into(
        spark, wh, src, "gold", ["id"], sschema, ckpt,
    )
    assert wh._current_version("gold") == v

    # checkpoint loss: full replay converges to the same image
    shutil.rmtree(ckpt)
    jobs.stream_merge_into(
        spark, wh, src, "gold", ["id"], sschema, ckpt,
    )
    got2 = {r.id: r.val for r in wh.read("gold").collect()}
    assert got2 == want and wh.read("gold").count() == 3


def test_stream_merge_newer_col_blocks_stale_replay(spark, tmp_path):
    """With newer_col, an out-of-order replay of an OLD file cannot
    clobber newer target state — convergence is order-independent."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from _event_intelligence_data_warehouse_spark.storage import Warehouse
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = "id long, ver long, val string"
    wh.overwrite("gold", spark.createDataFrame([(1, 2, "a2")], schema))

    src = str(tmp_path / "old_src")
    spark.createDataFrame([(1, 1, "a1"), (4, 1, "d1")], schema) \
        .write.mode("append").parquet(src)
    sschema = StructType([
        StructField("id", LongType()), StructField("ver", LongType()),
        StructField("val", StringType()),
    ])
    jobs.stream_merge_into(
        spark, wh, src, "gold", ["id"], sschema,
        str(tmp_path / "ck2"), newer_col="ver",
    )
    got = {r.id: (r.ver, r.val) for r in wh.read("gold").collect()}
    assert got[1] == (2, "a2"), "stale version clobbered newer state"
    assert got[4] == (1, "d1"), "fresh key must still insert"
