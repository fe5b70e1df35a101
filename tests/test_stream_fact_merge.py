"""Streaming bronze -> gold fact MERGE (foreachBatch + AvailableNow):
exactly-once per bronze file via the checkpoint, idempotent via the
event_nk upsert, incremental for genuinely new keys."""

from __future__ import annotations

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
    ckpt = str(tmp_path / "ckpt")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "120"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    n0 = wh.read("fact_events").count()
    assert n0 == 120

    # Drain 1: every bronze row re-merges; MERGE semantics keep counts.
    jobs.stream_facts_from_bronze(spark, wh, ckpt)
    assert wh.read("fact_events").count() == n0

    # Land a batch of genuinely new keys, drain again -> facts grow.
    fresh = generate_sample_events(spark, 30).withColumn(
        "event_id", F.concat(F.lit("S_"), F.col("event_id"))
    )
    bronze.land_batch(wh, fresh, source="csv")
    jobs.stream_facts_from_bronze(spark, wh, ckpt)
    n1 = wh.read("fact_events").count()
    assert n1 == n0 + 30, "new bronze keys did not reach the fact table"

    # Drain 3 with no new bronze files: checkpoint processes nothing.
    jobs.stream_facts_from_bronze(spark, wh, ckpt)
    assert wh.read("fact_events").count() == n1
    # surrogate keys stayed unique through the streaming merges
    sks = wh.read("fact_events").select("event_sk").collect()
    vals = [r[0] for r in sks]
    assert len(vals) == len(set(vals))
    # every merged micro-batch left a success row in the run log (S9
    # parity for the streaming path) and loaded counts are conserved
    stream_runs = (
        bronze.current_runs(wh)
        .filter(F.col("source") == "stream_fact_merge")
        .collect()
    )
    assert stream_runs and all(r["status"] == "success" for r in stream_runs)
    assert sum(r["records_loaded"] for r in stream_runs) == n0 + 30


def test_stream_fact_merge_skips_surrogate_key_probe(
    spark, tmp_path, monkeypatch
):
    """Each micro-batch already counts its fact rows, an upper bound on
    its new keys, so it must pass the surrogate-key regime down instead
    of letting assign_surrogate_keys probe (persist + count) per batch."""
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

    monkeypatch.setattr(facts_mod, "assign_surrogate_keys", spy)
    jobs.stream_facts_from_bronze(spark, wh, str(tmp_path / "ckpt"))
    assert seen, "the drain never reached the fact upsert"
    assert None not in seen, f"surrogate-key probe ran: bulk={seen}"
    assert wh.read("fact_events").count() == 40


def test_stream_fact_merge_crash_restart_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash-injection for the streaming MERGE: kill the foreachBatch loop
    BETWEEN micro-batches — after the 2nd batch's warehouse write lands
    but before its streaming checkpoint commits (the worst-case crash
    point: data visible, progress not recorded) — then restart from the
    same checkpoint. At-least-once replay + the idempotent event_nk MERGE
    must yield exactly-once fact state: no lost batch, no double-applied
    batch, unique surrogate keys."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod

    whdir = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "120"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    wh = Warehouse(spark, whdir)
    n0 = wh.read("fact_events").count()
    jobs.stream_facts_from_bronze(spark, wh, ckpt)  # drain the backlog

    # Land 30 genuinely new keys as six separate bronze batches (six
    # landing files), so with maxFilesPerTrigger=1 the next drain runs
    # them as several micro-batches.
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
        "need several new bronze files to force multiple micro-batches"
    )

    real_upsert = facts_mod.upsert_facts_partitioned
    calls = {"n": 0}

    def crash_after_second_write(wh_, incoming, **kw):
        out = real_upsert(wh_, incoming, **kw)  # the write COMPLETES
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash after batch write")
        return out

    monkeypatch.setattr(
        facts_mod, "upsert_facts_partitioned", crash_after_second_write
    )
    with pytest.raises(StreamingQueryException):
        jobs.stream_facts_from_bronze(
            spark, wh, ckpt, max_files_per_trigger=1
        )
    assert calls["n"] == 2, "crash was injected between micro-batches"
    mid = wh.read("fact_events").count()
    assert n0 <= mid <= n0 + 30, "mid-crash state outside replay envelope"
    # the crashed batch left a failed row in the run log
    failed = (
        bronze.current_runs(wh)
        .filter((F.col("source") == "stream_fact_merge")
                & (F.col("status") == "failed"))
        .count()
    )
    assert failed >= 1

    # Restart from the same checkpoint with the crash removed: the batch
    # whose offsets never committed replays (idempotently), the rest
    # process once, and the fact table converges to exactly-once state.
    monkeypatch.setattr(facts_mod, "upsert_facts_partitioned", real_upsert)
    jobs.stream_facts_from_bronze(spark, wh, ckpt, max_files_per_trigger=1)
    assert wh.read("fact_events").count() == n0 + 30
    nks = [r[0] for r in wh.read("fact_events").select("event_nk").collect()]
    assert len(nks) == len(set(nks)), "replayed batch double-applied"
    sks = [r[0] for r in wh.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks))

    # A further drain with nothing new processes nothing.
    jobs.stream_facts_from_bronze(spark, wh, ckpt, max_files_per_trigger=1)
    assert wh.read("fact_events").count() == n0 + 30


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
