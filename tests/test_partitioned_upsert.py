"""Partition-pruned fact upsert: result-equality with the full-rewrite
merge, and the physical properties that make it the 100 TB path — buckets
not containing incoming keys are neither read nor rewritten, buckets that
receive only new keys are appended to, and a batch's cost does not grow
with the table."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.storage import Warehouse


def _fact_batch(spark, ids, *, status="onsale", ts="2026-01-01 00:00:00"):
    import datetime as dt

    from pyspark.sql import types as T

    when = dt.datetime.fromisoformat(ts)
    rows = [
        (
            f"csv_MOCK_{i:05d}", 1, 1, 1, 1, f"event {i}",
            "https://example.com", status, None, None, None, "EUR", None,
            when, when, False, i,
        )
        for i in ids
    ]
    fields = [f for f in schemas.FACT_EVENTS.fields if f.name != "event_sk"]
    schema = T.StructType(fields + [T.StructField("_ingest_id", T.LongType())])
    return spark.createDataFrame(rows, schema)


def _upsert(wh, batch):
    """``upsert_facts_partitioned`` with the batch's buckets and keys
    computed the way a caller folds them into its own aggregate."""
    buckets, keys = batch.agg(F.collect_set(facts_mod.fact_bucket()),
                              F.collect_set("event_nk")).first()
    return facts_mod.upsert_facts_partitioned(wh, batch, buckets=buckets,
                                              keys=keys)


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _data_files(wh, table: str) -> dict[str, bytes]:
    """Every parquet file under the table's directory -> its bytes."""
    base = wh.path(table)
    out = {}
    for root, _dirs, fs in os.walk(base):
        for f in fs:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), base)] = fh.read()
    return out


def _snapshot(wh, table: str) -> dict[str, tuple[str, ...]]:
    """partition dir -> sorted live data files, from the manifest (each
    write lands in a fresh snapshot dir, so identical paths == not
    rewritten)."""
    out: dict[str, list[str]] = {}
    for f in wh._manifest(table)["files"]:
        part = next(c for c in f.split(os.sep) if "=" in c)
        out.setdefault(part, []).append(f)
    return {p: tuple(sorted(fs)) for p, fs in out.items()}


def _rows(df):
    cols = [f.name for f in schemas.FACT_EVENTS.fields]
    return sorted(tuple(r) for r in df.select(cols).collect())


def test_partitioned_upsert_matches_full_rewrite(spark, tmp_path):
    wh_p = Warehouse(spark, str(tmp_path / "part"))
    base = _fact_batch(spark, range(40))
    upd = _fact_batch(spark, range(30, 50), status="cancelled",
                      ts="2026-02-01 00:00:00")

    _upsert(wh_p, base)
    _upsert(wh_p, upd)

    empty = spark.createDataFrame([], schemas.FACT_EVENTS)
    full1 = facts_mod.upsert_facts(empty, base)
    full2 = facts_mod.upsert_facts(full1, upd)

    got = _rows(wh_p.read("fact_events"))
    want = _rows(full2)
    assert got == want, "partitioned upsert diverged from full-rewrite merge"
    # surrogate keys unique and complete
    sks = [r[0] for r in wh_p.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks)) == 50


def test_untouched_buckets_are_not_rewritten(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _upsert(wh, _fact_batch(spark, range(60)))
    before = _snapshot(wh, "fact_events")
    assert len(before) > 4, "test needs several populated buckets"

    touched = _upsert(
        wh, _fact_batch(spark, [0], status="cancelled")
    )
    after = _snapshot(wh, "fact_events")

    touched_dirs = {f"{facts_mod.FACT_PART_COL}={b}" for b in touched}
    assert len(touched_dirs) == 1, "a single key must touch a single bucket"
    for part, files in before.items():
        if part in touched_dirs:
            assert after[part] != files, "touched bucket was not rewritten"
        else:
            assert after[part] == files, (
                f"untouched bucket {part} was rewritten"
            )
    # and the update actually landed
    row = (wh.read("fact_events")
           .filter(F.col("event_nk") == "csv_MOCK_00000").first())
    assert row["event_status"] == "cancelled"


def test_new_key_buckets_keep_their_files(spark, tmp_path):
    """A bucket that receives only new keys is appended to: its old files
    stay live byte-for-byte and new ones join them; every other bucket is
    untouched."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _upsert(wh, _fact_batch(spark, range(60)))
    before = _snapshot(wh, "fact_events")
    content = _data_files(wh, "fact_events")

    touched = _upsert(wh, _fact_batch(spark, [100]))
    after = _snapshot(wh, "fact_events")

    [part] = [f"{facts_mod.FACT_PART_COL}={b}" for b in touched]
    assert part in before, "test needs the new key's bucket populated"
    assert set(before[part]) < set(after[part]), "old files not kept"
    now = _data_files(wh, "fact_events")
    for f in before[part]:
        assert now[f] == content[f]
    for p, files in before.items():
        if p != part:
            assert after[p] == files, f"bucket {p} was rewritten"
    meta = wh.last_commit("fact_events")["meta"]["quality"]
    assert meta["buckets"] == {} and list(meta["added"]) == [part.split("=")[1]]
    row = (wh.read("fact_events")
           .filter(F.col("event_nk") == "csv_MOCK_00100").first())
    assert row["event_sk"] == 61


def test_batch_write_does_not_grow_with_the_table(spark, tmp_path):
    """The same 20-key batch of new keys upserted into a 60-row and a
    600-row fact table submits the same jobs and writes the same fact
    bytes, within 10%: the write tracks the batch, not the table."""
    batch = _fact_batch(spark, range(1000, 1020))
    buckets, keys = batch.agg(F.collect_set(facts_mod.fact_bucket()),
                              F.collect_set("event_nk")).first()
    cost = []
    for n in (60, 600):
        wh = Warehouse(spark, str(tmp_path / f"wh{n}"))
        _upsert(wh, _fact_batch(spark, range(n)))
        before = _data_files(wh, "fact_events")
        j0 = _jobs(spark)
        facts_mod.upsert_facts_partitioned(wh, batch, buckets=buckets,
                                           keys=keys, bulk=False)
        jobs = _jobs(spark) - j0
        written = sum(len(b) for f, b in _data_files(wh, "fact_events").items()
                      if f not in before)
        assert wh.read("fact_events").count() == n + 20
        cost.append((jobs, written))
    (jobs_small, bytes_small), (jobs_big, bytes_big) = cost
    assert jobs_small == jobs_big
    assert abs(bytes_big - bytes_small) <= 0.1 * bytes_small


def test_files_per_bucket_stay_bounded(spark, tmp_path):
    """Over 2*K insert-only batches no bucket holds more than K live
    files (K = ``FACT_BUCKET_MAX_FILES``): a touched bucket at the bound
    is rewritten into one file instead of gaining another. Keys stay
    unique and complete."""
    k = facts_mod.FACT_BUCKET_MAX_FILES
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _upsert(wh, _fact_batch(spark, range(60)))
    rewrites = 0
    for t in range(2 * k):
        lo = 100 + 20 * t
        _upsert(wh, _fact_batch(spark, range(lo, lo + 20)))
        files = [p["files"] for p in wh.partition_profile("fact_events")]
        assert max(files) <= k, (t, files)
        rewrites += bool(
            wh.last_commit("fact_events")["meta"]["quality"]["buckets"])
    assert rewrites > 0, "no batch reached the bound"
    sks = [r[0] for r in wh.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks)) == 60 + 2 * k * 20


def test_pipeline_fact_table_is_bucket_partitioned(spark, tmp_path):
    whdir = str(tmp_path / "wh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "80"]
    )
    pipeline.run_pipeline(spark, whdir, args)
    parts = _snapshot(Warehouse(spark, whdir), "fact_events")
    assert parts and all(
        p.startswith(f"{facts_mod.FACT_PART_COL}=") for p in parts
    )


def test_compact_unpartitioned_reduces_files_preserves_rows(spark, tmp_path):
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # simulate many tiny incremental appends
    for i in range(8):
        wh.append("t", spark.range(i * 10, (i + 1) * 10).toDF("id"))
    before = sorted(r.id for r in wh.read("t").collect())
    n_before, _ = wh.file_stats("t")
    assert n_before >= 8, "appends should have left many part files"

    report = wh.compact("t", target_file_bytes=1 << 30)
    assert report["files_before"] == n_before
    assert report["files_after"] == 1, "1 GiB target should yield one file"
    after = sorted(r.id for r in wh.read("t").collect())
    assert after == before, "compaction changed table contents"


def test_compact_partitions_one_file_per_partition(spark, tmp_path):
    from pyspark.sql import functions as F

    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 3).alias("p")
    )
    # several appends -> multiple files per partition
    wh.overwrite("t", df.filter(F.col("id") % 4 == 0), "p")
    for i in range(1, 4):
        wh.append("t", df.filter(F.col("id") % 4 == i))
    before = sorted((r.id, r.p) for r in wh.read("t").collect())
    n_before, _ = wh.file_stats("t")
    assert n_before > 3

    wh.compact_partitions_where("t", "p", min_files=1)
    n_after, _ = wh.file_stats("t")
    assert n_after == 3, "expected exactly one file per partition"
    after = sorted((r.id, r.p) for r in wh.read("t").collect())
    assert after == before
    parts = set(_snapshot(wh, "t"))
    assert sorted(parts) == ["p=0", "p=1", "p=2"], "partition layout lost"
