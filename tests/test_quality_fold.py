"""The quality step folds the counters each write records in its commit
instead of rescanning the warehouse. Its five ``quality_log`` rows must
equal the full scan's (``run_raw_checks_one_pass`` plus
``check_orphan_fact_records`` over the current tables) in every column
but ``check_id``, ``run_id`` and ``checked_at``, whichever path it took;
a commit that carries no counters sends it back to a full recount."""

from __future__ import annotations

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.plans import quality as qc
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.synthetic import (
    generate_sample_events,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse
from _event_intelligence_data_warehouse_spark.streaming import jobs

_COLS = ("check_name", "table_name", "records_checked", "records_failed",
         "pass_rate", "status")
# each dimension's surrogate key, also the fact table's foreign key to it
_SKS = {"dim_date": "date_id", "dim_venue": "venue_sk",
        "dim_category": "category_sk", "dim_source": "source_sk"}


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _rows(df) -> list[tuple]:
    return sorted(tuple(r[c] for c in _COLS) for r in df.collect())


def _full_scan(wh) -> list[tuple]:
    return _rows(qc.run_raw_checks_one_pass(
        wh.read("raw_events", schemas.RAW_EVENTS), "ref",
    ).unionByName(qc.check_orphan_fact_records(
        *(wh.read(t, pipeline.GOLD[t]) for t in ("fact_events", *qc.DIM_TABLES)),
        "ref",
    )))


def _quality(spark, wh, run_id: str) -> tuple[int, list[tuple]]:
    """Run the quality step; its job count and its logged rows."""
    j0 = _jobs(spark)
    log = pipeline.step_quality(wh, spark, run_id)
    n = _jobs(spark) - j0
    return n, _rows(log.filter(F.col("run_id") == run_id))


def _batch(spark, lo, hi, **cols):
    """Sample events ``MOCK_<lo>`` .. ``MOCK_<hi - 1>``, with ``cols``
    replacing columns."""
    df = generate_sample_events(spark, hi).filter(
        F.col("event_id") >= f"MOCK_{lo:05d}")
    for name, value in cols.items():
        df = df.withColumn(name, value)
    return df


def _null_ids(spark, n=2):
    return _batch(spark, 0, n, event_id=F.lit(None).cast("string"))


def test_fold_matches_full_scan_over_ticks(spark, tmp_path):
    """A cold load of the dirty mix; a clean batch; re-ingested duplicates
    with NULL-id rows for sources that hold none yet; a NULL-id row for a
    source that already holds one, with a venue version; a no-op tick; a
    replayed load that updates existing fact keys next to new ones; and
    a tick after a commit without counters. Every folded run is 1 job;
    the recount is more."""
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def tick(run_id, *lands, fold=True):
        for source, batch in lands:
            bronze.land_batch(wh, batch, source=source)
        pipeline.step_transform_and_load(wh, spark)
        n, got = _quality(spark, wh, run_id)
        assert got == _full_scan(wh), run_id
        assert (n == 1) == fold, (run_id, n)
        return {r[0]: r[2:] for r in got}

    got = tick("cold", ("csv", generate_sample_events(spark, 150, dirty=True)))
    assert got["null_event_names"][3] == "warning"
    tick("clean", ("csv", _batch(spark, 150, 200)))
    got = tick("dups",
               ("csv", _batch(spark, 180, 220).unionByName(_null_ids(spark))),
               ("api", _null_ids(spark)))
    assert got["duplicate_event_ids"][1] == 0
    replay_from = wh.get_watermark(pipeline.WATERMARK)
    got = tick("venue", ("csv", _batch(spark, 220, 240, venue_country=F.lit(
        "Austria")).unionByName(_null_ids(spark))))
    assert got["duplicate_event_ids"][1] == 1
    assert wh.read("dim_venue").filter(~F.col("is_current")).count() > 0
    tick("noop")
    # a replayed load: the watermark goes back before the venue batch, so
    # the next load updates its keys, whose buckets are rewritten, next
    # to a new batch's inserts
    wh.set_watermark(pipeline.WATERMARK, replay_from)
    tick("update", ("csv", _batch(spark, 240, 250)))
    assert wh.last_commit("fact_events")["meta"][qc.COUNTERS]["buckets"]
    wh.append("raw_events", wh.read("raw_events").limit(3))
    got = tick("fallback", fold=False)
    assert got["duplicate_event_ids"][1] == 4


def test_dimension_keys_only_grow(spark, tmp_path):
    """The orphan check folds NULL foreign keys only, which holds while no
    fact row holds a dangling key: every dimension's surrogate keys stay
    a superset of the previous tick's, through new dates, categories, a
    new source and a venue attribute change (an SCD2 version), and every
    non-NULL fact foreign key resolves."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ticks = [
        ("csv", _batch(spark, 0, 40)),
        ("csv", _batch(spark, 40, 60, event_date=F.lit("2027-03-01"),
                       category=F.lit("Opera"))),
        ("api", _batch(spark, 60, 80, venue_country=F.lit("Austria"))),
    ]
    keys = {t: set() for t in _SKS}
    for source, batch in ticks:
        bronze.land_batch(wh, batch, source=source)
        pipeline.step_transform_and_load(wh, spark)
        now = {t: {r[0] for r in wh.read(t).select(sk).collect()}
               for t, sk in _SKS.items()}
        fact = wh.read("fact_events")
        for t, sk in _SKS.items():
            assert keys[t] <= now[t], t
            assert {r[0] for r in fact.select(sk).dropna().collect()} <= now[t]
        keys = now
    assert len(keys["dim_source"]) == 2
    assert wh.read("dim_venue").filter(~F.col("is_current")).count() > 0


def test_commits_without_counters_recount(spark, tmp_path):
    """After each kind of commit that records no counters, the next run
    recounts in full and equals the full scan, and the run after that
    folds again (1 job). A stream merge records counters through the fact
    upsert and folds at once. While a dimension overwrite has left a
    dangling key, every run recounts and counts it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bronze.land_batch(wh, _batch(spark, 0, 60), source="csv")
    pipeline.step_transform_and_load(wh, spark)
    assert _quality(spark, wh, "base")[0] == 1

    def rewrite_bucket():
        fact = wh.read("fact_events")
        bucket = fact.filter(F.col("p_bucket") == fact.first()["p_bucket"])
        wh.overwrite_partitions("fact_events", bucket.withColumn(
            "venue_sk", F.lit(None).cast("long")), "p_bucket")

    def stream_merge():
        bronze.land_batch(wh, _batch(spark, 60, 70), source="csv")
        jobs.stream_facts_from_bronze(spark, wh, str(tmp_path / "ckpt"))

    kinds = [
        ("dv_delete", lambda: wh.delete_where(
            "raw_events", [("raw_event_id", "==", "MOCK_00003")],
            mode="dv"), False),
        ("append", lambda: wh.append(
            "raw_events", wh.read("raw_events").limit(2)), False),
        ("other_writer", rewrite_bucket, False),
        ("compaction", lambda: wh.compact_partitions_where(
            "fact_events", "p_bucket", min_files=1), False),
        ("stream_merge", stream_merge, True),
    ]
    for name, commit, folds in kinds:
        commit()
        n, got = _quality(spark, wh, name)
        assert got == _full_scan(wh), name
        assert (n == 1) == folds, (name, n)
        assert _quality(spark, wh, name + "+1") == (1, got), name

    sk = wh.read("dim_category").agg(F.max("category_sk")).first()[0]
    wh.overwrite("dim_category",
                 wh.read("dim_category").filter(F.col("category_sk") != sk))
    n, got = _quality(spark, wh, "dropped")
    assert got == _full_scan(wh)
    assert n > 1
    n, again = _quality(spark, wh, "dropped+1")
    assert again == got
    assert n > 1
    orphans = {r[0]: r[3] for r in got}["orphan_fact_records"]
    nulls = wh.read("fact_events").filter(qc.fk_null()).count()
    assert orphans > nulls


def test_overtaken_landing_retries_and_lands_no_duplicates(spark, tmp_path):
    """A landing whose anti-join read one bronze version and whose append
    finds another landing committed since retries against the new
    version: it lands none of the keys the other landing added, and its
    counters fold (1 job)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bronze.land_batch(wh, _batch(spark, 0, 20), source="csv")
    assert _quality(spark, wh, "base")[0] == 1
    real = wh.read

    def read_then_commit(table, *args, **kwargs):
        df = real(table, *args, **kwargs)
        if table == "raw_events":
            wh.read = real
            bronze.land_batch(wh, _batch(spark, 20, 25), source="csv")
        return df

    wh.read = read_then_commit
    res = bronze.land_batch(wh, _batch(spark, 20, 30), source="csv")
    assert res["records_loaded"] == 5
    n, got = _quality(spark, wh, "after")
    assert got == _full_scan(wh)
    assert {r[0]: r[3] for r in got}["duplicate_event_ids"] == 0
    assert wh.read("raw_events").count() == 30
    assert n == 1


def test_landing_over_an_unread_commit_recounts(spark, tmp_path):
    """A landing commit whose counters name a read version other than its
    parent may have landed keys the commit in between added, so its
    counters are not folded: the run recounts. Landings no longer publish
    such a commit; this one is built by hand."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bronze.land_batch(wh, _batch(spark, 0, 20), source="csv")
    assert _quality(spark, wh, "base")[0] == 1
    read = wh.last_commit("raw_events")["version"]
    bronze.land_batch(wh, _batch(spark, 20, 25), source="csv")
    dups = wh.read("raw_events").filter(
        F.col("raw_event_id") >= "MOCK_00020")
    counters = dict(wh.last_commit("raw_events")["meta"][qc.COUNTERS],
                    read=read)
    with wh.commit_metadata(**{qc.COUNTERS: counters}):
        wh.append("raw_events", dups)
    n, got = _quality(spark, wh, "after")
    assert got == _full_scan(wh)
    assert {r[0]: r[3] for r in got}["duplicate_event_ids"] == 5
    assert n > 1
