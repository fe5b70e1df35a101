"""A load tick rewrites only what its batch changed.

- ``merge_upsert`` is one full outer join, and ``upsert_facts`` preserves
  ``event_sk`` through it instead of re-attaching keys with a second join.
  Both are pinned against the three-join form they replaced, kept here as
  the reference.
- The pipeline rebuilds only the dimensions its batch adds to. Over
  several ticks that gives the same dimension and fact images as running
  every ``update_dim_*`` unconditionally.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    assign_surrogate_keys,
    merge_upsert,
)
from _event_intelligence_data_warehouse_spark.plans import dims as dims_mod
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import pipeline
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.sources.events_adapter import (
    events_as_raw,
)
from _event_intelligence_data_warehouse_spark.storage import Warehouse


# -- the three-join reference ---------------------------------------------

def _ref_merge_upsert(existing, incoming, keys, *, preserve=None):
    preserve = preserve or []
    inc, ex = incoming, existing
    matched = (
        inc.alias("i")
        .join(ex.alias("e"), keys, "inner")
        .select(
            *[F.col(f"e.{k}").alias(k) for k in keys],
            *[
                (F.col(f"e.{c}") if c in preserve else F.col(f"i.{c}")).alias(c)
                for c in inc.columns
                if c not in keys
            ],
        )
    )
    unmatched_existing = ex.join(inc, keys, "left_anti")
    unmatched_incoming = inc.join(ex, keys, "left_anti")
    return (
        matched.unionByName(unmatched_existing.select(matched.columns))
        .unionByName(unmatched_incoming.select(matched.columns))
    )


def _ref_upsert_facts(existing, incoming):
    inc = incoming.drop("_ingest_id")
    merged = _ref_merge_upsert(
        existing.drop("event_sk"), inc, ["event_nk"], preserve=["ingested_at"]
    )
    with_sk = merged.join(
        existing.select("event_nk", "event_sk"), "event_nk", "left"
    )
    new_rows = with_sk.filter(F.col("event_sk").isNull()).drop("event_sk")
    old_rows = with_sk.filter(F.col("event_sk").isNotNull())
    new_rows = assign_surrogate_keys(
        existing, new_rows, "event_sk", ["event_nk"], bulk=False
    )
    cols = existing.columns
    return old_rows.select(cols).unionByName(new_rows.select(cols))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_merge_upsert_matches_three_join_form(spark):
    """Matched, existing-only, incoming-only and NULL-key rows on both
    sides, with a preserved column."""
    existing = spark.createDataFrame(
        [("a", "old", 1), ("b", "keep", 2), (None, "ex-null", 3)],
        "k string, status string, first_seen int",
    )
    incoming = spark.createDataFrame(
        [("a", "new", 9), ("c", "ins", 4), (None, "in-null", 5)],
        "k string, status string, first_seen int",
    )
    got = merge_upsert(existing, incoming, ["k"], preserve=["first_seen"])
    want = _ref_merge_upsert(existing, incoming, ["k"], preserve=["first_seen"])
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert {(r.k, r.status, r.first_seen) for r in got.collect()} == {
        ("a", "new", 1), ("b", "keep", 2), (None, "ex-null", 3),
        ("c", "ins", 4), (None, "in-null", 5),
    }


def _facts(spark, rows, *, with_sk):
    """Fact rows from (event_sk, event_nk, status, ingested_day)."""
    fields = [f for f in schemas.FACT_EVENTS.fields
              if with_sk or f.name != "event_sk"]
    out = []
    for sk, nk, status, day in rows:
        ts = dt.datetime(2026, 1, day)
        row = {"event_sk": sk, "event_nk": nk, "date_id": 1, "venue_sk": 1,
               "category_sk": 1, "source_sk": 1, "event_name": f"e {nk}",
               "event_url": "https://example.com", "event_status": status,
               "currency": "EUR", "ingested_at": ts, "loaded_at": ts,
               "is_deleted": False}
        out.append(tuple(row.get(f.name) for f in fields))
    df = spark.createDataFrame(out, T.StructType(fields))
    return df if with_sk else df.withColumn("_ingest_id", F.lit(1).cast("long"))


def test_upsert_facts_matches_three_join_form(spark):
    """Without a NULL key among the existing rows the one-join upsert
    equals the reference: matched rows refresh their attributes and keep
    event_sk and ingested_at, existing-only rows pass through, and the
    inserts (a NULL-key one among them) extend the keys in key order."""
    existing = _facts(spark, [(1, "csv_a", "onsale", 1),
                              (2, "csv_b", "onsale", 1),
                              (3, "csv_c", "onsale", 1)], with_sk=True)
    incoming = _facts(spark, [(None, "csv_b", "cancelled", 5),
                              (None, "csv_d", "onsale", 5),
                              (None, None, "onsale", 5)], with_sk=False)
    got = facts_mod.upsert_facts(existing, incoming, bulk=False)
    want = _ref_upsert_facts(existing, incoming)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    by_nk = {r.event_nk: r for r in got.collect()}
    assert by_nk["csv_b"].event_sk == 2
    assert by_nk["csv_b"].event_status == "cancelled"
    assert by_nk["csv_b"].ingested_at == dt.datetime(2026, 1, 1)
    assert {r.event_sk for r in got.collect()} == {1, 2, 3, 4, 5}


def test_upsert_facts_keeps_key_of_null_natural_key_row(spark):
    """An existing row whose event_nk is NULL keeps its event_sk. The
    reference's key re-attach join never matches NULL, so it re-keyed
    that row on every upsert; the rows with a natural key come out the
    same apart from the key numbers the re-keying consumed."""
    existing = _facts(spark, [(1, "csv_a", "onsale", 1),
                              (2, None, "onsale", 1)], with_sk=True)
    incoming = _facts(spark, [(None, "csv_a", "cancelled", 5),
                              (None, "csv_z", "onsale", 5)], with_sk=False)
    got = facts_mod.upsert_facts(existing, incoming, bulk=False)
    sks = {r.event_nk: r.event_sk for r in got.collect()}
    assert sks == {"csv_a": 1, None: 2, "csv_z": 3}
    # twice is a fixed point: nothing is re-keyed
    again = facts_mod.upsert_facts(got, incoming, bulk=False)
    assert {r.event_nk: r.event_sk for r in again.collect()} == sks

    ref = {r.event_nk: r.event_sk
           for r in _ref_upsert_facts(existing, incoming).collect()}
    assert ref[None] != 2  # the defect the one-join form removes
    assert _rows(got.drop("event_sk")) == _rows(
        _ref_upsert_facts(existing, incoming).drop("event_sk"))


def test_sk_base_from_manifest_matches_aggregate(spark, tmp_path):
    """The surrogate-key base comes from the manifest's event_sk bounds
    and equals the max aggregate; with deletion vectors the bounds still
    cover deleted rows, so the aggregate is used."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    batch = _facts(spark, [(None, f"csv_{i}", "onsale", 1) for i in range(6)],
                   with_sk=False)
    buckets, keys = batch.agg(F.collect_set(facts_mod.fact_bucket()),
                              F.collect_set("event_nk")).first()
    facts_mod.upsert_facts_partitioned(wh, batch, buckets=buckets, keys=keys)
    full = wh.read("fact_events")
    assert facts_mod._sk_base(wh, "fact_events", full) == 6
    wh.delete_where("fact_events", [("event_sk", "==", 6)], mode="dv")
    assert facts_mod._sk_base(wh, "fact_events", full) is full


# -- multi-batch pipeline --------------------------------------------------

TYPES = ["view", "click", "purchase"]


def _events(spark, ids, *, day=None, event_type=None):
    rows = [
        (i, dt.datetime(2024, 1, day or 1 + i % 5, 12, tzinfo=dt.timezone.utc),
         i % 10, event_type or TYPES[i % 3], float(10 + i), '{"k": 1}')
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")


def _batches(spark):
    """Three ticks: a cold load; a batch that adds no dimension member;
    a batch with a new date, a new category and a changed venue
    latitude (users 3, 13, ... share one venue)."""
    moved = events_as_raw(_events(spark, range(50, 60), day=20,
                                  event_type="refund"))
    moved = moved.withColumn(
        "venue_lat",
        F.when(F.col("venue_name") == "Venue 3", F.lit("48.1000000"))
        .otherwise(F.col("venue_lat")))
    return [events_as_raw(_events(spark, range(30))),
            events_as_raw(_events(spark, range(30, 50))),
            moved]


_TIME_COLS = ["created_at", "valid_from", "valid_to", "loaded_at"]


def _images(wh):
    out = {}
    for name in ("dim_date", "dim_category", "dim_source", "dim_venue",
                 "fact_events"):
        df = wh.read(name)
        out[name] = _rows(df.drop(*[c for c in _TIME_COLS if c in df.columns]))
    return out


def _run_ticks(spark, root, batches):
    wh = Warehouse(spark, root)
    images = []
    for k, batch in enumerate(batches):
        bronze.land_batch(wh, batch, source="stream",
                          ingested_at=dt.datetime(2025, 1, 1 + k))
        pipeline.run_pipeline(spark, root,
                              pipeline.parse_args(["--skip-ingest"]))
        images.append(_images(wh))
    return images


def test_skipped_dimensions_match_unconditional_updates(
    spark, tmp_path, monkeypatch
):
    """Each tick's images equal those of a run whose probe names every
    existing dimension, and the steady tick calls no ``update_dim_*``."""
    batches = _batches(spark)
    calls: list[list[str]] = []
    for fn in ("update_dim_date", "update_dim_category", "update_dim_source",
               "update_dim_venue"):
        real = getattr(dims_mod, fn)

        def counted(*a, _real=real, _fn=fn, **kw):
            calls[-1].append(_fn)
            return _real(*a, **kw)

        monkeypatch.setattr(dims_mod, fn, counted)

    real_run = pipeline.run_pipeline

    def run(*a, **kw):
        calls.append([])
        return real_run(*a, **kw)

    monkeypatch.setattr(pipeline, "run_pipeline", run)
    got = _run_ticks(spark, str(tmp_path / "probe"), batches)
    assert [sorted(c) for c in calls] == [
        ["update_dim_category", "update_dim_date", "update_dim_source",
         "update_dim_venue"],
        [],
        ["update_dim_category", "update_dim_date", "update_dim_venue"],
    ]

    probe = dims_mod.with_new_members

    def every_dim(stg, gold, own):
        names = stg.sparkSession.createDataFrame([(n,) for n in gold],
                                                 "dim string")
        return probe(stg, {}, own).unionByName(names,
                                               allowMissingColumns=True)

    monkeypatch.setattr(dims_mod, "with_new_members", every_dim)
    want = _run_ticks(spark, str(tmp_path / "always"), batches)
    for tick, (g, w) in enumerate(zip(got, want)):
        for name in g:
            assert g[name] == w[name], (tick, name)
    last = got[-1]
    assert len(last["fact_events"]) == 60
    venue3 = [r for r in last["dim_venue"] if r.venue_name == "Venue 3"]
    assert sorted(r.is_current for r in venue3) == [False, True]
    assert {r.category_name for r in last["dim_category"]} == {*TYPES, "refund"}


# -- venue tie-break -------------------------------------------------------

def test_venue_tie_break_does_not_depend_on_partitioning(spark, tmp_path):
    """One batch carries each venue with several coordinates; however the
    staged batch is partitioned, ``update_dim_venue`` picks the same
    attributes for every venue."""
    from _event_intelligence_data_warehouse_spark.plans.staging import (
        stage_events,
    )
    from _event_intelligence_data_warehouse_spark.sources.synthetic import (
        generate_sample_events,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    bronze.land_batch(wh, generate_sample_events(spark, 200), source="csv")
    stg = stage_events(wh.read(bronze.RAW_TABLE)).cache()
    coords = (dims_mod.member_tuples("dim_venue", stg)
              .groupBy("venue_nk")
              .agg(F.countDistinct("latitude", "longitude").alias("n")))
    assert coords.filter(F.col("n") > 1).count() > 0, (
        "the batch must hold a venue with several coordinates")
    empty = spark.createDataFrame([], schemas.DIM_VENUE)
    now = F.lit(dt.datetime(2025, 1, 1))
    images = set()
    for parts in (1, 2, 3, 5, 7, 11, 16):
        image = dims_mod.update_dim_venue(empty, stg.repartition(parts), now)
        images.add(tuple(_rows(image.select(
            "venue_nk", *dims_mod.VENUE_ATTRS))))
    stg.unpersist()
    assert len(images) == 1
