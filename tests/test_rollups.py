"""Rollup cascade: incremental refresh equals full rebuild, and refresh
physically rewrites only the partitions its batch touched."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.plans import rollups
from _event_intelligence_data_warehouse_spark.storage import Warehouse


def _events(spark, specs):
    """specs: (event_id, day, hour, type, value)."""
    rows = [
        (i, dt.datetime(2026, 3, day, hour, 15), i % 5, typ, float(v))
        for i, (day, hour, typ, v) in enumerate(specs)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def _daily_rows(wh):
    return sorted(
        (str(r["d"]), r["event_type"], r["n_events"], str(r["sum_value"]),
         str(r["min_value"]), str(r["max_value"]))
        for r in wh.read(rollups.DAILY).collect()
    )


def _part_files(wh, table):
    """partition dir -> sorted live file paths, from the manifest."""
    out = {}
    for f in wh._manifest(table)["files"]:
        part = next(c for c in f.split(os.sep) if "=" in c)
        out.setdefault(part, []).append(f)
    return {p: tuple(sorted(fs)) for p, fs in out.items()}


def test_incremental_refresh_equals_full_rebuild(spark, tmp_path):
    base = [(1, h, t, v) for h in (0, 1, 13) for t, v in
            (("view", 10), ("click", 20))] + [
        (2, 5, "view", 7), (15, 23, "purchase", 99)]
    batch = [(1, 1, "view", 3), (2, 5, "click", 11), (16, 8, "view", 1)]

    wh_inc = Warehouse(spark, str(tmp_path / "inc"))
    rollups.build_cascade(wh_inc, _events(spark, base))
    touched = rollups.refresh_incremental(wh_inc, _events(spark, batch))
    assert touched == {"days": 3, "months": 1}

    wh_full = Warehouse(spark, str(tmp_path / "full"))
    rollups.build_cascade(wh_full, _events(spark, base + batch))

    assert _daily_rows(wh_inc) == _daily_rows(wh_full), (
        "incremental cascade diverged from full rebuild"
    )
    m_inc = sorted(map(tuple, wh_inc.read(rollups.MONTHLY).collect()))
    m_full = sorted(map(tuple, wh_full.read(rollups.MONTHLY).collect()))
    assert m_inc == m_full


def test_refresh_rewrites_only_touched_day_partitions(spark, tmp_path):
    base = [(d, 9, "view", 5) for d in (1, 2, 3, 10, 20)]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rollups.build_cascade(wh, _events(spark, base))
    before = _part_files(wh, rollups.HOURLY)
    assert len(before) == 5

    rollups.refresh_incremental(
        wh, _events(spark, [(2, 10, "click", 1)])
    )
    after = _part_files(wh, rollups.HOURLY)
    for part, files in before.items():
        if part == "d=2026-03-02":
            assert after[part] != files, "touched day was not rewritten"
        else:
            assert after[part] == files, f"untouched {part} was rewritten"
    # and the merged hour is additive, not replaced
    row = (
        wh.read(rollups.HOURLY)
        .filter((F.col("d") == "2026-03-02") & (F.col("event_type") == "view"))
        .first()
    )
    assert row["n_events"] == 1, "existing partials must survive the merge"


def test_late_events_converge_to_batch_answer(spark, tmp_path):
    """Out-of-order arrival must not matter: additive merge has no
    watermark cutoff, so late events for an old day update exactly that
    day and the cascade equals the in-order rebuild."""
    on_time = [(10, 9, "view", 5), (20, 9, "view", 5)]
    late = [(1, 3, "click", 2)]  # arrives after much newer data
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rollups.build_cascade(wh, _events(spark, on_time))
    rollups.refresh_incremental(wh, _events(spark, late))

    wh_ref = Warehouse(spark, str(tmp_path / "ref"))
    rollups.build_cascade(wh_ref, _events(spark, on_time + late))
    assert _daily_rows(wh) == _daily_rows(wh_ref)


def test_stream_maintains_rollup_cascade(spark, tmp_path):
    """foreachBatch wiring: a drained stream leaves the same cascade as
    a batch build over the same events; re-draining is a no-op."""
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    events = _events(spark, [(d, h, "view", 5) for d in (1, 2) for h in (0, 12)])
    src = str(tmp_path / "src")
    events.write.parquet(src)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt"))
    wh_ref = Warehouse(spark, str(tmp_path / "ref"))
    rollups.build_cascade(wh_ref, events)
    assert _daily_rows(wh) == _daily_rows(wh_ref)

    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt"))
    assert _daily_rows(wh) == _daily_rows(wh_ref), "re-drain changed results"


def test_replayed_batches_do_not_double_count(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivered files (here simulated
    by draining the same files under a FRESH checkpoint, which restarts
    batch ids at 0) must be no-ops via the warehouse-side FILE ledger."""
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    events = _events(spark, [(d, 9, "view", 5) for d in (1, 2, 3)])
    src = str(tmp_path / "src")
    events.write.parquet(src)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt1"))
    rows_once = _daily_rows(wh)
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt2"))
    assert _daily_rows(wh) == rows_once, "replayed batches were re-applied"


def test_ledger_compaction_bounds_growth_and_keeps_exactly_once(
    spark, tmp_path, monkeypatch
):
    """The ingest ledger must not grow (in files or rows) with total
    history: once past the compaction threshold it folds to one file
    and sheds entries older than the retention horizon, while entries
    inside the horizon keep suppressing replays."""
    import datetime as dt

    from _event_intelligence_data_warehouse_spark.streaming import jobs

    monkeypatch.setattr(jobs, "LEDGER_COMPACT_FILES", 2)

    src = str(tmp_path / "src")
    _events(spark, [(1, 9, "view", 5)]).write.parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "c1"))

    # plant stale entries beyond the horizon: prunable, and their
    # (fake) files can never be re-offered by the source anyway
    old = dt.datetime(2020, 1, 1)
    wh.append(jobs.ROLLUP_LEDGER, spark.createDataFrame(
        [(f"file:///dead/f{i}.parquet", old) for i in range(5)],
        "src_file string, applied_at timestamp",
    ))
    n_before = wh.read(jobs.ROLLUP_LEDGER).count()

    # new files arrive; the drain triggers compaction (file count > 2)
    _events(spark, [(2, 9, "click", 2)]).write.mode("append").parquet(src)
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "c1"))

    ledger = wh.read(jobs.ROLLUP_LEDGER)
    n_files, _ = wh.file_stats(jobs.ROLLUP_LEDGER)
    assert n_files == 1, "ledger did not compact to one file"
    assert ledger.count() < n_before, "stale entries were not pruned"
    assert ledger.filter(
        F.col("src_file").startswith("file:///dead/")
    ).count() == 0

    # exactly-once intact: re-drain under a fresh checkpoint is a no-op
    rows = _daily_rows(wh)
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "c2"))
    assert _daily_rows(wh) == rows, "replay after compaction re-applied"


def test_legacy_v1_ledger_migrates_without_replay(spark, tmp_path):
    """A pre-upgrade ledger (src_file only, no applied_at) must keep
    suppressing its files after the schema migration."""
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    src = str(tmp_path / "src")
    _events(spark, [(1, 9, "view", 5)]).write.parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "c1"))

    # rewrite the ledger in the v1 single-column shape
    v1 = wh.read(jobs.ROLLUP_LEDGER).select("src_file")
    wh.overwrite(jobs.ROLLUP_LEDGER, v1)
    assert wh.read(jobs.ROLLUP_LEDGER).columns == ["src_file"]

    rows = _daily_rows(wh)
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "c2"))
    assert _daily_rows(wh) == rows, "v1 ledger entries stopped suppressing"
    assert "applied_at" in wh.read(jobs.ROLLUP_LEDGER).columns


def test_checkpoint_loss_does_not_drop_new_files(spark, tmp_path):
    """Round-2 ADVICE regression: after a checkpoint loss/recreate, a
    drain that re-delivers OLD files alongside genuinely NEW ones must
    apply exactly the new files — a warehouse-global max-batch-id ledger
    would see restarted batch ids and silently skip everything."""
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    first = _events(spark, [(d, 9, "view", 5) for d in (1, 2)])
    src = str(tmp_path / "src")
    first.write.parquet(src)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt1"))

    # New files land; the checkpoint is lost (fresh dir -> ids restart).
    late = _events(spark, [(3, 9, "click", 2)])
    late.write.mode("append").parquet(src)
    jobs.stream_rollups_from_events(spark, wh, src, str(tmp_path / "ckpt2"))

    wh_ref = Warehouse(spark, str(tmp_path / "ref"))
    rollups.build_cascade(wh_ref, spark.read.parquet(src))
    assert _daily_rows(wh) == _daily_rows(wh_ref), (
        "new files after checkpoint loss were skipped or old files "
        "double-applied"
    )


def test_ivm_delta_apply_zeroes_creates_and_updates_groups(spark):
    """One delta batch must simultaneously: update a surviving group
    (mixed insert+retract), remove a group whose count reaches zero,
    and create a group the view has never seen."""
    import pytest

    from _event_intelligence_data_warehouse_spark.operators import ivm

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5), ("b", 7)],
        "k string, v long",
    )
    view = ivm.agg_base(base, ["k"], {"sum_v": "v"})
    delta = spark.createDataFrame(
        [("a", 100, 1), ("a", 10, -1),      # a: net 0 rows, +90 value
         ("b", 5, -1), ("b", 7, -1),        # b: count reaches zero
         ("c", 42, 1)],                      # c: brand-new group
        "k string, v long, _op int",
    )
    got = {
        r.k: (r.n_rows, r.sum_v)
        for r in ivm.agg_delta_apply(
            view, delta, ["k"], {"sum_v": "v"}
        ).collect()
    }
    assert got == {"a": (2, 120), "c": (1, 42)}

    # Retraction of a never-inserted row raises at execution, not
    # silently clamping to zero.
    bad = spark.createDataFrame(
        [("zz", 1, -1)], "k string, v long, _op int"
    )
    out = ivm.agg_delta_apply(view, bad, ["k"], {"sum_v": "v"})
    with pytest.raises(Exception, match="IVM retraction"):
        out.collect()


def test_ivm_roundtrip_fixture_is_non_vacuous(spark):
    """The contract fixture must actually exercise the algebra: some
    base groups vanish (whole-day retractions) and some view rows come
    only from inserted groups."""
    from _event_intelligence_data_warehouse_spark.contract import QUERIES
    from _event_intelligence_data_warehouse_spark.contract import load
    from _event_intelligence_data_warehouse_spark.operators import ivm

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders").select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint").alias("d"),
        "o_orderkey",
    )
    base_groups = (
        o.filter(F.col("o_orderkey") % 17 != 3)
        .select("o_orderpriority", "d").distinct()
    )
    final = QUERIES["ivm_retraction_roundtrip"](spark, sf)
    vanished = base_groups.join(
        final, ["o_orderpriority", "d"], "left_anti"
    ).count()
    created = final.join(
        base_groups, ["o_orderpriority", "d"], "left_anti"
    ).count()
    assert vanished > 0, "no group was retracted to zero"
    assert created > 0, "no insert-only group appeared"


def test_stream_ivm_restart_continuation_matches_one_shot(spark, tmp_path):
    """Two separate stream drains on one checkpoint (inserts first,
    retraction file added afterwards) end in exactly the final state of
    folding everything at once — batch boundaries and restarts cannot
    change an abelian fold."""
    from _event_intelligence_data_warehouse_spark.operators import ivm
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k string, v long"
    )
    keys, measures = ["k"], {"sum_v": "v"}
    delta_dir = str(tmp_path / "delta")
    ins = spark.createDataFrame(
        [("a", 100, 1), ("c", 42, 1)], "k string, v long, _op int"
    )
    ins.coalesce(1).write.parquet(f"{delta_dir}/b0")

    view_dir, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    p1 = jobs.stream_ivm_view(
        spark, delta_dir, view_dir, ckpt,
        initial_view=ivm.agg_base(base, keys, measures),
        keys=keys, sum_cols=measures,
    )
    got1 = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(p1).collect()}
    assert got1 == {"a": (3, 130), "b": (1, 5), "c": (1, 42)}

    dels = spark.createDataFrame(
        [("b", 5, -1), ("a", 10, -1)], "k string, v long, _op int"
    )
    dels.coalesce(1).write.parquet(f"{delta_dir}/b1")
    p2 = jobs.stream_ivm_view(
        spark, delta_dir, view_dir, ckpt,
        initial_view=ivm.agg_base(base, keys, measures),
        keys=keys, sum_cols=measures,
    )
    got2 = {r.k: (r.n_rows, r.sum_v) for r in spark.read.parquet(p2).collect()}
    # one-shot equivalent
    exp = {
        r.k: (r.n_rows, r.sum_v)
        for r in ivm.agg_delta_apply(
            ivm.agg_base(base, keys, measures),
            ins.unionByName(dels), keys, measures,
        ).collect()
    }
    assert got2 == exp == {"a": (2, 120), "c": (1, 42)}
