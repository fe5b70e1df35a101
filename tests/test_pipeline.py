"""End-to-end pipeline tests (SURVEY.md §5): double-run idempotency, dirty
data through the quality gate, KPI view shapes; plus the ordering that
picks which 50 registered queries the driver re-verifies."""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.contract import (
    ORACLES,
    QUERIES,
    driver_sample_order,
)
from _event_intelligence_data_warehouse_spark.plans import pipeline


def _args(**kw):
    argv = ["--source", "csv", "--generate-sample"]
    a = pipeline.parse_args(argv)
    for k, v in kw.items():
        setattr(a, k, v)
    return a


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    whdir = str(tmp_path / "wh")
    r1 = pipeline.run_pipeline(spark, whdir, _args(sample_rows=200))
    s1 = r1["summary"]
    assert s1["raw_events"] == 200
    assert s1["fact_events"] == 200
    assert s1["dim_source"] == 1
    assert s1["dim_venue"] == 6
    assert s1["dim_category"] == 5
    assert s1["quality_log"] == 5

    # Second run with the same sample: bronze dedups everything, watermark
    # means nothing new to load; fact/dim counts must not move.
    r2 = pipeline.run_pipeline(spark, whdir, _args(sample_rows=200))
    s2 = r2["summary"]
    assert s2["fact_events"] == s1["fact_events"]
    assert s2["dim_venue"] == s1["dim_venue"]
    assert s2["dim_date"] == s1["dim_date"]
    assert s2["raw_events"] == 200
    assert r2["load"] == {"staged": 0}
    # quality ran again -> 5 more log rows
    assert s2["quality_log"] == 10


def test_pipeline_quality_statuses_on_dirty_data(spark, tmp_path):
    whdir = str(tmp_path / "whd")
    pipeline.run_pipeline(spark, whdir, _args(sample_rows=500, dirty=True))
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, whdir)
    q = {r.check_name: r for r in wh.read("quality_log").collect()}
    # FIXTURES.md dirty rates sit under the thresholds -> warnings.
    assert q["null_event_names"].status == "warning"
    assert q["invalid_event_dates"].status == "warning"
    assert q["price_min_gt_max"].status == "warning"
    assert q["duplicate_event_ids"].records_failed == 0  # bronze deduped them
    assert q["orphan_fact_records"].status in ("passed", "warning")
    for r in q.values():
        assert r.pass_rate is not None and r.records_checked > 0


def test_kpi_views_registered_and_aliased(spark, tmp_path):
    whdir = str(tmp_path / "whk")
    pipeline.run_pipeline(spark, whdir, _args(sample_rows=150))
    cat = spark.table("kpi_events_by_category")
    assert set(cat.columns) == {
        "category_name", "subcategory", "total_events", "events_on_sale",
        "avg_ticket_price_eur", "cheapest_ticket_eur", "most_expensive_ticket",
    }
    assert cat.agg(F.sum("total_events")).first()[0] == 150
    city = spark.table("kpi_events_by_city")
    assert city.agg(F.sum("total_events")).first()[0] == 150
    wd = spark.table("kpi_weekend_vs_weekday").collect()
    assert abs(sum(r.pct_of_total for r in wd) - 100.0) < 0.21
    health = spark.table("kpi_pipeline_health").collect()
    assert health and health[0].successful_runs >= 1
    dq = spark.table("kpi_data_quality")
    assert dq.count() == 5


def test_incremental_second_batch_appends(spark, tmp_path):
    whdir = str(tmp_path / "whi")
    pipeline.run_pipeline(spark, whdir, _args(sample_rows=100))
    # New batch with different ids (offset via different row count slice).
    from _event_intelligence_data_warehouse_spark.sources.synthetic import (
        generate_sample_events,
    )
    from _event_intelligence_data_warehouse_spark.sources import bronze
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    wh = Warehouse(spark, whdir)
    batch2 = generate_sample_events(spark, 150).filter(
        F.col("event_id") >= "MOCK_00100"
    )
    bronze.land_batch(wh, batch2, source="csv")
    r = pipeline.run_pipeline(spark, whdir, _args(skip_ingest=True))
    assert r["load"]["staged"] == 50
    assert r["summary"]["fact_events"] == 150
    assert r["summary"]["raw_events"] == 150


def test_one_pass_checks_match_per_check_functions(spark):
    """run_raw_checks_one_pass must agree field-for-field with the four
    individual check functions on data exercising every status tier."""
    from _event_intelligence_data_warehouse_spark.contract.governance_queries import (
        _dirty_raw,
    )
    from _event_intelligence_data_warehouse_spark.plans import quality as qc
    from _event_intelligence_data_warehouse_spark.plans.staging import stage_events

    raw = _dirty_raw(spark, "/root/testdata/sf0.001")

    singles = [
        qc.check_null_event_names(raw, "t"),
        qc.check_invalid_event_dates(raw, "t"),
        qc.check_price_min_gt_max(stage_events(raw), "t"),
        qc.check_duplicate_event_ids(raw, "t"),
    ]
    want = {}
    for df in singles:
        r = df.collect()[0]
        want[r.check_name] = (
            r.table_name, r.records_checked, r.records_failed,
            r.pass_rate, r.status,
        )
    got = {}
    for r in qc.run_raw_checks_one_pass(raw, "t").collect():
        got[r.check_name] = (
            r.table_name, r.records_checked, r.records_failed,
            r.pass_rate, r.status,
        )
    assert got == want
    # at least one non-passed tier exercised
    assert any(v[4] != "passed" for v in want.values())


def test_pipeline_end_to_end_in_manifest_mode(spark, tmp_path):
    """The whole reference pipeline (ingest -> staging -> dims -> fact
    -> quality -> KPIs) runs on the manifest storage engine: every
    table commit is an atomic pointer publish, re-runs are idempotent,
    and the fact table's commit history is visible."""
    from _event_intelligence_data_warehouse_spark.plans import pipeline
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    whdir = str(tmp_path / "mwh")
    args = pipeline.parse_args(
        ["--warehouse-dir", whdir, "--source", "csv", "--generate-sample",
         "--sample-rows", "80", "--manifest"]
    )
    r1 = pipeline.run_pipeline(spark, whdir, args)
    assert r1["summary"]["fact_events"] == 80

    wh = Warehouse(spark, whdir)
    hist = wh.history("fact_events")
    assert hist and hist[0]["version"] >= 1

    # idempotent double run: the re-landed sample dedups away at bronze,
    # the watermark stages nothing new, and the fact upsert sees an
    # empty batch — so NO new fact version commits (no spurious
    # snapshots from no-op runs) and counts are unchanged.
    v_before = wh._current_version("fact_events")
    r2 = pipeline.run_pipeline(spark, whdir, args)
    assert r2["summary"]["fact_events"] == 80
    assert wh._current_version("fact_events") == v_before


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reference_head(names, ledger_dir):
    """The driver-sample rule, stated here independently of
    contract.driver_sample_order: names with no ledger row first, then
    the rest by (last round with a row, name), 50 in all."""
    last = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), rnd)
    never = [n for n in names if n not in last]
    by_age = sorted((n for n in names if n in last), key=lambda n: (last[n], n))
    return (never + by_age)[:50]


def test_driver_sample_head_slate_invariants():
    """The driver verifies the FIRST 50 registry entries: they must be 50
    distinct names, the same in QUERIES and ORACLES, and exactly the
    stalest-verified names under the committed CORRECTNESS ledgers; the
    §2-critical warehouse rows must stay registered with oracles so the
    full local gate keeps checking them whether or not they are sampled."""
    head = list(QUERIES)[:50]
    assert len(set(head)) == 50
    assert list(ORACLES)[:50] == head
    for must in (
        "json_extract_props",        # S4
        "staging_cleanse",           # P1-P10 / V1
        "fact_build_star",           # J1-J7 / F5-F7
        "quality_five_checks",       # G4 / A9-A11
        "kpi_weekend_vs_weekday",    # V2 / W1
        "scd2_change_intervals",     # U5
        "upsert_merge_latest_state", # U3-U4
        "dim_date_attributes",       # D1-D6
        "keys_md5_concat_split",     # F1-F3
    ):
        assert must in QUERIES and must in ORACLES, (
            f"{must} lost its registration/oracle"
        )
    assert head == _reference_head(list(QUERIES), REPO)


def _write_ledger(ledger_dir, tag, names):
    rows = {n: {"rows_match": True, "hash_match": True} for n in names}
    (ledger_dir / f"CORRECTNESS_r{tag}.json").write_text(json.dumps(rows))


def test_driver_sample_order_on_synthetic_ledgers(tmp_path):
    names = ["c", "a", "b", "x", "y"]
    # no ledgers: plain registration order
    assert driver_sample_order(names, str(tmp_path)) == names
    # never-verified first in registration order, then oldest-verified;
    # ledger rows for unregistered names are ignored
    _write_ledger(tmp_path, "01", ["y", "ghost"])
    _write_ledger(tmp_path, "02", ["x"])
    assert driver_sample_order(names, str(tmp_path)) == [
        "c", "a", "b", "y", "x",
    ]


def test_driver_sample_order_parses_round_numbers(tmp_path):
    """r10 is newer than r9, both unpadded and zero-padded."""
    _write_ledger(tmp_path, "9", ["a", "b"])
    _write_ledger(tmp_path, "10", ["a", "c"])
    assert driver_sample_order(["a", "b", "c"], str(tmp_path)) == [
        "b", "a", "c",
    ]
    _write_ledger(tmp_path, "08", ["c"])
    _write_ledger(tmp_path, "11", ["b"])
    assert driver_sample_order(["a", "b", "c"], str(tmp_path)) == [
        "a", "c", "b",
    ]


def test_driver_sample_order_breaks_ties_by_name(tmp_path):
    _write_ledger(tmp_path, "01", ["zeta", "alpha", "mid"])
    assert driver_sample_order(["zeta", "alpha", "mid"], str(tmp_path)) == [
        "alpha", "mid", "zeta",
    ]


def test_driver_sample_order_caps_head_at_50(tmp_path):
    """40 never-verified names plus the 10 oldest fill the head; the
    other verified names follow in registration order."""
    names = [f"q{i:02d}" for i in range(59, -1, -1)]  # q59 .. q00
    _write_ledger(tmp_path, "02", names[:10])
    _write_ledger(tmp_path, "01", names[10:20])
    got = driver_sample_order(names, str(tmp_path))
    assert got[:50] == names[20:] + sorted(names[10:20])
    assert got[50:] == names[:10]


def test_new_ledger_rotates_head_without_failing(tmp_path):
    """A ledger landing after a round closes covers the current head; the
    computed head then moves wholly onto the next-stalest names and every
    invariant still holds, so a fresh clone holding it stays green."""
    ledgers = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    for path in ledgers:
        shutil.copy(path, tmp_path)
    nxt = 1 + max(
        int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")])
        for p in ledgers
    )
    head = list(QUERIES)[:50]
    _write_ledger(tmp_path, str(nxt), head)

    got = driver_sample_order(list(QUERIES), str(tmp_path))
    assert sorted(got) == sorted(QUERIES)
    assert not set(got[:50]) & set(head)
    assert got[:50] == _reference_head(list(QUERIES), str(tmp_path))
