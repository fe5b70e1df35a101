"""tools/measure.py: the run-and-measure core of bench.py and the tools."""

from __future__ import annotations

import json
import time

import pytest

from tools import measure


def test_run_counts_only_its_own_jobs(spark):
    sc = spark.sparkContext
    spark.range(10).collect()  # outside any group
    sc.setLocalProperty(measure.JOB_GROUP, "own-jobs")
    spark.range(10).collect()  # same group, before the run
    sc.setLocalProperty(measure.JOB_GROUP, None)

    rec = measure.run(spark, "own-jobs", lambda: spark.range(10))

    assert rec["jobs"] == 1
    assert rec["tasks"] == spark.range(10).rdd.getNumPartitions()
    assert 0 <= rec["build_s"] <= rec["wall_s"]


def test_run_times_and_writes_every_returned_frame(spark):
    def build():
        time.sleep(0.2)
        return spark.range(10), spark.range(5)

    rec = measure.run(spark, "two-frames", build)

    assert rec["jobs"] == 2  # one noop write per frame
    assert 0.2 <= rec["build_s"] <= rec["wall_s"]


def test_run_propagates_build_errors_and_restores_the_job_group(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(measure.JOB_GROUP, "outer")

    def build():
        raise ValueError("boom")

    try:
        with pytest.raises(ValueError, match="boom"):
            measure.run(spark, "failing", build)
        assert sc.getLocalProperty(measure.JOB_GROUP) == "outer"
    finally:
        sc.setLocalProperty(measure.JOB_GROUP, None)


def test_cli_releases_caches_after_each_query_and_reports_failures(
    spark, monkeypatch, capsys
):
    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    def persisting_query(spark, sf_dir):
        return cache.persist(spark.range(10))

    def failing_query(spark, sf_dir):
        cache.persist(spark.range(5))
        raise RuntimeError("boom")

    monkeypatch.setattr(measure, "session", lambda app_name: spark)
    monkeypatch.setattr(measure, "warm", lambda spark, sf_dir: None)
    monkeypatch.setitem(QUERIES, "persisting_query", persisting_query)
    monkeypatch.setitem(QUERIES, "failing_query", failing_query)

    assert measure.main(["unused", "persisting_query"]) == 0
    assert cache._OWNED == []
    assert measure.main(["unused", "persisting_query", "failing_query"]) == 1
    assert cache._OWNED == []

    recs = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert [r["query"] for r in recs] == [
        "persisting_query", "failing_query", "persisting_query",
    ]
    assert recs[0]["jobs"] == recs[2]["jobs"] == 1
    assert recs[1]["error"] == "RuntimeError: boom"
