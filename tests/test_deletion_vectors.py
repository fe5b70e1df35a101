"""Merge-on-read deletion vectors: delete_where(mode="dv") writes
(file_key, row_index) position deletes instead of rewriting candidate
files; every read path (read, scan, time travel, DML candidate reads,
partial compaction, clone, diff) applies them; maintenance rewrites
(compact, cluster_by, overwrite) materialize and clear them; vacuum and
fsck treat DV files as referenced."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.storage import Warehouse


@pytest.fixture()
def mwh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "mwh"),
                     retain_versions=10)


def _seed(spark, mwh, n=100):
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("grp"),
        (F.col("id") * 2).alias("val"),
    )
    mwh.overwrite("t", df.repartition(4))
    return df


def _ks(mwh, table="t"):
    return sorted(r.k for r in mwh.read(table).collect())


def test_dv_delete_removes_rows_without_rewriting_files(spark, mwh):
    _seed(spark, mwh)
    files_before = sorted(mwh._manifest("t")["files"])
    res = mwh.delete_where("t", [("grp", "==", 3)], mode="dv")
    assert res["rows_deleted"] == 10
    assert res["files_rewritten"] == 0
    m = mwh._manifest("t")
    assert sorted(m["files"]) == files_before, "dv delete must not rewrite"
    assert m["dv_files"], "manifest must carry the vector"
    assert _ks(mwh) == sorted(k for k in range(100) if k % 10 != 3)
    # re-deleting the same predicate is a no-op (no new matches)
    res2 = mwh.delete_where("t", [("grp", "==", 3)], mode="dv")
    assert res2["version"] is None and res2["rows_deleted"] == 0


def test_dv_deletes_accumulate_and_time_travel_sees_through(spark, mwh):
    _seed(spark, mwh)
    v0 = mwh._manifest("t")["version"]
    mwh.delete_where("t", [("grp", "==", 1)], mode="dv")
    v1 = mwh._manifest("t")["version"]
    mwh.delete_where("t", [("k", "<", 5)], mode="dv")
    assert _ks(mwh) == sorted(
        k for k in range(5, 100) if k % 10 != 1
    )
    # pre-delete version: full image; mid version: only grp==1 gone
    assert len(mwh.read("t", version=v0).collect()) == 100
    assert sorted(r.k for r in mwh.read("t", version=v1).collect()) == \
        sorted(k for k in range(100) if k % 10 != 1)


def test_scan_and_stats_count_respect_dvs(spark, mwh):
    _seed(spark, mwh)
    assert mwh.stats_count("t") == 100
    mwh.delete_where("t", [("grp", "==", 0)], mode="dv")
    got = sorted(r.k for r in mwh.scan("t", [("grp", "==", 0)]).collect())
    assert got == [], "scan resurrected dv-deleted rows"
    got2 = sorted(r.k for r in mwh.scan("t", [("k", "<", 20)]).collect())
    assert got2 == [k for k in range(1, 20) if k % 10 != 0]
    # stats-only counts must refuse while vectors exist
    assert mwh.stats_count("t") is None
    assert mwh.read("t").count() == 90


def test_rewrite_dml_on_dv_table_does_not_resurrect(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("k", "==", 7)], mode="dv")
    # rewrite-mode delete of a different slice must keep 7 dead
    mwh.delete_where("t", [("grp", "==", 5)])
    ks = _ks(mwh)
    assert 7 not in ks and all(k % 10 != 5 for k in ks)
    # update keeps it dead too
    mwh.update_where("t", [("k", "==", 8)], {"val": F.lit(0)})
    ks2 = _ks(mwh)
    assert 7 not in ks2
    vals = {r.k: r.val for r in mwh.read("t").collect()}
    assert vals[8] == 0


def test_merge_into_on_dv_table(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("k", "==", 3)], mode="dv")
    src = spark.createDataFrame(
        [(3, 99, 111), (200, 0, 222)], "k long, grp long, val long"
    )
    res = mwh.merge_into("t", src, ["k"])
    ks = _ks(mwh)
    # deleted key 3 re-enters as an INSERT (it was dead); 200 is new
    assert 3 in ks and 200 in ks
    assert res["rows_inserted"] == 2
    vals = {r.k: r.val for r in mwh.read("t").collect()}
    assert vals[3] == 111 and vals[200] == 222


def test_compact_materializes_and_clears_dvs(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("grp", "==", 2)], mode="dv")
    before = _ks(mwh)
    mwh.compact("t")
    m = mwh._manifest("t")
    assert "dv_files" not in m or not m["dv_files"]
    assert _ks(mwh) == before
    assert mwh.stats_count("t") == 90  # fast path live again


def test_append_carries_dvs_and_partial_compaction_applies_them(
    spark, mwh
):
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
    )
    mwh.overwrite("p", df, partition_col="grp")
    mwh.delete_where("p", [("k", "<", 8)], mode="dv")
    more = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
    )
    mwh.append("p", more)
    ks = sorted(r.k for r in mwh.read("p").collect())
    assert ks == list(range(8, 40)) + list(range(100, 110))
    res = mwh.compact_partitions_where("p", "grp", min_files=2)
    assert res["version"] is not None
    ks2 = sorted(r.k for r in mwh.read("p").collect())
    assert ks2 == ks, "partial compaction resurrected or lost rows"


def test_clone_and_diff_see_dv_applied_image(spark, mwh):
    _seed(spark, mwh)
    v0 = mwh._manifest("t")["version"]
    mwh.delete_where("t", [("grp", "==", 9)], mode="dv")
    mwh.clone("t", "t2")
    assert sorted(r.k for r in mwh.read("t2").collect()) == _ks(mwh)
    d = mwh.diff("t", v0, None, ["k"])
    changes = {(r.k, r.change) for r in d.collect()}
    assert changes == {(k, "delete") for k in range(100) if k % 10 == 9}


def test_vacuum_and_fsck_keep_dv_files(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("grp", "==", 4)], mode="dv")
    rep = mwh.fsck("t")
    assert rep["ok"] and not rep["missing"]
    # dv parquet files must not be flagged unreferenced
    assert not any("data/" in u for u in rep["unreferenced"])
    mwh.vacuum("t", retain_versions=1, grace_seconds=0)
    assert _ks(mwh) == sorted(k for k in range(100) if k % 10 != 4)


def test_restore_carries_vectors(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("grp", "==", 6)], mode="dv")
    v_dv = mwh._manifest("t")["version"]
    mwh.delete_where("t", [("grp", "==", 7)], mode="dv")
    mwh.restore("t", v_dv)
    ks = _ks(mwh)
    assert all(k % 10 != 6 for k in ks)
    assert any(k % 10 == 7 for k in ks), "restore lost the 7s"


def test_in_filter_delete_scan_and_pruning(spark, mwh):
    _seed(spark, mwh)
    got = sorted(r.k for r in mwh.scan("t", [("k", "in", [3, 7, 99])]).collect())
    assert got == [3, 7, 99]
    res = mwh.delete_where("t", [("k", "in", [3, 7, 99])], mode="dv")
    assert res["rows_deleted"] == 3
    assert not {3, 7, 99} & set(_ks(mwh))
    # pruning: an in-list entirely outside the bounds keeps no files
    keep, total = mwh.pruned_files("t", [("k", "in", [5000, 6000])])
    assert keep == [] and total > 0


def test_stream_gdpr_erasure_idempotent(spark, tmp_path, mwh):
    import json
    import os

    from _event_intelligence_data_warehouse_spark.streaming import jobs

    _seed(spark, mwh)
    indir = str(tmp_path / "req")
    ckpt = str(tmp_path / "ck")
    os.makedirs(indir, exist_ok=True)
    with open(os.path.join(indir, "r1.json"), "w") as f:
        for uid in (11, 12):
            f.write(json.dumps(
                {"user_id": uid, "requested_at": "2026-08-14"}
            ) + "\n")
    jobs.stream_gdpr_erasure(
        spark, mwh, indir, ckpt, target_table="t", key_col="k"
    )
    assert not {11, 12} & set(_ks(mwh))
    audit = mwh.read("erasure_audit").collect()
    assert len(audit) == 1 and audit[0].rows_deleted == 2

    # replay with a FRESH checkpoint (simulated at-least-once redelivery):
    # rows already vectored out -> second audit row records 0 deletions
    jobs.stream_gdpr_erasure(
        spark, mwh, indir, str(tmp_path / "ck2"),
        target_table="t", key_col="k",
    )
    audit2 = sorted(
        (r.rows_deleted for r in mwh.read("erasure_audit").collect())
    )
    assert audit2 == [0, 2]
    assert not {11, 12} & set(_ks(mwh))


def test_stream_gdpr_erasure_reconstructs_audit_after_crash(
    spark, tmp_path, mwh
):
    """Crash window: the DV delete published but the audit append did
    not. The replayed batch must NOT re-run the delete (it would match
    nothing and record rows_deleted=0/version=None) — it reconstructs
    the original accounting from the stamped commit in the history."""
    import hashlib
    import json
    import os

    from _event_intelligence_data_warehouse_spark.streaming import jobs

    _seed(spark, mwh)
    indir = str(tmp_path / "req")
    ckpt = str(tmp_path / "ck")
    os.makedirs(indir, exist_ok=True)
    with open(os.path.join(indir, "r1.json"), "w") as f:
        for uid in (21, 22):
            f.write(json.dumps(
                {"user_id": uid, "requested_at": "2026-08-14"}
            ) + "\n")
    # simulate the first attempt dying after the delete publish: run
    # the stamped delete exactly as batch 0 of this checkpoint would,
    # with no audit row written
    app = hashlib.md5(os.path.abspath(ckpt).encode()).hexdigest()[:16]
    with mwh.commit_metadata(gdpr_app=app, gdpr_batch=0):
        res = mwh.delete_where("t", [("k", "in", [21, 22])], mode="dv")
    assert res["rows_deleted"] == 2
    assert not {21, 22} & set(_ks(mwh))

    # replay from the SAME checkpoint: batch 0 redelivers the file
    jobs.stream_gdpr_erasure(
        spark, mwh, indir, ckpt, target_table="t", key_col="k"
    )
    audit = mwh.read("erasure_audit").collect()
    assert len(audit) == 1
    assert audit[0].rows_deleted == 2, (
        "replay under-recorded the erasure instead of reconstructing it"
    )
    assert audit[0].table_version == res["version"]

    # and a SECOND replay (audit row now present) is a pure no-op
    jobs.stream_gdpr_erasure(
        spark, mwh, indir, str(tmp_path / "ck_same"),
        target_table="t", key_col="k",
    )
    # fresh checkpoint = new stream identity: legitimately re-audited
    # as a 0-row delete, never double-counted
    rows = sorted(r.rows_deleted for r in mwh.read("erasure_audit").collect())
    assert rows == [0, 2]


def test_rewrite_covering_all_vectored_files_clears_dvs(spark, mwh):
    _seed(spark, mwh)
    mwh.delete_where("t", [("grp", "==", 3)], mode="dv")
    assert mwh.stats_count("t") is None  # vectors present
    # rewrite-mode delete with an unbounded predicate: every file is a
    # candidate, so every vectored file is materialized -> the carry
    # prunes the now-dead vectors and the stats fast path returns
    mwh.delete_where("t", [("k", ">=", 0)])
    m = mwh._manifest("t")
    assert not m.get("dv_files"), "dead vectors carried past a rewrite"
    # fast path restored AND correct: the unbounded delete left 0 rows
    assert mwh.stats_count("t") == 0
    assert _ks(mwh) == []


def test_partial_rewrite_keeps_vectors_for_untouched_files(spark, mwh):
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp")
    )
    mwh.overwrite("q", df, partition_col="grp")
    # vector out rows living in partitions 0 and 1
    mwh.delete_where("q", [("k", "in", [0, 1, 4, 5])], mode="dv")
    # rewrite ONLY partition 0's rows (partition pruning bounds cands)
    mwh.delete_where("q", [("grp", "==", 0), ("k", "==", 8)])
    m = mwh._manifest("q")
    # partition 1 files were untouched: their vectors must survive
    assert m.get("dv_files"), "live vectors dropped by partial rewrite"
    ks = sorted(r.k for r in mwh.read("q").collect())
    assert 1 not in ks and 5 not in ks   # partition-1 deletes held
    assert 0 not in ks and 4 not in ks   # partition-0 deletes held
    assert 8 not in ks                   # rewrite delete held
