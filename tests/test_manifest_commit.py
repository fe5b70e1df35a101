"""Manifest-mode storage: the object-store-safe commit protocol.

Rename-swap atomicity holds only on one POSIX filesystem; a 100 TB
warehouse lives on an object store where directory rename is neither
atomic nor cheap. Manifest mode commits by atomically replacing ONE
pointer file after all data/manifest files are durable, so a reader
resolves either the whole old image or the whole new one — never a
partition mix — no matter where a writer crashed. These tests drive the
fact upsert, the rollup cascade, and compaction through that path, and
inject crashes between the data write and the pointer publish.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import rollups
from _event_intelligence_data_warehouse_spark.storage import (
    ConcurrentWriteError,
    Warehouse,
)
from test_partitioned_upsert import _fact_batch, _rows, _upsert


def _mwh(spark, tmp_path, name="mwh"):
    return Warehouse(spark, str(tmp_path / name))


def _live_files(wh, table):
    return set(wh._manifest(table)["files"])


# -- fact upsert through the manifest path --------------------------------

def test_manifest_partitioned_upsert_matches_full_rewrite(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    base = _fact_batch(spark, range(40))
    upd = _fact_batch(spark, range(30, 50), status="cancelled",
                      ts="2026-02-01 00:00:00")
    _upsert(wh, base)
    _upsert(wh, upd)

    empty = spark.createDataFrame([], schemas.FACT_EVENTS)
    want = _rows(facts_mod.upsert_facts(
        facts_mod.upsert_facts(empty, base), upd
    ))
    assert _rows(wh.read("fact_events")) == want
    sks = [r[0] for r in wh.read("fact_events").select("event_sk").collect()]
    assert len(sks) == len(set(sks)) == 50


def test_manifest_untouched_partition_entries_are_stable(spark, tmp_path):
    """A single-key upsert replaces only its bucket's manifest entries;
    every other partition keeps the exact same (immutable) files."""
    wh = _mwh(spark, tmp_path)
    _upsert(wh, _fact_batch(spark, range(60)))
    before = _live_files(wh, "fact_events")
    pcol = facts_mod.FACT_PART_COL

    touched = _upsert(
        wh, _fact_batch(spark, [0], status="cancelled")
    )
    after = _live_files(wh, "fact_events")
    assert len(touched) == 1
    tval = str(touched[0])

    part = Warehouse._partition_of
    assert {f for f in before if part(f, pcol) != tval} == {
        f for f in after if part(f, pcol) != tval
    }, "an untouched partition's files changed"
    assert {f for f in before if part(f, pcol) == tval}.isdisjoint(
        {f for f in after if part(f, pcol) == tval}
    ), "the touched partition kept stale files"


# -- crash injection ------------------------------------------------------

def test_crash_before_pointer_publish_preserves_old_image(
    spark, tmp_path, monkeypatch
):
    """Kill the writer after every data file and the manifest file are
    written but before the pointer replace: readers still resolve the
    complete OLD image (never a partition mix), and a retry commits."""
    wh = _mwh(spark, tmp_path)
    df1 = spark.range(0, 30).select(
        "id", (F.col("id") % 3).alias("p"), F.lit("old").alias("tag")
    )
    wh.overwrite_partitions("t", df1, "p")
    want_old = sorted((r.id, r.p, r.tag) for r in wh.read("t").collect())

    real_replace = os.replace

    def crash_on_pointer(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise OSError("injected crash before pointer publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_pointer)
    df2 = spark.range(0, 20).select(
        "id", (F.col("id") % 2).alias("p"), F.lit("new").alias("tag")
    )
    with pytest.raises(OSError, match="injected crash"):
        wh.overwrite_partitions("t", df2, "p")
    monkeypatch.setattr(os, "replace", real_replace)

    # a fresh reader (new Warehouse: no cached state) sees the old image
    rd = Warehouse(spark, wh.root)
    got = sorted((r.id, r.p, r.tag) for r in rd.read("t").collect())
    assert got == want_old, "reader observed a torn/partial commit"
    assert all(r.tag == "old" for r in rd.read("t").collect())

    # the orphan snapshot + manifest are invisible garbage; vacuum
    # removes the files and the retry commits cleanly over them
    assert rd.vacuum("t") == 0, "fresh orphan collected inside grace"
    removed = rd.vacuum("t", grace_seconds=0)
    assert removed > 0, "crashed writer's orphan files were not collected"
    assert sorted(
        (r.id, r.p, r.tag) for r in rd.read("t").collect()
    ) == want_old
    rd.overwrite_partitions("t", df2, "p")
    tags = {r.p: {x.tag for x in rd.read("t").filter(F.col("p") == r.p)
                  .collect()}
            for r in rd.read("t").select("p").distinct().collect()}
    # retried commit replaced its partitions; the untouched one persists
    assert tags == {0: {"new"}, 1: {"new"}, 2: {"old"}}


def test_crash_mid_snapshot_write_preserves_old_image(spark, tmp_path):
    """Kill the writer while partition data files are still being
    written (no manifest at all): the table is untouched — the exact
    scenario where legacy dynamic overwrite leaves a partition mix."""
    wh = _mwh(spark, tmp_path)
    df1 = spark.range(0, 30).select(
        "id", (F.col("id") % 3).alias("p"), F.lit("old").alias("tag")
    )
    wh.overwrite_partitions("t", df1, "p")
    want = sorted(tuple(r) for r in wh.read("t").collect())

    # simulate: a crashed writer got two of three partitions out
    orphan = os.path.join(wh.path("t"), "data", "s_crashed")
    df1.filter(F.col("p") < 2).withColumn("tag", F.lit("new")).write.mode(
        "overwrite"
    ).partitionBy("p").parquet(orphan)

    rd = Warehouse(spark, wh.root)
    assert sorted(tuple(r) for r in rd.read("t").collect()) == want
    rd.vacuum("t", grace_seconds=0)
    assert not os.path.exists(orphan) or not any(
        f.endswith(".parquet")
        for _r, _d, fs in os.walk(orphan) for f in fs
    )
    assert sorted(tuple(r) for r in rd.read("t").collect()) == want


def test_concurrent_committed_writer_is_detected(spark, tmp_path, monkeypatch):
    """A writer whose base version was committed over by another writer
    raises ConcurrentWriteError instead of silently clobbering."""
    wh = _mwh(spark, tmp_path)
    wh.overwrite("t", spark.range(5).toDF("id"))  # v1

    real = Warehouse._current_version
    state = {"stale": True}

    def stale_once(self, table):
        if state["stale"]:
            state["stale"] = False
            return 0  # this writer planned its commit against v0
        return real(self, table)

    monkeypatch.setattr(Warehouse, "_current_version", stale_once)
    with pytest.raises(ConcurrentWriteError):
        wh.overwrite("t", spark.range(9).toDF("id"))
    monkeypatch.setattr(Warehouse, "_current_version", real)
    assert [r.id for r in wh.read("t").orderBy("id").collect()] == list(range(5))


def test_orphan_manifest_from_crashed_writer_is_skipped(spark, tmp_path):
    """A v1 manifest file with no pointer (writer died between manifest
    write and publish) must not block or corrupt the next commit."""
    wh = _mwh(spark, tmp_path)
    os.makedirs(wh._mdir("t"))
    with open(os.path.join(wh._mdir("t"), "v00000001.json"), "w") as f:
        f.write('{"version": 1, "files": ["data/sdead/x.parquet"]}')
    wh.overwrite("t", spark.range(3).toDF("id"))
    assert wh._current_version("t") == 2
    assert wh.read("t").count() == 3


# -- time travel + history ------------------------------------------------

def test_time_travel_reads_committed_versions(spark, tmp_path):
    """Every commit is an immutable snapshot: read(version=N) reproduces
    the exact table image of commit N while CURRENT moves on — the
    pin-the-training-set primitive."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.range(0, 10).toDF("id"))          # v1
    wh.append("t", spark.range(10, 20).toDF("id"))         # v2
    wh.overwrite("t", spark.range(100, 105).toDF("id"))    # v3

    assert sorted(r.id for r in wh.read("t").collect()) == list(range(100, 105))
    assert sorted(r.id for r in wh.read("t", version=1).collect()) == list(range(10))
    assert sorted(r.id for r in wh.read("t", version=2).collect()) == list(range(20))
    assert sorted(r.id for r in wh.read("t", version=3).collect()) == list(range(100, 105))

    hist = wh.history("t")
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert [h["parent"] for h in hist] == [2, 1, 0]
    assert [h["operation"] for h in hist] == ["overwrite", "append", "append"]
    assert all(h["committed_at"] for h in hist)
    assert all(h["bytes"] > 0 for h in hist)
    assert hist[2]["n_files"] < hist[1]["n_files"]  # append accumulated


def test_time_travel_rejects_orphan_and_unknown_versions(spark, tmp_path):
    """Orphan manifests (crashed writers that never published) and
    never-existing versions are not readable history."""
    wh = _mwh(spark, tmp_path)
    wh.overwrite("t", spark.range(5).toDF("id"))           # v1
    # crashed writer: manifest file exists, pointer never replaced
    with open(os.path.join(wh._mdir("t"), "v00000002.json"), "w") as f:
        f.write('{"version": 2, "parent": 1, "files": ["data/sdead/x.parquet"]}')
    wh.overwrite("t", spark.range(9).toDF("id"))           # skips to v3

    assert wh._current_version("t") == 3
    assert [h["version"] for h in wh.history("t")] == [3, 1]
    assert wh.read("t", version=1).count() == 5
    with pytest.raises(FileNotFoundError, match="committed chain"):
        wh.read("t", version=2)
    with pytest.raises(FileNotFoundError):
        wh.read("t", version=99)


def test_vacuum_retention_bounds_time_travel(spark, tmp_path):
    """vacuum(retain_versions=K) keeps the newest K commits fully
    readable and expires everything older — manifests AND data files —
    so storage does not grow with history forever."""
    wh = _mwh(spark, tmp_path)
    wh.overwrite("t", spark.range(0, 4).toDF("id"))    # v1
    wh.overwrite("t", spark.range(10, 14).toDF("id"))  # v2
    wh.overwrite("t", spark.range(20, 24).toDF("id"))  # v3

    removed = wh.vacuum("t", retain_versions=2)
    assert removed > 0, "v1's unreferenced data files should be collected"
    assert [h["version"] for h in wh.history("t")] == [3, 2]
    assert sorted(r.id for r in wh.read("t", version=2).collect()) == [10, 11, 12, 13]
    assert sorted(r.id for r in wh.read("t", version=3).collect()) == [20, 21, 22, 23]
    with pytest.raises(FileNotFoundError):
        wh.read("t", version=1)

    # default vacuum: only CURRENT survives (round-3 behavior unchanged)
    wh.vacuum("t")
    assert [h["version"] for h in wh.history("t")] == [3]
    with pytest.raises(FileNotFoundError):
        wh.read("t", version=2)
    assert sorted(r.id for r in wh.read("t").collect()) == [20, 21, 22, 23]


def test_time_travel_partitioned_upsert_versions(spark, tmp_path):
    """Partition-pruned upserts commit versions too: an earlier version
    reproduces pre-upsert fact state exactly."""
    wh = _mwh(spark, tmp_path)
    _upsert(wh, _fact_batch(spark, range(20)))
    v1 = wh._current_version("fact_events")
    want_v1 = _rows(wh.read("fact_events"))
    _upsert(
        wh, _fact_batch(spark, range(10, 30), status="cancelled")
    )
    assert wh.read("fact_events").count() == 30
    assert _rows(wh.read("fact_events", version=v1)) == want_v1


# -- file-level min/max stats + data skipping -----------------------------

def test_scan_prunes_files_by_minmax_bounds(spark, tmp_path):
    """Commit-time column bounds let a filtered scan skip files whose
    [min, max] cannot satisfy the predicate — and the result is exactly
    read().filter(...)."""
    wh = _mwh(spark, tmp_path)
    for lo in (0, 100, 200, 300):
        wh.append("t", spark.range(lo, lo + 100).coalesce(1).toDF("id"))

    keep, total = wh.pruned_files("t", [("id", ">=", 250), ("id", "<", 320)])
    assert total == 4
    assert len(keep) == 2, "only the [200,300) and [300,400) files survive"

    got = sorted(
        r.id for r in wh.scan(
            "t", [("id", ">=", 250), ("id", "<", 320)]
        ).collect()
    )
    assert got == list(range(250, 320))

    # equality point lookup touches one file
    keep_eq, _ = wh.pruned_files("t", [("id", "==", 150)])
    assert len(keep_eq) == 1
    assert [r.id for r in wh.scan("t", [("id", "==", 150)]).collect()] == [150]


def test_scan_prunes_string_bounds_and_empty_result(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    for names in (["alpha", "bravo"], ["mike", "november"], ["xray", "zulu"]):
        wh.append(
            "t",
            spark.createDataFrame([(n,) for n in names], "name string")
            .coalesce(1),
        )
    keep, total = wh.pruned_files("t", [("name", "==", "november")])
    assert total == 3 and len(keep) == 1
    assert [r.name for r in wh.scan("t", [("name", "==", "november")]).collect()] \
        == ["november"]

    # predicate outside every file's bounds: zero files, empty result,
    # schema preserved
    keep0, _ = wh.pruned_files("t", [("name", "==", "queen")])
    assert keep0 == []
    empty = wh.scan("t", [("name", "==", "queen")])
    assert empty.columns == ["name"] and empty.count() == 0


def test_scan_prunes_by_partition_path_value(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    df = spark.range(0, 90).select("id", (F.col("id") % 3).alias("p"))
    wh.overwrite("t", df, "p")
    keep, total = wh.pruned_files("t", [("p", "==", 1)])
    assert len(keep) < total
    assert all("p=1" in f for f in keep)
    got = sorted(r.id for r in wh.scan("t", [("p", "==", 1)]).collect())
    assert got == sorted(i for i in range(90) if i % 3 == 1)


def test_scan_without_stats_never_prunes_or_drops_rows(spark, tmp_path):
    """Files without recorded bounds (a manifest published without
    stats): scan must keep every file and still return the exact
    filtered rows."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.range(0, 50).toDF("id").coalesce(2))
    m = wh._manifest("t")
    wh._publish("t", m["files"], None, "drop_stats",
                expect_version=m["version"])
    keep, total = wh.pruned_files("t", [("id", "<", 10)])
    assert len(keep) == total, "files without bounds must never be pruned"
    assert sorted(r.id for r in wh.scan("t", [("id", "<", 10)]).collect()) \
        == list(range(10))


def test_scan_bounds_survive_partition_upsert_and_compaction(spark, tmp_path):
    """overwrite_partitions keeps untouched files' bounds and records the
    new files'; compaction re-records bounds for the rewritten files."""
    wh = _mwh(spark, tmp_path)
    df = spark.range(0, 60).select("id", (F.col("id") % 3).alias("p"))
    wh.overwrite("t", df, "p")
    upd = spark.range(60, 80).select("id", F.lit(1).alias("p"))
    wh.overwrite_partitions("t", upd, "p")

    m = wh._manifest("t")
    assert set(m["stats"]) == set(m["files"]), "every live file has bounds"
    keep, total = wh.pruned_files("t", [("id", ">=", 60)])
    assert len(keep) < total
    got = sorted(r.id for r in wh.scan("t", [("id", ">=", 60)]).collect())
    assert got == list(range(60, 80))

    wh.compact_partitions_where("t", "p", min_files=1)
    m2 = wh._manifest("t")
    assert set(m2["stats"]) == set(m2["files"])
    got2 = sorted(r.id for r in wh.scan("t", [("id", ">=", 60)]).collect())
    assert got2 == list(range(60, 80))


# -- compaction through the manifest path ---------------------------------

def test_manifest_compact_unpartitioned(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    for i in range(8):
        wh.append("t", spark.range(i * 10, (i + 1) * 10).toDF("id"))
    before = sorted(r.id for r in wh.read("t").collect())
    n_before, _ = wh.file_stats("t")
    assert n_before >= 8

    report = wh.compact("t", target_file_bytes=1 << 30)
    assert report["files_before"] == n_before
    assert report["files_after"] == 1
    assert sorted(r.id for r in wh.read("t").collect()) == before
    # vacuum ran inside compact: stale snapshots are gone from disk
    on_disk = sum(
        1 for _r, _d, fs in os.walk(wh.path("t"))
        for f in fs if f.endswith(".parquet")
    )
    assert on_disk == 1


def test_manifest_compact_partitions(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    df = spark.range(0, 60).select("id", (F.col("id") % 3).alias("p"))
    for i in range(4):
        wh.overwrite_partitions(
            "t", df.filter(F.col("id") % 4 == i), "p"
        )
    # each dynamic overwrite replaced all 3 partitions, so only the last
    # round is live; rebuild with appends to get multi-file partitions
    # (the first write sets the p= layout, which appends then follow)
    wh2 = _mwh(spark, tmp_path, "mwh2")
    wh2.overwrite("t", df.filter(F.col("id") % 4 == 0), "p")
    for i in range(1, 4):
        wh2.append("t", df.filter(F.col("id") % 4 == i))
    before = sorted((r.id, r.p) for r in wh2.read("t").collect())
    n_before, _ = wh2.file_stats("t")
    assert n_before > 3

    wh2.compact_partitions_where("t", "p", min_files=1)
    n_after, _ = wh2.file_stats("t")
    assert n_after == 3, "expected one file per partition"
    assert sorted((r.id, r.p) for r in wh2.read("t").collect()) == before


# -- rollup cascade through the manifest path -----------------------------

def _events(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    import datetime as dt

    return spark.createDataFrame(
        [(dt.datetime.fromisoformat(t), e, v) for t, e, v in rows], schema
    )


def test_manifest_rollup_incremental_matches_full(spark, tmp_path):
    b1 = _events(spark, [
        ("2026-01-01 10:15:00", "view", 1.0),
        ("2026-01-01 11:30:00", "click", 2.5),
        ("2026-02-03 09:00:00", "view", 4.0),
    ])
    b2 = _events(spark, [
        ("2026-01-01 10:45:00", "view", 3.0),
        ("2026-03-05 08:00:00", "purchase", 10.0),
    ])

    inc = _mwh(spark, tmp_path, "inc")
    rollups.build_cascade(inc, b1)
    rollups.refresh_incremental(inc, b2)

    full = _mwh(spark, tmp_path, "full")
    rollups.build_cascade(full, b1.unionByName(b2))

    for tbl in (rollups.HOURLY, rollups.DAILY, rollups.MONTHLY):
        cols = sorted(
            set(inc.read(tbl).columns) & set(full.read(tbl).columns)
        )
        got = sorted(
            tuple(r) for r in inc.read(tbl).select(cols).collect()
        )
        want = sorted(
            tuple(r) for r in full.read(tbl).select(cols).collect()
        )
        assert got == want, f"{tbl}: incremental != full through manifests"


def test_version_diff_recovers_the_batch_between_commits(spark, tmp_path):
    """wh.diff(v1, v2) = the CDC feed separating two committed images:
    inserts, deletes, and null-safe updates."""
    wh = _mwh(spark, tmp_path)
    wh.overwrite("t", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    ))  # v1
    wh.overwrite("t", spark.createDataFrame(
        [(2, "B"), (3, "c"), (4, "d")], "id long, val string"
    ))  # v2

    got = {
        r.id: r.change
        for r in wh.diff("t", 1, 2, ["id"]).collect()
    }
    assert got == {1: "delete", 2: "update", 4: "insert"}
    # to_version=None diffs against CURRENT
    got2 = {r.id: r.change for r in wh.diff("t", 1, None, ["id"]).collect()}
    assert got2 == got


def test_zorder_clustering_enables_multi_column_skipping(spark, tmp_path):
    """A row-major grid layout prunes only on the leading column; after
    cluster_by([x, y]) a y-predicate scan skips most files too — with
    identical results."""
    wh = _mwh(spark, tmp_path)
    # 64x64 grid written in x-major stripes: every file spans ALL of y
    grid = spark.range(0, 64 * 64).select(
        (F.col("id") / 64).cast("long").alias("x"),
        (F.col("id") % 64).alias("y"),
    )
    for x0 in range(0, 64, 8):
        wh.append(
            "t",
            grid.filter((F.col("x") >= x0) & (F.col("x") < x0 + 8))
            .coalesce(1),
        )
    want = sorted((r.x, r.y) for r in wh.read("t")
                  .filter(F.col("y") == 7).collect())
    keep_before, total_before = wh.pruned_files("t", [("y", "==", 7)])
    assert len(keep_before) == total_before == 8, \
        "x-major layout cannot skip on y"

    report = wh.cluster_by("t", ["x", "y"], target_files=16)
    assert report["files_after"] >= 8
    keep_after, total_after = wh.pruned_files("t", [("y", "==", 7)])
    assert len(keep_after) < total_after / 2, \
        "z-order should make y-bounds selective"
    got = sorted((r.x, r.y) for r in wh.scan("t", [("y", "==", 7)]).collect())
    assert got == want
    # and the x dimension still skips as well
    keep_x, total_x = wh.pruned_files("t", [("x", "<", 8)])
    assert len(keep_x) < total_x
    gx = sorted((r.x, r.y) for r in wh.scan("t", [("x", "<", 8)]).collect())
    assert gx == sorted((r.x, r.y) for r in wh.read("t")
                        .filter(F.col("x") < 8).collect())


def test_cluster_by_guards_partitioned_and_nonnumeric(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.overwrite("p", spark.range(9).select(
        "id", (F.col("id") % 3).alias("p")
    ), "p")
    with pytest.raises(ValueError, match="partitioned"):
        wh.cluster_by("p", ["id"])

    wh.overwrite("s", spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ))
    with pytest.raises(ValueError, match="numeric"):
        wh.cluster_by("s", ["name"])
    with pytest.raises(ValueError, match="64-bit"):
        wh.cluster_by("s", ["id"] * 8, bits=16)


def test_warehouse_retention_setting_survives_maintenance(spark, tmp_path):
    """Warehouse(retain_versions=K): routine compaction keeps K versions
    readable instead of silently erasing pinned history."""
    wh = Warehouse(spark, str(tmp_path / "r"),
                   retain_versions=3)
    wh.overwrite("t", spark.range(0, 5).toDF("id"))    # v1
    wh.overwrite("t", spark.range(5, 10).toDF("id"))   # v2
    wh.compact("t", target_file_bytes=1 << 30)         # v3 + vacuum
    assert sorted(r.id for r in wh.read("t", version=1).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.id for r in wh.read("t", version=2).collect()) == [5, 6, 7, 8, 9]
    assert [h["version"] for h in wh.history("t")] == [3, 2, 1]


def test_schema_evolution_additive_column(spark, tmp_path):
    """An append that adds a column surfaces older snapshots' rows with
    NULLs (additive evolution); time travel still reproduces the old
    schema, and scan() prunes on the new column where bounds exist."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame([(1, "a"), (2, "b")],
                                         "id long, val string"))
    wh.append("t", spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)],
        "id long, val string, quality double",
    ))
    got = {r.id: (r.val, r.quality) for r in wh.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", None),
                   3: ("c", 0.5), 4: ("d", 0.9)}
    # old version keeps the old schema
    v1 = wh.read("t", version=1)
    assert v1.columns == ["id", "val"] and v1.count() == 2
    # the new column's bounds prune files that predate it? No: files
    # without bounds are never pruned — both survive, results exact.
    keep, total = wh.pruned_files("t", [("quality", ">=", 0.8)])
    assert len(keep) >= 1
    got_q = [r.id for r in wh.scan("t", [("quality", ">=", 0.8)]).collect()]
    assert got_q == [4]


def test_scan_on_evolved_table_when_all_bounded_files_prune(spark, tmp_path):
    """Data skipping can prune every file that carries an evolved
    column; scan() must then match read().filter() (empty result), not
    raise UNRESOLVED_COLUMN."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame([(1, "a")], "id long, val string"))
    wh.append("t", spark.createDataFrame(
        [(2, "b", 0.5), (3, "c", 0.9)], "id long, val string, quality double"
    ))
    # quality < 0.3 prunes the only snapshot with quality bounds; only
    # the pre-evolution file survives (no bounds -> never pruned)
    got = wh.scan("t", [("quality", "<", 0.3)]).collect()
    want = wh.read("t").filter(F.col("quality") < 0.3).collect()
    assert got == want == []


# -- copy-on-write row-level DML ------------------------------------------

def _dml_table(spark, wh, table="t"):
    """Four single-file snapshots with disjoint id ranges [0,100)...[300,400),
    val = 'v<id>', quality = id/10 as double."""
    for lo in (0, 100, 200, 300):
        wh.append(table, (
            spark.range(lo, lo + 100).coalesce(1)
            .select(
                F.col("id"),
                F.concat(F.lit("v"), F.col("id")).alias("val"),
                (F.col("id") / F.lit(10.0)).alias("quality"),
            )
        ))


def test_delete_where_rewrites_only_candidate_files(spark, tmp_path):
    """A range delete touching one file's bounds rewrites that file
    alone; the other three carry into the new version verbatim (same
    path, same stats entry, zero bytes moved)."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    before = wh._manifest("t")
    res = wh.delete_where("t", [("id", ">=", 120), ("id", "<", 180)])
    assert res["candidates"] == 1 and res["carried"] == 3
    assert res["rows_deleted"] == 60 and res["files_rewritten"] >= 1

    after = wh._manifest("t")
    carried = set(before["files"]) & set(after["files"])
    assert len(carried) == 3, "untouched files must keep their paths"
    for f in carried:
        assert before["stats"][f] == after["stats"][f]

    got = sorted(r.id for r in wh.read("t").collect())
    assert got == [i for i in range(400) if not (120 <= i < 180)]
    # time travel still sees the pre-delete image
    assert wh.read("t", version=before["version"]).count() == 400


def test_delete_where_prune_to_nothing_is_a_noop(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    v = wh._current_version("t")
    res = wh.delete_where("t", [("id", ">=", 1000)])
    assert res["version"] is None and res["rows_deleted"] == 0
    assert wh._current_version("t") == v, "no-op must not publish"


def test_delete_where_null_predicate_rows_are_kept(spark, tmp_path):
    """SQL DELETE three-valued logic: rows where the predicate is NULL
    (NULL column value) survive the delete."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "id long, score double"
    ))
    res = wh.delete_where("t", [("score", ">", 10.0)])
    assert res["rows_deleted"] == 1
    assert sorted(r.id for r in wh.read("t").collect()) == [1, 2]


def test_update_where_rewrites_only_candidates_and_matches_sql(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    before = wh._manifest("t")
    res = wh.update_where(
        "t", [("id", ">=", 250), ("id", "<", 260)],
        {"val": F.lit("redacted"), "quality": "quality * 2"},
    )
    assert res["candidates"] == 1 and res["carried"] == 3
    assert res["rows_updated"] == 10

    after = wh._manifest("t")
    assert len(set(before["files"]) & set(after["files"])) == 3

    rows = {r.id: (r.val, r.quality) for r in wh.read("t").collect()}
    assert len(rows) == 400
    for i in range(400):
        if 250 <= i < 260:
            assert rows[i] == ("redacted", i / 10.0 * 2)
        else:
            assert rows[i] == (f"v{i}", i / 10.0)


def test_update_where_guards_partition_col_and_unknown_col(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, val string, bucket int"
    )
    wh.overwrite("t", df, partition_col="bucket")
    with pytest.raises(ValueError, match="partition column"):
        wh.update_where("t", [("id", "==", 1)], {"bucket": F.lit(99)})
    with pytest.raises(ValueError, match="not in table"):
        wh.update_where("t", [("id", "==", 1)], {"nope": F.lit(1)})


def test_dml_on_partitioned_table_preserves_layout(spark, tmp_path):
    """DML over a partitioned table prunes by partition-path value and
    keeps the partition layout (readers keep pruning afterwards)."""
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(30)],
        "id long, val string, bucket int",
    )
    wh.overwrite("t", df, partition_col="bucket")
    before = wh._manifest("t")
    res = wh.delete_where("t", [("bucket", "==", 1), ("id", "<", 10)])
    assert res["rows_deleted"] == 3  # ids 1,4,7
    after = wh._manifest("t")
    # files of buckets 0 and 2 carried verbatim
    untouched_before = {
        f for f in before["files"]
        if Warehouse._partition_of(f, "bucket") != "1"
    }
    assert untouched_before <= set(after["files"])
    # partition layout survives: any rewritten file still lands under a
    # bucket= dir (an all-rows-deleted candidate legitimately yields none)
    new_files = set(after["files"]) - set(before["files"])
    assert all(
        Warehouse._partition_of(f, "bucket") == "1" for f in new_files
    )
    got = sorted(r.id for r in wh.read("t").collect())
    assert got == [i for i in range(30) if not (i % 3 == 1 and i < 10)]
    # skipping still works post-DML
    keep, total = wh.pruned_files("t", [("bucket", "==", 2)])
    assert 0 < len(keep) < total


def test_update_where_on_evolved_table_skips_pre_column_rows(spark, tmp_path):
    """Files predating an evolved filter column see NULL there — their
    rows are never matched (SQL UPDATE semantics), and the rewrite
    keeps each file's own schema epoch readable."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame([(1, "a")], "id long, val string"))
    wh.append("t", spark.createDataFrame(
        [(2, "b", 0.9)], "id long, val string, quality double"
    ))
    res = wh.update_where(
        "t", [("quality", ">=", 0.5)], {"val": F.lit("hi")}
    )
    assert res["rows_updated"] == 1
    got = {r.id: r.val for r in wh.read("t").collect()}
    assert got == {1: "a", 2: "hi"}


def test_merge_into_upserts_with_file_pruning(spark, tmp_path):
    """MERGE replaces matched rows with source rows and inserts the
    rest; files outside the source's key envelope carry verbatim."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    before = wh._manifest("t")
    src = spark.createDataFrame(
        [(150, "updated", 9.9), (155, "updated", 8.8),
         (1000, "fresh", 1.0)],
        "id long, val string, quality double",
    )
    res = wh.merge_into("t", src, ["id"])
    # key envelope [150, 1000]: only the [0,100) file provably cannot
    # hold a source key — it carries verbatim; the rest are candidates
    assert res["rows_matched"] == 2 and res["rows_inserted"] == 1
    assert res["carried"] == 1 and res["candidates"] == 3
    after = wh._manifest("t")
    assert len(set(before["files"]) & set(after["files"])) == 1

    rows = {r.id: (r.val, r.quality) for r in wh.read("t").collect()}
    assert len(rows) == 401
    assert rows[150] == ("updated", 9.9) and rows[155] == ("updated", 8.8)
    assert rows[1000] == ("fresh", 1.0)
    assert rows[151] == ("v151", 15.1)
    # pre-merge image intact via time travel
    assert wh.read("t", version=before["version"]).count() == 400


def test_merge_into_delete_when_matched(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    src = spark.createDataFrame(
        [(250,), (260,), (5000,)], "id long"
    )
    res = wh.merge_into(
        "t", src, ["id"], when_matched="delete", insert_not_matched=False
    )
    assert res["rows_matched"] == 2 and res["rows_inserted"] == 0
    got = sorted(r.id for r in wh.read("t").collect())
    assert len(got) == 398 and 250 not in got and 260 not in got


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    src = spark.createDataFrame(
        [(1, "a", 0.0), (1, "b", 0.0)], "id long, val string, quality double"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        wh.merge_into("t", src, ["id"])


def test_merge_into_empty_source_is_noop(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    v = wh._current_version("t")
    src = spark.createDataFrame([], "id long, val string, quality double")
    res = wh.merge_into("t", src, ["id"])
    assert res["version"] is None
    assert wh._current_version("t") == v


# -- per-file bloom point-lookup skipping ---------------------------------

def _bloom_wh(spark, tmp_path):
    wh = Warehouse(
        spark, str(tmp_path / "bwh"),
        bloom_cols={"t": ["uid"]},
    )
    # four single-file snapshots of hash-distributed string uids: every
    # file's [min, max] spans the whole space, so bounds can NEVER
    # prune a point lookup — only the bloom can
    for part in range(4):
        wh.append("t", (
            spark.range(part * 50, part * 50 + 50).coalesce(1)
            .selectExpr("id", "md5(cast(id as string)) as uid")
        ))
    return wh


def test_bloom_prunes_point_lookups_without_false_negatives(spark, tmp_path):
    wh = _bloom_wh(spark, tmp_path)
    probe = spark.sql("SELECT md5('123') AS u").first().u  # lives in file 3

    keep, total = wh.pruned_files("t", [("uid", "==", probe)])
    assert total == 4
    assert len(keep) < 4, "bloom pruned nothing on a point lookup"
    got = wh.scan("t", [("uid", "==", probe)]).collect()
    assert [r.id for r in got] == [123], "bloom pruning lost the row"

    # a value in NO file: every file may legitimately prune
    keep_none, _ = wh.pruned_files("t", [("uid", "==", "absent")])
    assert wh.scan("t", [("uid", "==", "absent")]).count() == 0
    # range ops ignore blooms (bounds still span: nothing pruned)
    keep_rng, _ = wh.pruned_files("t", [("uid", ">=", "f")])
    assert len(keep_rng) == 4


def test_bloom_filters_survive_dml_carry(spark, tmp_path):
    """Files carried verbatim through a DELETE keep their blooms; the
    rewritten file gets a fresh one."""
    wh = _bloom_wh(spark, tmp_path)
    wh.delete_where("t", [("id", ">=", 10), ("id", "<", 20)])
    m = wh._manifest("t")
    with_bloom = [
        f for f, st in m["stats"].items() if "__bloom__" in st
    ]
    assert len(with_bloom) == len(m["files"]), (
        "every live file (carried + rewritten) should carry a bloom"
    )
    probe = spark.sql("SELECT md5('123') AS u").first().u
    keep, total = wh.pruned_files("t", [("uid", "==", probe)])
    assert len(keep) < total
    assert [r.id for r in wh.scan("t", [("uid", "==", probe)]).collect()] \
        == [123]


def test_bloom_absent_without_optin_and_nulls_safe(spark, tmp_path):
    wh = _mwh(spark, tmp_path)  # no bloom_cols
    wh.append("t", spark.range(5).selectExpr(
        "id", "md5(cast(id as string)) as uid"
    ))
    m = wh._manifest("t")
    assert all("__bloom__" not in st for st in m["stats"].values())

    # NULL values in a bloom'd column never poison the filter
    wh2 = Warehouse(
        spark, str(tmp_path / "b2"),
        bloom_cols={"t": ["uid"]},
    )
    wh2.append("t", spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, uid string"
    ))
    assert [r.id for r in wh2.scan("t", [("uid", "==", "c")]).collect()] \
        == [3]


# -- writer-side CHECK constraints ----------------------------------------

def test_constraints_reject_bad_batch_before_any_write(spark, tmp_path):
    from _event_intelligence_data_warehouse_spark.operators import (
        validate as val,
    )
    from _event_intelligence_data_warehouse_spark.storage import (
        ConstraintViolation,
    )

    rules = [
        val.not_null("id_not_null", "id"),
        val.unique("id_unique", ["id"]),
        val.value_range("score_range", "score", 0.0, 1.0),
    ]
    wh = Warehouse(
        spark, str(tmp_path / "cwh"),
        constraints={"t": rules},
    )
    good = spark.createDataFrame(
        [(1, 0.5), (2, 0.9)], "id long, score double"
    )
    wh.append("t", good)
    assert wh.read("t").count() == 2

    bad = spark.createDataFrame(
        [(3, 0.5), (3, 1.5), (None, 0.1)], "id long, score double"
    )
    v_before = wh._current_version("t")
    with pytest.raises(ConstraintViolation) as ei:
        wh.append("t", bad)
    names = {n for n, _c in ei.value.failed}
    assert names == {"id_not_null", "id_unique", "score_range"}
    # nothing published, nothing changed
    assert wh._current_version("t") == v_before
    assert wh.read("t").count() == 2

    # merge_into enforces on its source too
    with pytest.raises(ConstraintViolation):
        wh.merge_into("t", bad.filter(F.col("id").isNull()), ["id"])
    # untracked tables are unaffected
    wh.append("other", bad)
    assert wh.read("other").count() == 3


# -- shallow clone + fsck --------------------------------------------------

def test_shallow_clone_is_zero_copy_and_diverges_on_write(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    src_rows = wh.read("t").count()
    res = wh.clone("t", "t_exp")
    assert res["files"] == 4 and res["source_version"] >= 1

    # zero-copy: no parquet files under the clone's own dir
    clone_files = [
        f for _r, _d, fs in os.walk(wh.path("t_exp")) for f in fs
        if f.endswith(".parquet")
    ]
    assert clone_files == []
    assert wh.read("t_exp").count() == src_rows
    assert sorted(r.id for r in wh.read("t_exp").collect()) == \
        sorted(r.id for r in wh.read("t").collect())

    # copy-on-write divergence: DML on the clone never touches src
    wh.delete_where("t_exp", [("id", ">=", 0), ("id", "<", 100)])
    assert wh.read("t_exp").count() == src_rows - 100
    assert wh.read("t").count() == src_rows
    # and fsck on both is clean
    assert wh.fsck("t")["ok"] and wh.fsck("t_exp")["ok"]


def test_clone_time_travel_and_existing_target_guard(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.overwrite("t", spark.range(10).toDF("id"))
    v1 = wh._current_version("t")
    wh.overwrite("t", spark.range(50).toDF("id"))
    wh2 = Warehouse(spark, wh.root, retain_versions=5)
    res = wh2.clone("t", "t_v1", version=v1)
    assert wh2.read("t_v1").count() == 10
    assert res["source_version"] == v1
    with pytest.raises(ValueError, match="already exists"):
        wh2.clone("t", "t_v1")


def test_fsck_reports_missing_and_unreferenced(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    rep = wh.fsck("t")
    assert rep["ok"] and rep["live_files"] == 4
    assert rep["missing"] == [] and rep["unreferenced"] == []

    # plant an orphan parquet + delete a live file
    orphan = os.path.join(wh.path("t"), "data", "stray", "x.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    open(orphan, "wb").write(b"junk")
    live = wh._manifest("t")["files"][0]
    os.remove(os.path.join(wh.path("t"), live))

    rep2 = wh.fsck("t")
    assert not rep2["ok"]
    assert rep2["missing_live"] == [os.path.normpath(live)]
    assert rep2["unreferenced"] == [os.path.join("data", "stray", "x.parquet")]


def test_commit_metadata_provenance_in_history(spark, tmp_path):
    """commit_metadata stamps manifests published inside the block;
    history() plays the provenance back; commits outside stay clean."""
    wh = _mwh(spark, tmp_path)
    with wh.commit_metadata(inputs={"documents": 7}, run="r42"):
        wh.overwrite("curated", spark.range(5).toDF("id"))
        wh.append("curated", spark.range(5, 8).toDF("id"))
    wh.append("curated", spark.range(8, 9).toDF("id"))

    h = wh.history("curated")  # newest first
    assert h[0]["meta"] is None, "post-block commit leaked provenance"
    assert h[1]["meta"] == {"inputs": {"documents": 7}, "run": "r42"}
    assert h[2]["meta"] == {"inputs": {"documents": 7}, "run": "r42"}
    # nested blocks merge
    with wh.commit_metadata(run="r43"):
        with wh.commit_metadata(stage="dedup"):
            wh.append("curated", spark.range(9, 10).toDF("id"))
    assert wh.history("curated")[0]["meta"] == {
        "run": "r43", "stage": "dedup"
    }


def test_crash_before_dml_publish_preserves_old_image(
    spark, tmp_path, monkeypatch
):
    """Kill delete_where after its rewritten files are on disk but
    before the pointer replace: readers still see every pre-delete row;
    vacuum collects the orphan; the retry commits."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)

    real_replace = os.replace

    def crash_on_pointer(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise OSError("injected crash before DML publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_pointer)
    with pytest.raises(OSError, match="injected crash"):
        wh.delete_where("t", [("id", ">=", 120), ("id", "<", 180)])
    monkeypatch.setattr(os, "replace", real_replace)

    rd = Warehouse(spark, wh.root)
    assert rd.read("t").count() == 400, "torn DML visible to readers"
    rd.vacuum("t", grace_seconds=0)
    assert rd.read("t").count() == 400
    res = rd.delete_where("t", [("id", ">=", 120), ("id", "<", 180)])
    assert res["rows_deleted"] == 60
    assert rd.read("t").count() == 340


def test_concurrent_dml_writers_detected(spark, tmp_path, monkeypatch):
    """Two DML writers racing the same base version: the loser raises
    ConcurrentWriteError instead of silently clobbering the winner."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)

    real = Warehouse._write_snapshot
    state = {"armed": True}

    def racing_snapshot(self, table, df, partition_col=None):
        if state["armed"] and table == "t":
            # another writer commits while this writer's snapshot is
            # still being written — after its candidate read, before
            # its publish
            state["armed"] = False
            other = Warehouse(spark, wh.root)
            other.update_where(
                "t", [("id", "==", 0)], {"val": F.lit("other")}
            )
        return real(self, table, df, partition_col)

    monkeypatch.setattr(Warehouse, "_write_snapshot", racing_snapshot)
    with pytest.raises(ConcurrentWriteError):
        wh.delete_where("t", [("id", ">=", 0), ("id", "<", 10)])
    monkeypatch.setattr(Warehouse, "_write_snapshot", real)

    rd = Warehouse(spark, wh.root)
    rows = {r.id: r.val for r in rd.read("t").collect()}
    assert len(rows) == 400, "loser's delete must not have applied"
    assert rows[0] == "other", "winner's update lost"


def test_stats_only_count_and_minmax(spark, tmp_path):
    """COUNT(*) / MIN / MAX answer from the manifest without touching
    data files — exact or None, never an estimate."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)

    assert wh.stats_count("t") == 400
    # file-aligned predicate: every surviving file fully inside
    assert wh.stats_count(
        "t", [("id", ">=", 100), ("id", "<=", 199)]
    ) == 100
    # misaligned predicate: partial file -> honest None
    assert wh.stats_count("t", [("id", ">=", 150)]) is None
    assert wh.stats_minmax("t", "id") == (0, 399)
    assert wh.stats_minmax("t", "quality") == (0.0, 39.9)
    assert wh.stats_minmax("t", "nope") is None

    # DML keeps the fast path consistent
    wh.delete_where("t", [("id", ">=", 100), ("id", "<", 200)])
    assert wh.stats_count("t") == 300
    assert wh.stats_count("t") == wh.read("t").count()

    # a pre-manifest table: its adoption rewrite records row counts
    # (None, never a guess, would mean they are missing)
    legacy = Warehouse(spark, str(tmp_path / "lg"))
    spark.range(10).toDF("id").write.parquet(legacy.path("t"))
    assert legacy.stats_count("t") in (None, 10)  # adopt collects stats


def test_restore_is_a_new_commit_preserving_history(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "rwh"),
                   retain_versions=10)
    wh.overwrite("t", spark.range(10).toDF("id"))
    good_v = wh._current_version("t")
    wh.overwrite("t", spark.range(2).toDF("id"))  # the bad run
    bad_v = wh._current_version("t")

    res = wh.restore("t", good_v)
    assert res["restored_from"] == good_v
    assert wh.read("t").count() == 10
    # nothing lost: the bad version is still readable
    assert wh.read("t", version=bad_v).count() == 2
    ops = [h["operation"] for h in wh.history("t")]
    assert ops[0] == f"restore:v{good_v}"
    with pytest.raises(FileNotFoundError):
        wh.restore("t", 999)


def test_partition_profile_stats_only(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(60)], "id long, bucket int"
    )
    wh.overwrite("t", df, partition_col="bucket")
    wh.append("t", spark.createDataFrame([(100, 0)], "id long, bucket int"))
    prof = {p["partition"]: p for p in wh.partition_profile("t")}
    assert set(prof) == {"0", "1", "2"}
    assert prof["0"]["rows"] == 21 and prof["1"]["rows"] == 20
    assert prof["0"]["files"] >= 2  # the append added a file
    assert all(p["bytes"] > 0 for p in prof.values())
    # unpartitioned: single row
    wh.overwrite("u", spark.range(5).toDF("id"))
    up = wh.partition_profile("u")
    assert len(up) == 1 and up[0]["partition"] is None and up[0]["rows"] == 5


def test_merge_into_rejects_narrower_source(spark, tmp_path):
    """A source missing target columns must fail loud — the whole-row
    update would silently NULL matched rows' data otherwise."""
    wh = _mwh(spark, tmp_path)
    _dml_table(spark, wh)
    narrow = spark.createDataFrame([(150, "u")], "id long, val string")
    with pytest.raises(ValueError, match="missing target columns"):
        wh.merge_into("t", narrow, ["id"])
    # delete-mode needs only the keys: still fine
    res = wh.merge_into(
        "t", narrow.select("id"), ["id"],
        when_matched="delete", insert_not_matched=False,
    )
    assert res["rows_matched"] == 1


# -- round-5 advisor fixes --------------------------------------------------

def test_stats_count_filtered_requires_null_free_filter_columns(
    spark, tmp_path
):
    """Parquet min/max stats exclude NULLs, so a file whose [min, max]
    sits fully inside the predicate can still hold NULL rows that FAIL
    it — the stats-only filtered count must refuse (None), not
    overcount. Null-free filter columns keep the exact fast path."""
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, 5 if i % 3 else None) for i in range(90)],
        "id long, c long",
    ).coalesce(1)
    wh.overwrite("t", df)

    # c's bounds are [5, 5]: ('c','==',5) judges the file fully inside,
    # but 30 NULL rows fail the predicate — None, never 90.
    assert wh.stats_count("t", [("c", "==", 5)]) is None
    # null-free filter column: exact from the footer alone
    assert wh.stats_count("t", [("id", ">=", 0)]) == 90
    assert wh.stats_count("t") == 90


def test_update_where_enforces_declared_constraints(spark, tmp_path):
    """An UPDATE assignment minting contract-violating values must be
    rejected before any file lands — same gate append/overwrite apply."""
    from _event_intelligence_data_warehouse_spark.operators import (
        validate as val,
    )
    from _event_intelligence_data_warehouse_spark.storage import (
        ConstraintViolation,
    )

    wh = Warehouse(
        spark, str(tmp_path / "uwh"),
        constraints={"t": [val.value_range("score_range", "score", 0.0, 1.0)]},
    )
    wh.append("t", spark.createDataFrame(
        [(1, 0.5), (2, 0.9)], "id long, score double"
    ))
    v = wh._current_version("t")
    with pytest.raises(ConstraintViolation):
        wh.update_where("t", [("id", "==", 1)], {"score": F.lit(5.0)})
    assert wh._current_version("t") == v
    assert {r.score for r in wh.read("t").collect()} == {0.5, 0.9}
    # a contract-respecting update still goes through
    res = wh.update_where("t", [("id", "==", 1)], {"score": F.lit(1.0)})
    assert res["rows_updated"] == 1


def test_overwrite_partitions_enforces_declared_constraints(
    spark, tmp_path
):
    from _event_intelligence_data_warehouse_spark.operators import (
        validate as val,
    )
    from _event_intelligence_data_warehouse_spark.storage import (
        ConstraintViolation,
    )

    wh = Warehouse(
        spark, str(tmp_path / "owh"),
        constraints={"t": [val.not_null("id_not_null", "id")]},
    )
    good = spark.createDataFrame(
        [(1, 0), (2, 1)], "id long, bucket int"
    )
    wh.overwrite("t", good, partition_col="bucket")
    bad = spark.createDataFrame([(None, 0)], "id long, bucket int")
    with pytest.raises(ConstraintViolation):
        wh.overwrite_partitions("t", bad, "bucket")
    assert wh.read("t").filter(F.col("id").isNull()).count() == 0


def test_merge_into_counts_exact_with_duplicate_target_keys(
    spark, tmp_path
):
    """rows_matched counts matched TARGET rows; rows_inserted is the
    anti-joined source count — NOT n_src - rows_matched, which goes
    wrong (even negative) when pre-manifest appends left duplicate key
    tuples in the target."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, val string"
    ))
    src = spark.createDataFrame(
        [(1, "z"), (3, "n")], "id long, val string"
    )
    res = wh.merge_into("t", src, ["id"])
    assert res["rows_matched"] == 2      # both id=1 target rows replaced
    assert res["rows_inserted"] == 1     # id=3 only (old math said 0)
    rows = {(r.id, r.val) for r in wh.read("t").collect()}
    assert rows == {(1, "z"), (2, "c"), (3, "n")}


def test_partition_profile_unreadable_bytes_is_none_not_garbage(
    spark, tmp_path, monkeypatch
):
    """One unreadable file poisons that partition's byte total to None
    (sticky, mirroring rows) — a partial positive sum would read as a
    real total."""
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(40)], "id long, bucket int"
    )
    wh.overwrite("t", df, partition_col="bucket")
    wh.append("t", spark.createDataFrame(
        [(100, 0)], "id long, bucket int"
    ))

    real_getsize = os.path.getsize
    broken: list[str] = []

    def fake_getsize(p):
        # break exactly one bucket=0 file (the partition has >= 2)
        if "bucket=0" in str(p) and not broken:
            broken.append(str(p))
            raise OSError("unreadable")
        return real_getsize(p)

    monkeypatch.setattr(os.path, "getsize", fake_getsize)
    prof = {p["partition"]: p for p in wh.partition_profile("t")}
    assert broken, "fixture must hit a bucket=0 file"
    assert prof["0"]["bytes"] is None
    assert prof["1"]["bytes"] and prof["1"]["bytes"] > 0


def test_stats_count_filtered_on_partition_column(spark, tmp_path):
    """Partition values are path-encoded — exact and null-free by
    construction — so a filtered stats-only count on the partition
    column answers from the manifest even though parquet footers carry
    no stats for it."""
    wh = _mwh(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(90)], "id long, bucket int"
    )
    wh.overwrite("t", df, partition_col="bucket")
    assert wh.stats_count("t", [("bucket", "==", 0)]) == 30
    assert wh.stats_count("t", [("bucket", ">=", 1)]) == 60
    assert wh.stats_count("t", [("bucket", "==", 9)]) == 0
    # combined with a data-column filter: exact when the surviving
    # files' id bounds align with the predicate, honest None otherwise
    # — never a wrong number
    combined = wh.stats_count("t", [("bucket", "==", 0), ("id", ">=", 45)])
    real = wh.read("t").filter(
        (F.col("bucket") == 0) & (F.col("id") >= 45)
    ).count()
    assert combined is None or combined == real
    # matches the real count
    assert wh.stats_count("t", [("bucket", "==", 1)]) == (
        wh.read("t").filter(F.col("bucket") == 1).count()
    )


def test_compact_partitions_where_rewrites_only_fragmented(spark, tmp_path):
    """Partitions under the file threshold carry their files VERBATIM
    (same relative paths, zero bytes moved); fragmented ones collapse
    to a single file; content and time travel survive."""
    wh = Warehouse(spark, str(tmp_path / "pcw"),
                   retain_versions=10)  # keep history for time travel
    base = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, bucket int"
    ).repartition(F.col("bucket"))  # one file per partition to start
    wh.overwrite("t", base, partition_col="bucket")
    # fragment buckets 0 and 1 with appends; bucket 2 stays single-file
    for i in (100, 101, 102):
        wh.append("t", spark.createDataFrame(
            [(i, 0)], "id long, bucket int"
        ))
    wh.append("t", spark.createDataFrame([(200, 1)], "id long, bucket int"))
    m0 = wh._adopt_if_legacy("t")
    before = {r.id for r in wh.read("t").collect()}
    b2_before = sorted(
        f for f in m0["files"] if wh._partition_of(f, "bucket") == "2"
    )
    v0 = m0["version"]

    res = wh.compact_partitions_where("t", "bucket", min_files=2)
    assert res["partitions_rewritten"] == 2  # buckets 0 and 1
    m1 = wh._adopt_if_legacy("t")
    by_part = {}
    for f in m1["files"]:
        by_part.setdefault(wh._partition_of(f, "bucket"), []).append(f)
    assert len(by_part["0"]) == 1 and len(by_part["1"]) == 1
    # untouched partition carried verbatim
    assert sorted(by_part["2"]) == b2_before
    assert {r.id for r in wh.read("t").collect()} == before
    # time travel to the pre-compaction version still works
    assert {r.id for r in wh.read("t", version=v0).collect()} == before

    # idempotent: nothing fragmented now -> no-op, no new version
    res2 = wh.compact_partitions_where("t", "bucket", min_files=2)
    assert res2["version"] is None and res2["partitions_rewritten"] == 0
    # wrong partition column fails loud
    with pytest.raises(ValueError, match="partitioned by"):
        wh.compact_partitions_where("t", "nope")


def test_evolve_partitioning_atomic_layout_swap(spark, tmp_path):
    from pyspark.sql import functions as F

    from _event_intelligence_data_warehouse_spark.storage import (
        Warehouse, evolve_partitioning,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"r{i % 2}", i * 10) for i in range(60)],
        "id long, seg string, region string, v long",
    )
    wh.overwrite("t", df, partition_col="seg")
    before = wh._manifest("t")
    assert before["partition_col"] == "seg"

    m = evolve_partitioning(wh, "t", "region")
    assert m["partition_col"] == "region"
    # contents identical under the new layout
    got = sorted(
        (r.id, r.seg, r.region, r.v) for r in wh.read("t").collect()
    )
    assert got == sorted(
        (r.id, r.seg, r.region, r.v) for r in df.collect()
    )
    # new files live under region= directories
    assert all("region=" in f for f in m["files"])
    # history keeps the old layout time-travelable
    old = wh.read("t", version=before["version"])
    assert old.count() == 60
    # de-partitioning works too
    m2 = evolve_partitioning(wh, "t", None)
    assert m2["partition_col"] is None
    assert wh.read("t").count() == 60


def test_evolve_partitioning_rejects_unknown_column(spark, tmp_path):
    import pytest

    from _event_intelligence_data_warehouse_spark.storage import (
        Warehouse, evolve_partitioning,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("t", spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(ValueError, match="not in table columns"):
        evolve_partitioning(wh, "t", "nope")


# -- metadata-only schema evolution ---------------------------------------

def _ev_df(spark, rows, schema="k int, v int, name string"):
    return spark.createDataFrame(rows, schema)


def test_evolve_schema_rename_is_metadata_only(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a"), (2, 20, "b")]))
    files_before = _live_files(wh, "t")
    wh.evolve_schema("t", rename={"v": "amount"})
    assert _live_files(wh, "t") == files_before  # no rewrite
    got = {(r.k, r.amount, r.name) for r in wh.read("t").collect()}
    assert got == {(1, 10, "a"), (2, 20, "b")}
    assert "v" not in wh.read("t").columns
    # appends under the new name union cleanly with pre-rename files
    wh.append("t", spark.createDataFrame(
        [(3, 30, "c")], "k int, amount int, name string"))
    got = {(r.k, r.amount) for r in wh.read("t").collect()}
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_evolve_schema_add_with_default_and_time_travel(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]))
    v1 = wh._current_version("t")
    wh.evolve_schema("t", add={"src": ("string", "'backfill'"),
                               "score": "bigint"})
    wh.append("t", spark.createDataFrame(
        [(2, 20, "b", "live", 7)],
        "k int, v int, name string, src string, score bigint"))
    rows = {(r.k, r.src, r.score) for r in wh.read("t").collect()}
    assert rows == {(1, "backfill", None), (2, "live", 7)}
    # pre-evolution version still reads with its own (old) schema
    old = wh.read("t", version=v1)
    assert sorted(old.columns) == ["k", "name", "v"]


def test_evolve_schema_drop_then_readd_never_resurrects(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "ghost")]))
    wh.evolve_schema("t", drop=["name"])
    assert sorted(wh.read("t").columns) == ["k", "v"]
    wh.evolve_schema("t", add={"name": ("string", "'fresh'")})
    # the physical file still holds 'ghost', but the ordered op log
    # drops it before the re-add, so the new default wins
    assert [r.name for r in wh.read("t").collect()] == ["fresh"]


def test_evolve_schema_widen_unions_mixed_groups(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 1000, "a")]))
    wh.evolve_schema("t", widen={"v": "bigint"})
    wh.append("t", spark.createDataFrame(
        [(2, 2**40, "b")], "k int, v bigint, name string"))
    df = wh.read("t")
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.v for r in df.collect()} == {1000, 2**40}


def test_evolve_schema_validation_errors(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]), )
    with pytest.raises(ValueError, match="already exists"):
        wh.evolve_schema("t", rename={"v": "name"})
    with pytest.raises(ValueError, match="no column"):
        wh.evolve_schema("t", drop=["nope"])
    with pytest.raises(ValueError, match="not a safe widening"):
        wh.evolve_schema("t", widen={"name": "bigint"})
    with pytest.raises(ValueError, match="already exists"):
        wh.evolve_schema("t", add={"k": "int"})
    pwh = _mwh(spark, tmp_path, "pwh")
    pwh.overwrite("p", _ev_df(spark, [(1, 10, "a")]), partition_col="k")
    with pytest.raises(ValueError, match="partition column"):
        pwh.evolve_schema("p", rename={"k": "kk"})
    with pytest.raises(ValueError, match="partition column"):
        pwh.evolve_schema("p", drop=["k"])


def test_evolve_schema_drop_strips_ghost_bounds_from_pruning(spark, tmp_path):
    """Drop x, re-add x with a default: old files must NOT be pruned by
    the dropped ghost's recorded bounds — the read surfaces the default,
    so scan/DML must keep those files as candidates."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame(
        [(1, 1), (2, 5)], "k int, x int").coalesce(1))
    wh.evolve_schema("t", drop=["x"])
    wh.evolve_schema("t", add={"x": ("int", "100")})
    keep, total = wh.pruned_files("t", [("x", "==", 100)])
    assert total == 1 and len(keep) == 1, (
        "old file pruned by the dropped column's ghost bounds"
    )
    got = {(r.k, r.x) for r in wh.scan("t", [("x", "==", 100)]).collect()}
    assert got == {(1, 100), (2, 100)}


def test_evolve_schema_rename_rekeys_bounds_and_drops_bloom(spark, tmp_path):
    """Rename re-keys min/max bounds to the new logical name (pruning
    power retained — the values are unchanged) but drops the bloom,
    whose bit positions are seeded by the column name."""
    wh = Warehouse(spark, str(tmp_path / "bwh"),
                   bloom_cols={"t": ["v"]})
    wh.append("t", _ev_df(spark, [(1, 10, "a"), (2, 20, "b")]).coalesce(1))
    entry = next(iter(wh._manifest("t")["stats"].values()))
    assert "v" in entry and "v" in entry.get(wh._BLOOM_KEY, {})
    wh.evolve_schema("t", rename={"v": "amount"})
    entry = next(iter(wh._manifest("t")["stats"].values()))
    assert entry.get("amount") == [10, 20] and "v" not in entry
    assert "v" not in entry.get(wh._BLOOM_KEY, {})
    assert "amount" not in entry.get(wh._BLOOM_KEY, {})
    # out-of-bounds probe on the NEW name prunes the old file
    keep, total = wh.pruned_files("t", [("amount", ">", 50)])
    assert total == 1 and keep == []
    got = {(r.k, r.amount)
           for r in wh.scan("t", [("amount", "<=", 10)]).collect()}
    assert got == {(1, 10)}


def test_overwrite_resets_schema_ops(spark, tmp_path):
    """overwrite() is a full-image replace that materializes its own
    schema: carried evolution ops must not replay against a fresh frame
    that legitimately reuses a previously dropped or renamed-away
    column name."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]))
    wh.evolve_schema("t", rename={"v": "amount"}, drop=["name"])
    assert wh._manifest("t").get("schema_ops")
    # fresh image reuses BOTH retired names: 'v' alongside 'amount',
    # and the dropped 'name'
    wh.overwrite("t", spark.createDataFrame(
        [(7, 70, 700, "z")], "k int, v int, amount int, name string"))
    assert not wh._manifest("t").get("schema_ops")
    df = wh.read("t")
    assert sorted(df.columns) == ["amount", "k", "name", "v"]
    assert [(r.k, r.v, r.amount, r.name) for r in df.collect()] == [
        (7, 70, 700, "z")
    ]


def test_evolve_schema_survives_rewrites_and_compact(spark, tmp_path):
    """DML and compaction materialize the evolved schema; the guarded
    op log stays carried and becomes a no-op behind them."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a"), (2, 20, "b")]))
    wh.evolve_schema("t", rename={"v": "amount"},
                     add={"flag": ("int", "0")})
    wh.update_where("t", [("k", "==", 1)], {"flag": "1"})
    got = {(r.k, r.amount, r.flag) for r in wh.read("t").collect()}
    assert got == {(1, 10, 1), (2, 20, 0)}
    wh.compact("t")
    assert {(r.k, r.amount, r.flag) for r in wh.read("t").collect()} == got
    assert wh._manifest("t").get("schema_ops")  # still carried


def test_evolve_schema_restore_pins_old_op_log(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]))
    v1 = wh._current_version("t")
    wh.evolve_schema("t", rename={"v": "amount"})
    wh.restore("t", v1)
    df = wh.read("t")
    assert "v" in df.columns and "amount" not in df.columns


def test_evolve_schema_clone_inherits_op_log(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("src_t", _ev_df(spark, [(1, 10, "a")]))
    wh.evolve_schema("src_t", rename={"v": "amount"})
    wh.clone("src_t", "dst_t")
    assert "amount" in wh.read("dst_t").columns


def test_evolve_schema_concurrent_writer_detected(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]))
    m = wh._adopt_if_legacy("t")
    # another writer lands between the read and the evolve publish
    wh.append("t", _ev_df(spark, [(2, 20, "b")]))
    with pytest.raises(ConcurrentWriteError):
        wh._publish("t", m["files"], m.get("partition_col"),
                    "evolve_schema", expect_version=m["version"],
                    schema_ops=[{"op": "drop", "col": "name"}])


def test_evolve_schema_composes_with_deletion_vectors(spark, tmp_path):
    """DV row identity and the schema-op replay are independent layers:
    a DV delete filtered on a RENAMED column hits the right rows, and
    reads apply vectors to pre-evolution files."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a"), (2, 20, "b"),
                                  (3, 30, "c")]))
    wh.evolve_schema("t", rename={"v": "amount"})
    res = wh.delete_where("t", [("amount", "==", 20)], mode="dv")
    assert res["rows_deleted"] == 1
    got = {(r.k, r.amount) for r in wh.read("t").collect()}
    assert got == {(1, 10), (3, 30)}


def test_evolve_schema_rename_then_readd_old_name(spark, tmp_path):
    """Files written after a rename and a re-add of the old name hold
    both columns; replaying the rename onto them would rename the new
    column onto the old one. Each file replays only the ops that came
    after it was written, before and after a compaction."""
    wh = _mwh(spark, tmp_path)
    wh.append("t", spark.createDataFrame([(1, 10)], "k int, a int"))
    wh.evolve_schema("t", rename={"a": "b"})
    wh.evolve_schema("t", add={"a": ("int", "-1")})
    wh.append("t", spark.createDataFrame([(2, 20, 7)],
                                         "k int, b int, a int"))
    want = {(1, 10, -1), (2, 20, 7)}
    assert {(r.k, r.b, r.a) for r in wh.read("t").collect()} == want
    wh.compact("t")
    assert {(r.k, r.b, r.a) for r in wh.read("t").collect()} == want


def test_appended_since_reads_only_appended_files(spark, tmp_path):
    wh = _mwh(spark, tmp_path)
    wh.append("t", _ev_df(spark, [(1, 10, "a")]))
    v1 = wh._current_version("t")
    wh.append("t", _ev_df(spark, [(2, 20, "b"), (3, 30, "c")]))
    wh.delete_where("t", [("k", "==", 3)], mode="dv")
    df, v = wh.appended_since("t", v1)
    assert v == wh._current_version("t")
    assert sorted(r.k for r in df.collect()) == [2]
    assert sorted(r.k for r in wh.appended_since("t", 0)[0].collect()) == [
        1, 2]
    assert wh.appended_since("t", v) == (None, v)
    wh.delete_where("t", [("k", "==", 1)])
    with pytest.raises(ValueError, match="replaced files"):
        wh.appended_since("t", v)
    with pytest.raises(ValueError, match="not on the committed chain"):
        wh.appended_since("t", v + 10)
