"""The one copy-on-write commit behind every file-replacing Warehouse write.

- Maintenance rewrites publish against the version they read, so a writer
  that commits between that read and the publish is detected, not lost.
- Every file-replacing operation leaves a manifest whose stats cover
  exactly its live files and whose deletion vectors each still cover a
  live file, with the image the operation promises.
- Only ``Warehouse._commit`` and the commits that reuse another
  version's metadata publish a manifest themselves.
- The streaming jobs use the warehouse through its public methods only.
"""

from __future__ import annotations

import ast
import collections
import os

import pytest
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import storage
from _event_intelligence_data_warehouse_spark.storage import (
    ConcurrentWriteError,
    Warehouse,
    evolve_partitioning,
)


def _rows(spark, ks, v=None):
    """Rows (k, p = k % 4, v = 10 k or the given v) for keys ``ks``."""
    return spark.createDataFrame(
        [(k, k % 4, 10 * k if v is None else v) for k in ks],
        "k long, p long, v long",
    )


def _image(wh, table="t"):
    return sorted((r.k, r.p, r.v) for r in wh.read(table).collect())


# -- a writer racing a maintenance rewrite ----------------------------------

def _append_after_read(spark, wh, monkeypatch, extra):
    """Make another writer append ``extra`` to ``t`` right after the
    rewrite under test has read its input, before it publishes."""
    real = Warehouse._read_files_dv
    state = {"armed": True}

    def racing_read(self, table, m, files):
        df = real(self, table, m, files)
        if state["armed"] and table == "t":
            state["armed"] = False
            Warehouse(spark, wh.root).append("t", extra)
        return df

    monkeypatch.setattr(Warehouse, "_read_files_dv", racing_read)


def _seed(spark, wh, partitioned):
    for i in range(4):
        df = _rows(spark, range(i * 25, (i + 1) * 25))
        if i == 0:
            wh.overwrite("t", df, "p" if partitioned else None)
        else:
            wh.append("t", df)


@pytest.mark.parametrize("op, partitioned", [
    (lambda wh: wh.compact("t"), False),
    (lambda wh: wh.compact_partitions_where("t", "p", min_files=1), True),
    (lambda wh: wh.cluster_by("t", ["k", "v"]), False),
    (lambda wh: evolve_partitioning(wh, "t", "p"), False),
], ids=["compact", "compact_partitions_where", "cluster_by",
        "evolve_partitioning"])
def test_maintenance_rewrite_detects_racing_append(
    spark, tmp_path, monkeypatch, op, partitioned,
):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, partitioned)
    before = _image(wh)
    assert len(before) == 100
    extra = _rows(spark, range(100, 110))
    _append_after_read(spark, wh, monkeypatch, extra)
    with pytest.raises(ConcurrentWriteError):
        op(wh)
    monkeypatch.undo()

    after = _image(Warehouse(spark, wh.root))
    assert len(after) == 110, "the racing append was dropped"
    assert after == sorted(before + [(k, k % 4, 10 * k)
                                     for k in range(100, 110)])


# -- invariants of every file-replacing operation ---------------------------

_DELETED = (1, 2, 25, 26)


def _plain_table(spark, wh, partitioned):
    """40 rows in two snapshots, no vectors."""
    wh.overwrite("t", _rows(spark, range(20)).repartition(2),
                 "p" if partitioned else None)
    wh.append("t", _rows(spark, range(20, 40)).repartition(2))
    return {(k, k % 4, 10 * k) for k in range(40)}


def _dv_table(spark, wh, partitioned):
    """40 rows in two snapshots, four of them deleted by a vector."""
    wh.overwrite("t", _rows(spark, range(20)).repartition(2),
                 "p" if partitioned else None)
    wh.append("t", _rows(spark, range(20, 40)).repartition(2))
    wh.delete_where("t", [("k", "in", list(_DELETED))], mode="dv")
    assert wh._manifest("t").get("dv_files")
    return {(k, k % 4, 10 * k) for k in range(40) if k not in _DELETED}


def _legacy_listing_table(spark, wh, partitioned):
    """A manifest that lists old-layout files next to snapshot files
    that carry a vector — what adoption upgrades on first access."""
    base = wh.path("t")
    _rows(spark, range(10)).write.partitionBy("p").parquet(base)
    old = sorted(
        os.path.relpath(os.path.join(r, f), base)
        for r, _d, fs in os.walk(base) for f in fs if f.endswith(".parquet")
    )
    snap = wh._write_snapshot("t", _rows(spark, range(10, 20)), "p")
    wh._publish("t", snap, "p", "seed",
                stats=wh._collect_minmax("t", snap))
    wh.delete_where("t", [("k", "in", [11, 12])], mode="dv")
    m = wh._manifest("t")
    wh._publish("t", old + m["files"], "p", "seed_old_layout",
                stats=m["stats"], expect_version=m["version"],
                dvs=m["dv_files"], dv_meta=m["dv_meta"])
    return {(k, k % 4, 10 * k) for k in range(20) if k not in (11, 12)}


def _delete_dv(spark, wh):
    wh.delete_where("t", [("k", "in", [5, 30])], mode="dv")


def _after_delete_dv(rows):
    return {r for r in rows if r[0] not in (5, 30)}


_CASES = {
    # name: (partitioned, operation, expected image from the seeded one)
    "delete_dv_first": (True, _delete_dv, _after_delete_dv),
    "delete_dv_again": (True, _delete_dv, _after_delete_dv),
    "append": (
        True,
        lambda spark, wh: wh.append("t", _rows(spark, range(100, 104))),
        lambda rows: rows | {(k, k % 4, 10 * k) for k in range(100, 104)},
    ),
    "overwrite_partitions": (
        True,
        lambda spark, wh: wh.overwrite_partitions(
            "t", _rows(spark, [200, 204]), "p"),
        lambda rows: {r for r in rows if r[1] != 0}
        | {(200, 0, 2000), (204, 0, 2040)},
    ),
    "delete_rewrite": (
        True,
        lambda spark, wh: wh.delete_where("t", [("k", "<", 10)]),
        lambda rows: {r for r in rows if r[0] >= 10},
    ),
    "update_where": (
        True,
        lambda spark, wh: wh.update_where(
            "t", [("k", ">=", 30)], {"v": F.lit(-1)}),
        lambda rows: {(k, p, -1 if k >= 30 else v) for k, p, v in rows},
    ),
    "merge_into": (
        True,
        lambda spark, wh: wh.merge_into(
            "t", _rows(spark, [3, 300], v=-5), ["k"]),
        lambda rows: {r for r in rows if r[0] != 3}
        | {(3, 3, -5), (300, 0, -5)},
    ),
    "compact": (
        False,
        lambda spark, wh: wh.compact("t"),
        lambda rows: rows,
    ),
    "compact_partitions_where": (
        True,
        lambda spark, wh: wh.compact_partitions_where("t", "p"),
        lambda rows: rows,
    ),
    "cluster_by": (
        False,
        lambda spark, wh: wh.cluster_by("t", ["k", "v"]),
        lambda rows: rows,
    ),
    "evolve_partitioning": (
        False,
        lambda spark, wh: evolve_partitioning(wh, "t", "p"),
        lambda rows: rows,
    ),
    "adoption": (
        True,
        lambda spark, wh: wh.read("t"),
        lambda rows: rows,
    ),
}


@pytest.mark.parametrize("name", list(_CASES))
def test_file_replacing_write_keeps_manifest_invariants(
    spark, tmp_path, name,
):
    partitioned, op, expect = _CASES[name]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    seed = {"adoption": _legacy_listing_table,
            "delete_dv_first": _plain_table}.get(name, _dv_table)
    rows = seed(spark, wh, partitioned)
    op(spark, wh)

    m = wh._manifest("t")
    assert set(m["stats"]) == set(m["files"])
    live = {Warehouse._dv_key_of_rel(f) for f in m["files"]}
    meta = m.get("dv_meta") or {}
    for dv in m.get("dv_files") or []:
        assert set(meta[dv]) & live, f"{dv} covers no live file"
    assert _image(wh) == sorted(expect(rows))


# -- one publish path --------------------------------------------------------

# The commit of every write, and the commits that reuse another version's
# files, stats and vectors as they stand (clone, restore, schema evolution).
_PUBLISHERS = {"_commit", "clone", "restore", "evolve_schema"}


def test_only_commit_and_metadata_commits_publish():
    with open(storage.__file__) as f:
        tree = ast.parse(f.read())
    calls = collections.Counter()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "_publish"):
                calls[fn.name] += 1
    assert set(calls) <= _PUBLISHERS, (
        "a write publishes outside Warehouse._commit: "
        f"{sorted(set(calls) - _PUBLISHERS)}")
    assert all(n == 1 for n in calls.values()), calls


def test_streaming_jobs_read_no_private_warehouse_attribute():
    from _event_intelligence_data_warehouse_spark.streaming import jobs

    with open(jobs.__file__) as f:
        tree = ast.parse(f.read())
    private = sorted(
        f"line {node.lineno}: wh.{node.attr}" for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name) and node.value.id == "wh"
        and node.attr.startswith("_")
    )
    assert not private, private
