"""Unit tests for the benchmark's own code: span arithmetic, the event-log
parser and the metric names promised in BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import eventlog
import layers
import run
from spans import Span, Tracer, covered, inclusive_stats, layer_totals, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def span(sid, name, parent, start, end, group=None):
    return Span(sid, name, parent, group or f"g{sid}", start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2


def test_self_time_subtracts_children_once():
    spans = [
        span(1, "root", None, 0.0, 10.0),
        span(2, "a", 1, 1.0, 4.0),
        span(3, "b", 1, 3.0, 6.0),   # overlaps a: 1..6 covered
        span(4, "c", 2, 1.5, 2.0),   # grandchild: a's, not root's
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_restores_groups():
    class FakeSc:
        def __init__(self):
            self.groups = []

        def setLocalProperty(self, key, value):
            assert key == "spark.jobGroup.id"
            self.groups.append(value)

    ticks = iter(range(100))
    sc = FakeSc()
    t = Tracer(sc, "r", clock=lambda: float(next(ticks)))
    with t.span("outer"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert sc.groups == ["r-1", "r-2", "r-1", None]
    assert self_times(t.spans)[outer.id] == pytest.approx(2.0)


def test_wrap_patches_and_unpatch_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    t = Tracer(None, "r")
    seen = []
    t.wrap(Owner, "f", "layer.f", after=lambda s, st, a, k, out: seen.append(
        (s.name, out)))
    assert Owner.f(1) == 2 and seen == [("layer.f", 2)]
    t.enabled = False
    assert Owner.f(2) == 3 and len(t.spans) == 1
    t.unpatch()
    assert Owner.f is orig


def test_layer_totals_skip_same_layer_nesting_and_roll_up_jobs():
    spans = [
        span(1, "write", None, 0.0, 4.0),
        span(2, "write", 1, 1.0, 2.0),   # nested in a write: not re-counted
        span(3, "read", None, 5.0, 6.0),
    ]
    by_group = {"g1": eventlog.GroupStats(jobs=2), "g2": eventlog.GroupStats(jobs=3),
                "g3": eventlog.GroupStats(jobs=1)}
    totals = layer_totals(spans, inclusive_stats(spans, by_group))
    assert totals["write"]["calls"] == 1
    assert totals["write"]["wall_s"] == pytest.approx(4.0)
    assert totals["write"]["self_s"] == pytest.approx(3.0)
    assert totals["write"]["stats"].jobs == 5
    assert totals["read"]["stats"].jobs == 1


def test_event_log_parser_on_fixture():
    stats = eventlog.parse_dir(os.path.join(HERE, "fixtures"))
    g1, g2, none = stats["run-1"], stats["run-2"], stats[None]
    assert (g1.jobs, g1.tasks) == (1, 3)
    assert g1.executor_run_s == pytest.approx(0.6)
    assert g1.executor_cpu_s == pytest.approx(0.3)
    assert g1.gc_s == pytest.approx(0.01)
    assert g1.shuffle_write_mb == pytest.approx(2.0)
    assert g1.shuffle_read_mb == pytest.approx(2.0)
    # job 1 lists stage 1 again, but only as skipped: its task stays in run-1
    assert (none.jobs, none.tasks) == (1, 1)
    assert g2.spill_mb == pytest.approx(2.0)
    assert g2.shuffle_read_mb == pytest.approx(0.5)


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
