"""The bench headline contract and the query registries of bench.py and
the tools, checked without a Spark session."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def test_fit_headline_drops_split_entries_first_and_keeps_pins():
    # Timings span 1-10 s, as in the recorded BENCH_r*.json. Pinned entries
    # are the fastest and split sub-entries the slowest, so plain
    # fastest-first dropping would lose every pin and keep the
    # sub-entries.
    pinned = sorted(bench._HEADLINE_PRINT_PIN)
    unpinned = [
        q for q in bench.HEADLINE if q not in bench._HEADLINE_PRINT_PIN
    ]
    names = pinned + unpinned + sorted(bench._SPLIT_SUBENTRIES)
    assert len(names) == len(set(names)) == 114
    queries = {q: round(1.0 + 0.079 * i, 3) for i, q in enumerate(names)}
    full = {
        "metric": "headline_suite_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }

    out = bench._fit_headline(full)

    assert len(json.dumps(out, separators=(",", ":"))) <= 1800
    printed = out["queries"]
    assert not set(printed) & bench._SPLIT_SUBENTRIES
    assert bench._HEADLINE_PRINT_PIN <= set(printed)
    assert out["queries_omitted"] == len(queries) - len(printed) > 12
    kept = [queries[q] for q in printed if q not in bench._HEADLINE_PRINT_PIN]
    dropped = [queries[q] for q in unpinned if q not in printed]
    assert not kept or min(kept) > max(dropped)


def test_bench_and_tool_registries_name_registered_queries():
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    sys.path.insert(0, TOOLS)
    import measure
    import scale_sf1_probe
    import scaling_curve

    lists = {
        "bench.HEADLINE": bench.HEADLINE,
        "measure.WARM": measure.WARM,
        "scaling_curve.FAMILIES": [
            q for qs in scaling_curve.FAMILIES.values() for q in qs
        ],
        "scale_sf1_probe.PROBE": scale_sf1_probe.PROBE,
    }
    for label, names in lists.items():
        assert [q for q in names if q not in QUERIES] == [], label
    assert bench._HEADLINE_PRINT_PIN <= set(bench.HEADLINE)
    assert set(bench._SPLITS) <= set(bench.HEADLINE)


def test_tools_find_the_checkout_from_their_own_path():
    """bench.py and tools/*.py locate the repo from ``__file__``. The
    only absolute paths they spell out are the fixture data defaults."""
    offenders = []
    for path in [os.path.join(REPO, "bench.py")] + sorted(
        glob.glob(os.path.join(TOOLS, "*.py"))
    ):
        with open(path) as f:
            src = f.read()
        if REPO in src:
            offenders.append((path, REPO))
        tree = ast.parse(src)
        fstring_parts = {
            id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr)
            for v in n.values
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in fstring_parts
                and re.fullmatch(r"/[\w.-]+(/[\w.-]+)*/?", node.value)
                and "testdata" not in node.value.split("/")
            ):
                offenders.append((path, node.value))
    assert offenders == []
