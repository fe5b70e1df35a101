"""Run contract queries to the noop sink and measure them.

Shared by bench.py and the tools: builds the session, warms it, runs a
query's frames to the noop sink (the full plan executes, nothing
materializes to the driver), times them and counts their Spark jobs.

Usage: python tools/measure.py [sf_dir] [query ...]

Prints one JSON record per query, slowest first, with ``wall_s``,
``build_s``, ``jobs`` and ``tasks`` (or ``error``). No query names =
every registered query. Operator caches are released after each query.
Exits 1 on any failure. sf dir: $SPARK_GRAFT_SF_DIR, else sf0.1 as in
bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # the package, for this CLI and the tools importing it

JOB_GROUP = "spark.jobGroup.id"

# One query per table family: the JVM, codegen and parquet footers are
# warm before the first timed query, so timings measure the plans.
WARM = (
    "agg_orders_by_priority",       # orders/lineitem
    "daily_event_stats",            # events
    "dedup_exact",                  # documents
    "similarity_topk_bruteforce",   # embeddings
)


def session(app_name: str):
    from _event_intelligence_data_warehouse_spark.session import get_spark

    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _write_noop(frames) -> None:
    for df in frames if isinstance(frames, (list, tuple)) else (frames,):
        df.write.mode("overwrite").format("noop").save()


def warm(spark, sf_dir: str) -> None:
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    for name in WARM:
        _write_noop(QUERIES[name](spark, sf_dir))


def run(spark, key: str, build) -> dict:
    """Time ``build()`` plus the noop write of the frame, or list/tuple
    of frames, it returns, with Spark job group ``key``. ``build_s`` is
    frame building alone, eager actions included; ``wall_s`` adds the
    writes. ``jobs`` and ``tasks`` count this call's jobs in group
    ``key`` (read outside the timed window). Raises what ``build`` or a
    write raises."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(key))
    parent = sc.getLocalProperty(JOB_GROUP)
    sc.setLocalProperty(JOB_GROUP, key)
    try:
        t0 = time.perf_counter()
        frames = build()
        t1 = time.perf_counter()
        _write_noop(frames)
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty(JOB_GROUP, parent)
    # The status store fills from the asynchronous listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sorted(set(tracker.getJobIdsForGroup(key)) - before)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            si = tracker.getStageInfo(stage)
            tasks += si.numCompletedTasks if si else 0
    return {
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "jobs": len(jobs),
        "tasks": tasks,
    }


def main(argv: list[str]) -> int:
    from _event_intelligence_data_warehouse_spark import cache
    from _event_intelligence_data_warehouse_spark.contract import QUERIES

    sf_dir = (
        argv[0] if argv
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    names = argv[1:] or list(QUERIES)
    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = session("eidw-measure")
    warm(spark, sf_dir)
    cache.release_all()
    records = []
    for name in names:
        try:
            rec = run(spark, name, partial(QUERIES[name], spark, sf_dir))
        except Exception as e:  # record, keep sweeping
            rec = {"error": f"{type(e).__name__}: {e}"[:300]}
        finally:
            # A sweep is the longest-lived session of any harness;
            # operator persists left behind would put later queries
            # under LRU pressure and skew their timings.
            cache.release_all()
        records.append({"query": name, **rec})
    failures = sum("error" in r for r in records)
    for rec in sorted(records, key=lambda r: -r.get("wall_s", float("inf"))):
        print(json.dumps(rec), flush=True)
    print(f"measure: {len(records)} queries, {failures} failures",
          file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
