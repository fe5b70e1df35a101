"""Pipeline scheduler (SURVEY.md §2.13 G2).

Reference parity: ``scripts/scheduler.py:54-57`` schedules a daily full
pipeline run at 06:00 and an hourly quality-only run (the CLI's
``--skip-ingest`` path). When no new data landed, the load finds nothing
past its watermark and the quality step folds no new counters, so the
run submits one Spark job, the ``quality_log`` append (see
tests/test_scheduler.py and tests/test_metadata_path.py).

Stdlib-only (the ``schedule`` library is not available here) and
in-process: runs reuse one SparkSession instead of paying a JVM boot per
tick, which is the idiomatic Spark translation of the reference's
``subprocess.run([... run_pipeline.py ...])``. The tick logic is pure
((now, last-runs) -> due jobs) with injectable clock/sleep/runner so the
loop is unit-testable without wall-clock time.
"""

from __future__ import annotations

import argparse
import datetime as dt
import time
from collections.abc import Callable

DAILY_FULL = "daily_full"
HOURLY_QUALITY = "hourly_quality"

_DEFAULT_STATE = object()  # sentinel: derive state path from warehouse_dir


def parse_hhmm(s: str) -> dt.time:
    h, m = s.split(":")
    return dt.time(int(h), int(m))


def due_jobs(
    now: dt.datetime,
    last_runs: dict[str, dt.datetime],
    *,
    daily_at: dt.time = dt.time(6, 0),
    quality_every: dt.timedelta = dt.timedelta(hours=1),
) -> list[str]:
    """Which jobs should fire at ``now`` given their last completions.

    - ``daily_full``: once per calendar day, at/after ``daily_at``
      (06:00 in the reference).
    - ``hourly_quality``: when at least ``quality_every`` has elapsed
      since its last completion (immediately on first tick, matching
      ``schedule.every().hour`` semantics closely enough for parity).
    """
    due = []
    anchor = dt.datetime.combine(now.date(), daily_at)
    last_full = last_runs.get(DAILY_FULL)
    if now >= anchor and (last_full is None or last_full < anchor):
        due.append(DAILY_FULL)
    last_q = last_runs.get(HOURLY_QUALITY)
    if last_q is None or now - last_q >= quality_every:
        due.append(HOURLY_QUALITY)
    return due


def make_runner(spark, warehouse_dir: str) -> Callable[[str], dict]:
    """Default job runner: the six-step pipeline DAG, full or
    quality-only (--skip-ingest), sharing one SparkSession."""
    from _event_intelligence_data_warehouse_spark.plans import pipeline

    def run(job: str) -> dict:
        flags = ["--warehouse-dir", warehouse_dir]
        if job == DAILY_FULL:
            flags += ["--source", "csv", "--generate-sample"]
        else:
            flags += ["--skip-ingest"]
        args = pipeline.parse_args(flags)
        return pipeline.run_pipeline(spark, warehouse_dir, args)

    return run


def _load_state(path: str | None) -> dict[str, dt.datetime]:
    import json
    import os

    if not path or not os.path.isfile(path):
        return {}
    try:
        with open(path) as f:
            raw = json.load(f)
        return {k: dt.datetime.fromisoformat(v) for k, v in raw.items()}
    except Exception:
        return {}


def _save_state(path: str | None, last_runs: dict[str, dt.datetime]) -> None:
    import json
    import os

    if not path:
        return
    parent = os.path.dirname(path)
    if parent:  # bare filename -> current dir, nothing to create
        os.makedirs(parent, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({k: v.isoformat() for k, v in last_runs.items()}, f)
    os.replace(tmp, path)


def run_scheduler(
    spark,
    warehouse_dir: str,
    *,
    daily_at: dt.time = dt.time(6, 0),
    tick_seconds: float = 60.0,
    max_ticks: int | None = None,
    runner: Callable[[str], dict] | None = None,
    clock: Callable[[], dt.datetime] | None = None,
    sleeper: Callable[[float], None] | None = None,
    state_path=_DEFAULT_STATE,
) -> dict[str, dt.datetime]:
    """Tick loop: every ``tick_seconds``, fire whatever :func:`due_jobs`
    says is due. ``max_ticks`` bounds the loop (None = forever); returns
    the last-completion map for inspection.

    Last-run state persists to ``<warehouse_dir>/_meta/scheduler.json``
    (override with ``state_path``; None disables) so a process restart
    after the daily anchor does NOT re-fire the daily full run — without
    this, every restart would re-ingest a fresh sample batch."""
    import os

    runner = runner or make_runner(spark, warehouse_dir)
    clock = clock or dt.datetime.now
    sleeper = sleeper or time.sleep
    if state_path is _DEFAULT_STATE:
        state_path = os.path.join(warehouse_dir, "_meta", "scheduler.json")
    last_runs = _load_state(state_path)
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        now = clock()
        for job in due_jobs(now, last_runs, daily_at=daily_at):
            # Reference parity (scripts/scheduler.py): subprocess.run does
            # not raise on a nonzero exit, so one failed pipeline run must
            # log and keep the scheduler ticking — last_runs is NOT
            # updated for the failed job, so it retries on the next tick.
            try:
                runner(job)
            except Exception:
                import logging

                logging.getLogger(__name__).exception(
                    "scheduled job %s failed; will retry next due tick", job
                )
                continue
            last_runs[job] = clock()
            _save_state(state_path, last_runs)
        ticks += 1
        if max_ticks is None or ticks < max_ticks:
            sleeper(tick_seconds)
    return last_runs


def main(argv=None) -> None:
    from _event_intelligence_data_warehouse_spark.session import get_spark

    p = argparse.ArgumentParser(description="event-warehouse scheduler")
    p.add_argument("--warehouse-dir", default="./warehouse_data")
    p.add_argument("--daily-at", default="06:00")
    p.add_argument("--tick-seconds", type=float, default=60.0)
    p.add_argument("--max-ticks", type=int, default=None)
    args = p.parse_args(argv)
    spark = get_spark("eidw-scheduler")
    run_scheduler(
        spark,
        args.warehouse_dir,
        daily_at=parse_hhmm(args.daily_at),
        tick_seconds=args.tick_seconds,
        max_ticks=args.max_ticks,
    )


if __name__ == "__main__":
    main()
