"""Executor numbers per Spark job group, read from Spark's JSON event log
(``spark.eventLog.compress=false``; one JSON object per line)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields

MB = 1024 * 1024


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (plain or rolled layout)."""
    out = []
    for root, _, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if not f.startswith(".")]
    return sorted(out)


def parse(lines) -> dict[str | None, GroupStats]:
    """Job, task and executor totals keyed by ``spark.jobGroup.id`` (None
    for jobs run outside any group). A task counts to the job that first
    listed its stage; later jobs list it only as a skipped stage."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str | None, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[ev["Job ID"]] = group
            out.setdefault(group, GroupStats()).jobs += 1
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            st = out.setdefault(job_group.get(job), GroupStats())
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st.tasks += 1
            st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)) / MB
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            st.spill_mb += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / MB
    return out


def parse_dir(log_dir: str) -> dict[str | None, GroupStats]:
    def lines():
        for path in log_files(log_dir):
            with open(path) as f:
                yield from (ln for ln in f if ln.strip())

    return parse(lines())
