"""The benchmark's workloads. Each is a closed loop with one client: an
operation starts only when the previous one has returned, as the
in-process scheduler calls the pipeline.

A workload runs ``setup`` once, then whole passes until the run's seconds
are used up (at least one pass). ``Pass.ops`` holds the wall time of every
timed operation, ``Pass.cpu_s`` the CPU time the benchmark's processes
spent in them; output checks run between operations, outside the
timings.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import inputs

N_BASE = 5000  # events in the base warehouse
N_BATCH = 50  # events landed by one loading tick (1% of the base)
EXPECTED_DIMS = {"dim_date": inputs.N_DAYS, "dim_venue": 35,
                 "dim_category": len(inputs.EVENT_TYPES), "dim_source": 1}
N_QUALITY_CHECKS = 5  # quality_log rows appended per pipeline run

EXTENSION_QUERIES = ("dedup_minhash_lsh_pairs",)
N_DOCS = 200  # documents the extension queries read


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    process ``root`` and every live descendant: the benchmark, its JVM and
    the JVM's Python workers. Time stolen by the host is not in it."""
    root = root or os.getpid()
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Pass:
    """Timed operations; ``job_count`` returns the Spark jobs submitted so
    far, so ``jobs`` counts those the operations ran."""

    job_count: Callable[[], int] = lambda: 0
    ops: list[tuple[str, float]] = field(default_factory=list)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0

    def timed(self, kind: str, fn, *args):
        j0, c0 = self.job_count(), tree_cpu_s()
        t0 = time.perf_counter()
        out = fn(*args)
        dt = time.perf_counter() - t0
        self.cpu_s += tree_cpu_s() - c0
        self.jobs += self.job_count() - j0
        self.ops.append((kind, dt))
        self.wall_s += dt
        return out


class Checks:
    """Counts operations and failed output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, what: str, fn, *args):
        """Run one output check; ``fn`` returns a list of problems. An
        exception counts as a failure and is reported, not raised."""
        self.attempted += 1
        try:
            problems = fn(*args)
        except Exception:
            problems = ["raised:\n" + traceback.format_exc()]
        if problems:
            self.failed += 1
            for p in problems:
                print(f"CHECK FAILED {what}: {p}", file=sys.stderr)


def dir_files(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class IncrementalTicks:
    """Scheduler ticks on a manifest warehouse. Set-up lands the base batch
    into a fresh warehouse and runs the pipeline once (the cold load, which
    also warms the JVM); that warehouse is the template. Each pass copies
    the template, so every pass starts from the same state, then runs one
    loading tick (land a batch + ``run_pipeline``). With ``noop_tick`` the
    pass adds the hourly tick that finds nothing new (``run_pipeline``
    again); traced runs use it, untraced runs leave it out to fit the run
    budget."""

    name = "incremental_ticks"

    def __init__(self, ctx):
        self.ctx = ctx
        self.stream = inputs.EventStream(ctx.seed, N_BASE, N_BATCH)
        self.input_dir = ctx.path("in")
        os.makedirs(self.input_dir)
        self.base_path = os.path.join(self.input_dir, "base.parquet")
        base = self.stream.base()
        self.base_bytes = inputs.write_table(base, self.base_path)
        self.base_types = Counter(base.column("event_type").to_pylist())
        self.template = ctx.path("template")

    def _tick(self, wdir: str, batch_path: str | None) -> dict:
        p = self.ctx.pkg
        spark = self.ctx.spark
        with self.ctx.tracer.span("tick.load" if batch_path else "tick.noop"):
            if batch_path is not None:
                wh = p.Warehouse(spark, wdir, manifest=True)
                batch = spark.read.parquet(batch_path)
                p.bronze.land_batch(wh, p.events_as_raw(batch),
                                    source="stream")
            return p.pipeline.run_pipeline(
                spark, wdir,
                p.pipeline.parse_args(["--skip-ingest", "--manifest"]))

    def _fact_version(self, wdir: str) -> int:
        wh = self.ctx.pkg.Warehouse(self.ctx.spark, wdir, manifest=True)
        return wh.history("fact_events")[0]["version"]

    @staticmethod
    def _check_summary(summary: dict, rows: int, runs: int) -> list[str]:
        """Counts after ``runs`` pipeline runs have loaded ``rows`` events."""
        want = {"raw_events": rows, "fact_events": rows,
                "quality_log": N_QUALITY_CHECKS * runs, **EXPECTED_DIMS}
        return [f"{k}: {summary.get(k)} != {v}"
                for k, v in want.items() if summary.get(k) != v]

    def _check_kpis(self) -> list[str]:
        """``kpi_events_by_category`` against the generated events."""
        p = self.ctx.pkg
        wh = p.Warehouse(self.ctx.spark, self.template, manifest=True)
        rows = p.pipeline.step_kpis(wh, self.ctx.spark)[
            "kpi_events_by_category"].collect()
        got = sorted(r["total_events"] for r in rows)
        want = sorted(self.base_types.values())
        problems = [] if got == want else [f"category counts {got} != {want}"]
        if sum(got) != N_BASE:
            problems.append(f"category total {sum(got)} != facts {N_BASE}")
        return problems

    def setup(self, checks: Checks, ps: Pass) -> None:
        res = ps.timed("cold_load", self._tick, self.template, self.base_path)
        checks.op("cold load", self._check_summary, res["summary"], N_BASE, 1)
        checks.op("kpi_events_by_category", self._check_kpis)

    def run_pass(self, k: int, checks: Checks, probe,
                 noop_tick: bool = False) -> Pass:
        ps = Pass(self.ctx.job_count)
        wdir = self.ctx.path(f"wh{k}")
        shutil.copytree(self.template, wdir)
        batch_path = os.path.join(self.input_dir, f"batch{k}.parquet")
        batch_bytes = inputs.write_table(self.stream.batch(k), batch_path)
        rows = N_BASE + N_BATCH

        before = dir_files(wdir)
        res = ps.timed("load_tick", self._tick, wdir, batch_path)
        probe.load_tick(wdir, before, res, N_BATCH, ps.ops[-1][1])
        checks.op("load tick", lambda: self._check_summary(
            res["summary"], rows, 2) + (
            [] if res["load"].get("staged") == N_BATCH
            else [f"staged {res['load']}"]))

        if noop_tick:
            v0 = self._fact_version(wdir)
            res = ps.timed("noop_tick", self._tick, wdir, None)
            v1 = self._fact_version(wdir)
            checks.op("no-op tick", lambda: self._check_summary(
                res["summary"], rows, 3) + (
                [] if res["load"].get("staged") == 0
                else [f"staged {res['load']}"]) + (
                [] if v1 == v0 else [f"fact_events version {v0} -> {v1}"]))

        probe.pass_end(wdir, self.base_bytes + batch_bytes)
        shutil.rmtree(wdir)
        return ps


class ExtensionQueries:
    """Registered contract queries that run ``operators/``, each to the
    noop sink with ``cache.release_all()`` after it. Outputs are checked
    against the DuckDB oracle, computed before set-up. Set-up is one
    warm-up pass over the queries."""

    name = "extension_queries"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = ctx.path("sf")
        inputs.write_documents(ctx.seed, self.sf_dir, N_DOCS)
        self.oracle = self._oracle()

    def _oracle(self) -> dict[str, tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.sf_dir}/documents.parquet'")
            out = {}
            for q in EXTENSION_QUERIES:
                res = con.execute(self.ctx.pkg.contract.ORACLES[q])
                cols = [d[0] for d in res.description]
                out[q] = self.ctx.fingerprint(cols, res.fetchall())
            return out
        finally:
            con.close()

    def _query(self, name: str, checks: Checks, ps: Pass) -> None:
        p = self.ctx.pkg
        tracer = self.ctx.tracer

        def run():
            with tracer.span("contract.build", query=name):
                df = p.contract.QUERIES[name](self.ctx.spark, self.sf_dir)
            with tracer.span("contract.action", query=name):
                df.write.format("noop").mode("overwrite").save()
            return df

        df = ps.timed(name, self.ctx.query_op, name, run)

        def check():
            got = self.ctx.fingerprint(df.columns,
                                       [tuple(r) for r in df.collect()])
            want = self.oracle[name]
            return [] if got == want else [
                f"{got[0]} rows vs oracle {want[0]}, fingerprints differ"]

        checks.op(name, check)
        p.cache.release_all()

    def setup(self, checks: Checks, ps: Pass) -> None:
        for q in EXTENSION_QUERIES:
            self._query(q, checks, ps)

    def run_pass(self, k: int, checks: Checks, probe,
                 noop_tick: bool = False) -> Pass:
        ps = Pass(self.ctx.job_count)
        for q in EXTENSION_QUERIES:
            self._query(q, checks, ps)
        return ps


WORKLOADS = {w.name: w for w in (IncrementalTicks, ExtensionQueries)}
