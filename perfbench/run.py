"""Warehouse benchmark: scheduler ticks on a manifest warehouse, and
extension queries over ``operators/``.

    python3 perfbench/run.py --workload incremental_ticks --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: CPU seconds of set-up (imports, session start, and the
  workload's set-up operations: the cold load, or the warm-up pass);
- ``pass_cpu_s``: CPU seconds of one measured pass, median over passes;
- ``jvm_peak_rss_mb``: the JVM's peak resident memory.

CPU seconds are summed over the benchmark, its JVM and the JVM's Python
workers. They leave out time the host steals from this machine's virtual
CPUs, which made wall times of the same tick differ by up to 1.7x. Wall
times are printed on standard error, one line per pass.

With ``--trace 1`` the run makes one traced pass and one untraced pass,
prints the per-layer metrics (see ``layers.py``), and writes every span of
the traced pass to ``perfbench/out/spans_<workload>_seed<seed>.json``.

Spark runs at ``local[<cores>]`` with the package's own session settings.
All scratch files (inputs, warehouses, Spark temp and event-log files) live
in ``perfbench/.work/`` and are deleted before the result is printed. The
exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import types
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "pass_jobs": "count",
              "jvm_peak_rss_mb": "MB"}


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_package():
    """The package's public modules, plus the oracle fingerprint from
    ``tools/check_oracle.py``. Raises ImportError outside a checkout."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from _event_intelligence_data_warehouse_spark import cache, contract, session
    from _event_intelligence_data_warehouse_spark.plans import (
        dims, facts, kpis, pipeline, quality, staging)
    from _event_intelligence_data_warehouse_spark.sources import bronze
    from _event_intelligence_data_warehouse_spark.sources.events_adapter import (
        events_as_raw)
    from _event_intelligence_data_warehouse_spark.storage import Warehouse

    saved = list(sys.path)  # check_oracle prepends its own repo path
    from tools.check_oracle import fingerprint
    sys.path[:] = saved
    return types.SimpleNamespace(
        F=F, cache=cache, contract=contract, session=session, dims=dims,
        facts=facts, kpis=kpis, pipeline=pipeline, quality=quality,
        staging=staging, bronze=bronze, events_as_raw=events_as_raw,
        Warehouse=Warehouse, fingerprint=fingerprint)


class Ctx:
    """What a workload needs: the package, the session, the tracer, a
    scratch directory and the output fingerprint."""

    def __init__(self, args, pkg, work: str):
        from spans import Tracer

        self.seed = args.seed
        self.pkg = pkg
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = Tracer(None, uuid.uuid4().hex[:12])
        self.tracer.enabled = False

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fingerprint(self, cols, rows) -> tuple[int, str]:
        n, digest, _ = self.pkg.fingerprint(list(cols), rows)
        return n, digest

    def job_count(self) -> int:
        """Jobs submitted so far: the DAG scheduler's next job id, read
        synchronously, so the count is exact."""
        if self.spark is None:
            return 0
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def query_op(self, name: str, fn):
        with self.tracer.span("query", query=name):
            return fn()

    def start_spark(self, event_log: str | None):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.get_spark"):
            self.spark = self.pkg.session.get_spark(
                "perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def write_spans(path: str, ctx: Ctx, by_group: dict, extra: dict) -> None:
    from spans import self_times

    spans = ctx.tracer.spans
    t0 = min((s.start for s in spans), default=0.0)
    selfs = self_times(spans)
    rows = [{
        "id": s.id, "name": s.name, "parent": s.parent,
        "run_id": ctx.tracer.run_id, "start_s": s.start - t0,
        "end_s": s.end - t0, "wall_s": s.wall, "self_s": selfs[s.id],
        "jobs": by_group[s.group].jobs if s.group in by_group else 0,
        **s.attrs,
    } for s in sorted(spans, key=lambda s: s.start)]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"run_id": ctx.tracer.run_id, **extra, "spans": rows}, f,
                  indent=1)


def report_pass(k: int, ps) -> None:
    """One stderr line per pass: wall, CPU, jobs and each operation's wall."""
    ops = " ".join(f"{kind}={dt:.2f}s" for kind, dt in ps.ops)
    print(f"pass {k}: {ps.wall_s:.2f}s cpu={ps.cpu_s:.2f}s jobs={ps.jobs} {ops}",
          file=sys.stderr)


def measure(args, ctx: Ctx, import_s: float, import_cpu: float):
    """Set up, run the passes, and return (checks, metrics)."""
    from layers import LayerProbe, NoProbe, instrument, per_layer
    from workloads import WORKLOADS, Checks, Pass

    import eventlog

    checks = Checks()
    wl = WORKLOADS[args.workload](ctx)  # inputs and oracle: not set-up
    event_log = ctx.path("eventlog") if args.trace else None

    # set-up: import, session start and the workload's own set-up
    # operations; its output checks are not counted
    setup = Pass(ctx.job_count)
    ctx.tracer.enabled = bool(args.trace)
    setup.timed("session", ctx.start_spark, event_log)
    ctx.tracer.enabled = False
    wl.setup(checks, setup)
    print(f"setup: {import_s + setup.wall_s:.2f}s "
          f"cpu={import_cpu + setup.cpu_s:.2f}s", file=sys.stderr)

    if not args.trace:
        passes = []
        t_meas = time.perf_counter()
        while not passes or time.perf_counter() - t_meas < args.seconds:
            passes.append(wl.run_pass(len(passes), checks, NoProbe()))
            report_pass(len(passes) - 1, passes[-1])
        metrics = {
            "setup_s": import_cpu + setup.cpu_s,
            "pass_cpu_s": statistics.median(p.cpu_s for p in passes),
            "pass_jobs": statistics.median(p.jobs for p in passes),
            "jvm_peak_rss_mb": jvm_peak_rss_mb(ctx.spark),
        }
        stop_spark(ctx.spark)
        return checks, {k: {"value": v, "unit": END_TO_END[k]}
                        for k, v in metrics.items()}

    # The traced pass comes first, at the place the measured pass of an
    # untraced run has; the untraced pass after it is the reference. It
    # runs on a warmer JVM, so the reported overhead is an upper bound.
    probe = LayerProbe(ctx, getattr(wl, "template", None))
    instrument(ctx.tracer, ctx.pkg, probe)
    ctx.tracer.enabled = True
    traced = wl.run_pass(0, checks, probe, noop_tick=True)
    ctx.tracer.enabled = False
    ctx.tracer.unpatch()
    report_pass(0, traced)
    untraced = wl.run_pass(1, checks, NoProbe(), noop_tick=True)
    report_pass(1, untraced)
    counters = probe.counters(traced, untraced.wall_s)
    stop_spark(ctx.spark)
    by_group = eventlog.parse_dir(event_log)
    metrics = per_layer(ctx.tracer.spans, by_group, counters, ctx.cores)
    write_spans(
        os.path.join(HERE, "out", f"spans_{args.workload}_seed{args.seed}.json"),
        ctx, by_group, {"workload": args.workload, "seed": args.seed,
                        "untraced_pass_s": untraced.wall_s,
                        "traced_pass_s": traced.wall_s,
                        "trace_overhead_s": traced.wall_s - untraced.wall_s})
    return checks, metrics


def main(argv=None) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    try:
        pkg = load_package()
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t_start
    import_cpu = sum(os.times()[:2])

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's and Python's temp files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own JVM
    ctx = Ctx(args, pkg, work)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the data is small
    try:
        checks, metrics = measure(args, ctx, import_s, import_cpu)
    finally:
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    correct = checks.failed == 0
    print(json.dumps({"correct": correct, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
