"""Per-layer metrics of a traced pass: the patch list that puts spans
around the package's public functions, the counters taken at those
boundaries, and the table of metrics a traced run prints."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from eventlog import GroupStats
from spans import Tracer, inclusive_stats, layer_totals
from workloads import dir_files

MB = 1024 * 1024

# (layer, fields) printed from the span totals
LAYER_FIELDS = [
    ("sources.bronze.land_batch", ("wall_s", "jobs")),
    ("plans.pipeline.run_pipeline", ("wall_s", "self_s")),
    ("plans.pipeline.step_transform_and_load", ("wall_s", "self_s", "jobs")),
    ("plans.pipeline.step_quality", ("wall_s", "self_s", "jobs")),
    ("plans.pipeline.step_kpis", ("wall_s", "self_s", "jobs")),
    ("plans.pipeline.summary", ("wall_s", "self_s", "jobs")),
    ("plans.staging.stage_events", ("calls", "wall_s", "jobs")),
    ("plans.dims.update", ("wall_s", "jobs")),
    ("plans.facts.build_fact_rows", ("wall_s", "jobs")),
    ("plans.facts.upsert_facts_partitioned", ("wall_s", "self_s", "jobs")),
    ("plans.quality.checks", ("wall_s", "jobs")),
    ("plans.kpis.register_views", ("wall_s", "jobs")),
    ("storage.read", ("calls", "wall_s")),
    ("storage.write", ("calls", "wall_s", "self_s", "jobs")),
    ("contract.build", ("wall_s", "jobs")),
    ("contract.action", ("wall_s", "jobs")),
    ("cache.release_all", ("wall_s",)),
    ("session.get_spark", ("wall_s",)),
]
# layers whose executor totals from the event log are printed
SPARK_TOPS = [
    "sources.bronze.land_batch",
    "plans.pipeline.step_transform_and_load",
    "plans.pipeline.step_quality",
    "plans.pipeline.step_kpis",
    "plans.pipeline.summary",
    "query",
]
SPARK_FIELDS = [("tasks", "count"), ("executor_run_s", "s"),
                ("executor_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                ("spill_mb", "MB"), ("busy_ratio", "ratio")]
# counters taken at layer boundaries, and per-pass workload figures
COUNTERS = [
    ("sources.bronze.land_batch.rows_landed_ratio", "ratio"),
    ("plans.facts.rows_rewritten_per_row_loaded", "ratio"),
    ("plans.quality.rows_checked_per_new_row", "ratio"),
    ("storage.files_read_per_file_live", "ratio"),
    ("storage.manifest_versions", "count"),
    ("storage.manifest_commits", "count"),
    ("storage.write.files", "count"),
    ("storage.write.bytes", "B"),
    ("cache.cached_mb_before_release", "MB"),
    ("cache.cached_mb_left", "MB"),
    ("ticks.load_s", "s"),
    ("ticks.noop_s", "s"),
    ("ticks.load_rows_per_s", "1/s"),
    ("ticks.write_bytes_per_row", "B"),
    ("ticks.storage_bytes_per_input_byte", "ratio"),
    ("trace.untraced_pass_s", "s"),
    ("trace.overhead_s", "s"),
]
_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "calls": "count"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    out = {f"{layer}.{f}": _UNITS[f] for layer, fs in LAYER_FIELDS for f in fs}
    out.update({f"spark.{top}.{f}": u for top in SPARK_TOPS
                for f, u in SPARK_FIELDS})
    out.update(COUNTERS)
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / MB


def manifest_versions(wdir: str) -> int:
    return len(glob.glob(os.path.join(wdir, "*", "_manifests", "v*.json")))


class NoProbe:
    """Counter hooks of an untraced pass: do nothing."""

    def load_tick(self, *args):
        pass

    def pass_end(self, *args):
        pass


class LayerProbe(NoProbe):
    """Counters of the traced pass, taken at the patched boundaries. The
    hooks run only while the tracer is enabled."""

    def __init__(self, ctx, template: str | None):
        self.ctx = ctx
        self.template_versions = manifest_versions(template) if template else 0
        self.c = {name: 0.0 for name, _ in COUNTERS}
        self.fetched = self.loaded = 0
        self.files_read = self.files_live = 0
        self.fact_rows_written = 0

    # -- hooks on patched functions (see instrument) ------------------------
    def on_land(self, span, state, args, kwargs, out):
        self.fetched += out["records_fetched"]
        self.loaded += out["records_loaded"]

    def on_read(self, span, state, args, kwargs, df):
        wh, table = args[0], args[1]
        if kwargs.get("version") is not None:
            return
        live = wh.file_stats(table)[0]
        if live:
            self.files_live += live
            self.files_read += len(df.inputFiles())

    def before_write(self, args, kwargs):
        return dir_files(args[0].path(args[1]))

    def on_write(self, span, before, args, kwargs, out):
        new = {p: n for p, n in dir_files(args[0].path(args[1])).items()
               if before.get(p) != n}
        data = [p for p in new if p.endswith(".parquet")]
        self.c["storage.write.files"] += len(data)
        self.c["storage.write.bytes"] += sum(new.values())
        if args[1] == "fact_events":
            self.fact_rows_written += sum(
                pq.ParquetFile(p).metadata.num_rows for p in data)

    def before_release(self, args, kwargs):
        c = self.c
        c["cache.cached_mb_before_release"] = max(
            c["cache.cached_mb_before_release"], cached_mb(self.ctx.spark))

    # -- per-pass figures ---------------------------------------------------
    def load_tick(self, wdir, before, res, n_rows, wall):
        spent = sum(n for p, n in dir_files(wdir).items() if before.get(p) != n)
        self.c["ticks.load_s"] = wall
        self.c["ticks.load_rows_per_s"] = n_rows / wall
        self.c["ticks.write_bytes_per_row"] = spent / n_rows
        self.c["plans.facts.rows_rewritten_per_row_loaded"] = (
            self.fact_rows_written / n_rows)
        p = self.ctx.pkg
        with self.ctx.tracer.paused():
            log = p.Warehouse(self.ctx.spark, wdir, manifest=True).read(
                "quality_log")
            checked = (log.filter(p.F.col("run_id") == res["run_id"])
                       .agg(p.F.sum("records_checked")).first()[0])
        self.c["plans.quality.rows_checked_per_new_row"] = checked / n_rows

    def pass_end(self, wdir, input_bytes):
        on_disk = sum(dir_files(wdir).values())
        self.c["ticks.storage_bytes_per_input_byte"] = on_disk / input_bytes
        versions = manifest_versions(wdir)
        self.c["storage.manifest_versions"] = versions
        self.c["storage.manifest_commits"] = versions - self.template_versions

    def counters(self, ps, untraced_wall: float) -> dict[str, float]:
        c = dict(self.c)
        c["cache.cached_mb_left"] = cached_mb(self.ctx.spark)
        c["ticks.noop_s"] = sum(dt for kind, dt in ps.ops if kind == "noop_tick")
        c["trace.untraced_pass_s"] = untraced_wall
        c["trace.overhead_s"] = ps.wall_s - untraced_wall
        if self.fetched:
            c["sources.bronze.land_batch.rows_landed_ratio"] = (
                self.loaded / self.fetched)
        if self.files_live:
            c["storage.files_read_per_file_live"] = (
                self.files_read / self.files_live)
        return c


def instrument(tracer: Tracer, pkg, probe: LayerProbe) -> None:
    """Wrap the package's public functions in spans, from outside."""
    p = pkg
    w = tracer.wrap
    w(p.bronze, "land_batch", "sources.bronze.land_batch", after=probe.on_land)
    w(p.pipeline, "run_pipeline", "plans.pipeline.run_pipeline")
    for step in ("step_transform_and_load", "step_quality", "step_kpis",
                 "summary"):
        w(p.pipeline, step, f"plans.pipeline.{step}")
    # pipeline calls the name it imported, so both bindings are wrapped
    w(p.pipeline, "stage_events", "plans.staging.stage_events")
    w(p.staging, "stage_events", "plans.staging.stage_events")
    for fn in ("update_dim_date", "update_dim_category", "update_dim_source",
               "update_dim_venue"):
        w(p.dims, fn, "plans.dims.update")
    w(p.facts, "build_fact_rows", "plans.facts.build_fact_rows")
    w(p.facts, "upsert_facts_partitioned",
      "plans.facts.upsert_facts_partitioned")
    for fn in ("check_null_event_names", "check_invalid_event_dates",
               "check_price_min_gt_max", "check_duplicate_event_ids",
               "check_orphan_fact_records"):
        w(p.quality, fn, "plans.quality.checks")
    w(p.kpis, "register_views", "plans.kpis.register_views")
    w(p.Warehouse, "read", "storage.read", after=probe.on_read)
    for fn in ("append", "overwrite", "overwrite_partitions"):
        w(p.Warehouse, fn, "storage.write", before=probe.before_write,
          after=probe.on_write)
    w(p.cache, "release_all", "cache.release_all", before=probe.before_release)


def per_layer(spans, by_group: dict, counters: dict, cores: int) -> dict:
    """The printed per-layer metrics from the traced pass's spans."""
    stats = inclusive_stats(spans, by_group)
    totals = layer_totals(spans, stats)
    empty = {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "stats": GroupStats()}
    out = {}
    for name, unit in metric_units().items():
        if name.startswith("spark."):
            top, f = name[len("spark."):].rsplit(".", 1)
            t = totals.get(top, empty)
            if f == "busy_ratio":
                v = (t["stats"].executor_run_s / (t["wall_s"] * cores)
                     if t["wall_s"] else 0.0)
            else:
                v = getattr(t["stats"], f)
        elif name in counters:
            v = counters[name]
        else:
            layer, f = name.rsplit(".", 1)
            t = totals.get(layer, empty)
            v = t["stats"].jobs if f == "jobs" else t[f]
        out[name] = {"value": float(v), "unit": unit}
    return out
