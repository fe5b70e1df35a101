"""Pipeline orchestrator (SURVEY.md §2.13 G1, §3 E1).

Same six-step DAG as the reference CLI
(/root/reference/scripts/run_pipeline.py:142-179): ingest -> transform ->
load facts -> quality -> KPI views -> summary, with the same flags
(--source, --csv-path, --generate-sample, --skip-ingest). Differences by
design:

- Incrementality is a persisted watermark instead of a mutable
  ``is_processed`` flag (SURVEY.md §2.5 U7 rebuild decision): the bronze
  version the last load read through. The next load reads only the files
  appended after it, with no bronze rewrite per batch, and never misses
  a row that a slower lander stamped earlier but committed later.
- Each SQL script step is a DataFrame program; one fact-load path with the
  canonical key (SURVEY.md §0.2).
- The quality step logs the same whole-table checks without reading a
  table: the landing, the fact upsert and the dimension update record
  counters in their commits, and the step folds the commits made since
  its last run (``plans/quality.py``).
"""

from __future__ import annotations

import argparse
import uuid
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark import schemas
from _event_intelligence_data_warehouse_spark.functions.keys import event_nk
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    SURROGATE_GLOBAL_WINDOW_MAX_ROWS,
    dedup_keys,
)
from _event_intelligence_data_warehouse_spark.plans import dims as dims_mod
from _event_intelligence_data_warehouse_spark.plans import facts as facts_mod
from _event_intelligence_data_warehouse_spark.plans import kpis as kpis_mod
from _event_intelligence_data_warehouse_spark.plans import quality as quality_mod
from _event_intelligence_data_warehouse_spark.plans.staging import stage_events
from _event_intelligence_data_warehouse_spark.sources import bronze
from _event_intelligence_data_warehouse_spark.storage import Warehouse

T = TypeVar("T")

# Holds the bronze version the last fact load read through. The name is
# from when it held an ingested_at timestamp; a warehouse that still
# holds one resumes from it once.
WATERMARK = "fact_load.ingested_at"

# Dimension name -> its update, called as (existing, stg, now). Called
# through the module so per-function wrappers see the calls.
DIM_UPDATES = {
    "dim_date": lambda ex, stg, now: dims_mod.update_dim_date(ex, stg),
    "dim_category": lambda ex, stg, now: dims_mod.update_dim_category(ex, stg, now),
    "dim_source": lambda ex, stg, now: dims_mod.update_dim_source(ex, stg, now),
    "dim_venue": lambda ex, stg, now: dims_mod.update_dim_venue(ex, stg, now),
}

GOLD = {
    "dim_date": schemas.DIM_DATE,
    "dim_venue": schemas.DIM_VENUE,
    "dim_category": schemas.DIM_CATEGORY,
    "dim_source": schemas.DIM_SOURCE,
    "fact_events": schemas.FACT_EVENTS,
}


def step_ingest(wh: Warehouse, args, spark: SparkSession) -> dict:
    if args.source == "csv":
        from _event_intelligence_data_warehouse_spark.sources.csv_source import (
            read_events_csv,
        )

        if args.generate_sample:
            from _event_intelligence_data_warehouse_spark.sources.synthetic import (
                generate_sample_events,
            )

            batch = generate_sample_events(spark, args.sample_rows, dirty=args.dirty)
        else:
            batch = read_events_csv(spark, args.csv_path)
        return bronze.land_batch(wh, batch, source="csv")
    if args.source == "api":
        from _event_intelligence_data_warehouse_spark.sources.api_source import (
            ingest_api,
        )

        batch = ingest_api(spark, args.api_key)
        return bronze.land_batch(wh, batch, source="ticketmaster")
    raise ValueError(f"unknown source {args.source!r}")


def unprocessed_raw(wh: Warehouse,
                    watermark: str) -> tuple[DataFrame | None, int]:
    """Bronze rows committed after the version in ``watermark``, and the
    version they were read through — the incremental filter
    (transform_events.sql:75 re-expressed). None when there are none."""
    wm = wh.get_watermark(watermark)
    raw, version = wh.appended_since(
        bronze.RAW_TABLE, wm if isinstance(wm, int) else 0
    )
    if isinstance(wm, str) and raw is not None:
        # an ingested_at watermark from before version watermarks:
        # resumed once with its own predicate
        raw = raw.filter(F.col("ingested_at") > F.lit(wm).cast("timestamp"))
    return raw, version


def drain_bronze(
    wh: Warehouse, watermark: str, load: Callable[[DataFrame], T],
) -> T | None:
    """Stage the bronze rows committed after ``watermark``, ``load`` the
    batch, then advance the watermark to exactly the version read (fixes
    the reference's broken mark-processed — SURVEY.md §0.3). Returns
    ``load``'s result, or None when nothing new was committed. The read
    resolves the manifests, so rows a deletion vector hides and
    unpublished files are never loaded; a failed load leaves the
    watermark, and the next drain replays the batch. A bronze commit that
    replaced files raises ValueError (nothing compacts ``raw_events``).

    The batch is not cached: it is a projection over files that were
    appended and are never rewritten, so each read of it gives the same
    rows, and under adaptive execution filling a cache is a job of its
    own."""
    raw, version = unprocessed_raw(wh, watermark)
    if raw is None:
        return None
    out = load(stage_events(raw))
    wh.set_watermark(watermark, version)
    return out


def write_facts(
    wh: Warehouse, stg: DataFrame, dims: dict[str, DataFrame], *,
    staged: int, buckets: list[int], keys: list[str],
) -> None:
    """Star-join the staged batch against ``dims`` and upsert the fact
    rows into ``buckets`` by ``keys`` (the batch's distinct non-NULL
    ``event_nk`` values). ``staged``, the row count, bounds the new keys,
    so it picks the surrogate-key regime without a probe job on the join
    result. A batch with as many keys as rows is key-unique, so it skips
    the batch dedup (a shuffle that would keep every row); one with a
    NULL or repeated key keeps the latest row per (source, raw_event_id)
    (load_facts.sql:12-17), a NULL id counting as one key per source."""
    if len(keys) < staged:
        stg = dedup_keys(
            stg,
            ["source", "raw_event_id"],
            [F.desc("ingested_at"), F.desc("ingest_id")],
        )
    fact_rows = facts_mod.build_fact_rows(
        stg,
        dims["dim_date"],
        dims["dim_venue"],
        dims["dim_category"],
        dims["dim_source"],
        loaded_at=F.current_timestamp(),
    ).select([f.name for f in schemas.FACT_EVENTS.fields if f.name != "event_sk"]
             + ["_ingest_id"])
    # Batch-sized upsert: the batch's new keys are appended to their hash
    # buckets, and only a bucket that holds an updated key (or reached
    # the file bound) is read and rewritten — at 100 TB the write cost
    # tracks the increment, not the table.
    facts_mod.upsert_facts_partitioned(
        wh, fact_rows, buckets=buckets, keys=keys,
        bulk=staged > SURROGATE_GLOBAL_WINDOW_MAX_ROWS,
    )


def step_transform_and_load(wh: Warehouse, spark: SparkSession) -> dict:
    """Staging cleanse + dim maintenance + fact upsert over the bronze
    rows committed since the last load."""
    out = drain_bronze(wh, WATERMARK, lambda stg: _load_staged(wh, stg))
    return {"staged": 0} if out is None else out


def _load_staged(wh: Warehouse, stg: DataFrame) -> dict:
    now = F.current_timestamp()
    dims = {name: wh.read(name, GOLD[name]) for name in DIM_UPDATES}
    present = {name: dims[name] for name in dims if wh.exists(name)}
    # One pass over the batch: the batch size, the fact keys and
    # the buckets they fall in, and the dimensions it adds members to (a
    # table that does not exist yet is always written, even if empty).
    nk = event_nk("source", "raw_event_id")
    rows = dims_mod.with_new_members(stg, present, {
        "_bucket": facts_mod.fact_bucket(nk), "_nk": nk,
    })
    staged, buckets, keys, added = rows.agg(
        F.count("_bucket"),  # a staged row's own row has a bucket
        F.collect_set("_bucket"),
        F.collect_set("_nk"),
        F.collect_set("dim"),
    ).first()

    # Only those dimensions are rebuilt and rewritten; the fact build
    # reads them back and reuses the unchanged images. An update keeps
    # every key it had, which its commit records for the orphan check.
    for name in sorted(set(added) | (dims.keys() - present.keys())):
        with wh.commit_metadata(**{quality_mod.COUNTERS: quality_mod.KEYS_KEPT}):
            wh.overwrite(name, DIM_UPDATES[name](dims[name], stg, now))
        dims[name] = wh.read(name)

    write_facts(wh, stg, dims, staged=staged, buckets=buckets, keys=keys)
    return {"staged": staged}


def step_quality(wh: Warehouse, spark: SparkSession, run_id: str) -> DataFrame:
    """Append the five check rows to ``quality_log``. The counters come
    from the state in the last ``quality_log`` commit, advanced over the
    bronze, fact and dimension commits made since, so the append is the
    step's one Spark job. A commit without counters (another writer, a
    vector delete, a compaction, a warehouse written before counters)
    recounts in full; the recount is kept as state only when the fold
    may go on from it."""
    last = wh.last_commit(bronze.QUALITY_LOG_TABLE)
    prior = (quality_mod.empty_state() if last["version"] == 0
             else (last["meta"] or {}).get(quality_mod.STATE))
    state = None
    if prior is not None:
        try:
            state = quality_mod.fold(prior, {
                t: wh.commits_since(t, v) for t, v in prior["versions"].items()
            })
        except (ValueError, FileNotFoundError):  # covered version gone
            pass
    keep = state is not None
    if state is None:
        state, keep = _recount_quality(wh)
    out = quality_mod.state_rows(spark, state, run_id)
    with wh.commit_metadata(**{quality_mod.STATE: state if keep else None}):
        wh.append(bronze.QUALITY_LOG_TABLE,
                  out.select([f.name for f in schemas.QUALITY_LOG.fields]))
    return wh.read(bronze.QUALITY_LOG_TABLE)


def _recount_quality(wh: Warehouse) -> tuple[dict, bool]:
    """The quality state from full scans, and whether to keep it: not
    when a table moved while it was read."""
    versions = {t: wh.last_commit(t)["version"] for t in quality_mod.TABLES}
    fact = wh.read("fact_events", schemas.FACT_EVENTS)
    state, keep = quality_mod.full_state(
        wh.read(bronze.RAW_TABLE, schemas.RAW_EVENTS),
        fact,
        *(wh.read(t, GOLD[t]) for t in quality_mod.DIM_TABLES),
        bucket=(F.col(facts_mod.FACT_PART_COL)
                if facts_mod.FACT_PART_COL in fact.columns
                else facts_mod.fact_bucket()),
        versions=versions,
    )
    moved = any(wh.last_commit(t)["version"] != v for t, v in versions.items())
    return state, keep and not moved


def step_kpis(wh: Warehouse, spark: SparkSession) -> dict[str, DataFrame]:
    tables = {name: wh.read(name, schema) for name, schema in GOLD.items()}
    tables["ingestion_runs"] = bronze.current_runs(wh)
    tables["quality_log"] = wh.read(
        bronze.QUALITY_LOG_TABLE, schemas.QUALITY_LOG
    )
    return kpis_mod.register_views(spark, tables)


def summary(wh: Warehouse) -> dict[str, int]:
    """The 7 invariant post-run counts (run_pipeline.py:65-87), served
    from the manifests' per-file row counts with no Spark job; a table
    whose count the stats cannot answer exactly (deletion vectors, files
    without row stats) falls back to ``count()``."""
    out = {}
    for t in [
        "raw_events",
        "dim_date",
        "dim_venue",
        "dim_category",
        "dim_source",
        "fact_events",
        "quality_log",
    ]:
        n = wh.stats_count(t)
        if n is None:
            try:
                n = wh.read(t).count()
            except FileNotFoundError:
                n = 0
        out[t] = n
    return out


def run_pipeline(spark: SparkSession, warehouse_dir: str, args=None) -> dict:
    args = args or parse_args([])
    wh = Warehouse(spark, warehouse_dir)
    run_id = str(uuid.uuid4())
    result: dict = {"run_id": run_id}
    if not args.skip_ingest:
        result["ingest"] = step_ingest(wh, args, spark)
    result["load"] = step_transform_and_load(wh, spark)
    step_quality(wh, spark, run_id)
    step_kpis(wh, spark)
    result["summary"] = summary(wh)
    return result


def parse_args(argv):
    p = argparse.ArgumentParser(description="event-intelligence warehouse pipeline")
    p.add_argument("--source", choices=["csv", "api"], default="csv")
    p.add_argument("--csv-path", default=None)
    p.add_argument("--generate-sample", action="store_true")
    p.add_argument("--sample-rows", type=int, default=500)
    p.add_argument("--dirty", action="store_true",
                   help="inject the FIXTURES.md defect mix into the sample")
    p.add_argument("--skip-ingest", action="store_true")
    p.add_argument("--api-key", default=None)
    p.add_argument("--warehouse-dir", default="./warehouse_data")
    # Accepted and ignored: manifest commits are the only table format,
    # and scripts written when this flag chose it still pass it.
    p.add_argument("--manifest", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> None:
    from _event_intelligence_data_warehouse_spark.session import get_spark

    args = parse_args(argv)
    spark = get_spark("eidw-pipeline")
    result = run_pipeline(spark, args.warehouse_dir, args)
    for k, v in result.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
