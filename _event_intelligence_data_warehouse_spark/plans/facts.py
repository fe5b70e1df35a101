"""Fact load: batch dedup -> star join -> merge upsert
(/root/reference/warehouse/load_facts.sql re-expressed; SURVEY.md §2.5-2.6).

One fact-load path with key ``source || '_' || raw_event_id`` — the
reference has two conflicting key formulas (SURVEY.md §0.2); the loader's
is canonical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.functions.keys import (
    event_nk,
    price_avg_expr,
    price_to_eur,
    venue_nk,
)
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    assign_surrogate_keys,
    dedup_keys,
    merge_upsert,
)
from _event_intelligence_data_warehouse_spark.plans import quality


def build_fact_rows(
    stg: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    *,
    loaded_at: Column,
) -> DataFrame:
    """Deduped staging batch -> fact rows with resolved dimension keys.

    Joins (load_facts.sql:75-90): all LEFT on equi-keys; the venue join is
    on the md5 expression key with the ``is_current`` residual (J2). Dims
    are broadcast — at 100 TB the fact side streams and no shuffle occurs
    on the fact table at all for this stage.
    """
    batch = dedup_keys(
        stg,
        ["source", "raw_event_id"],
        [F.desc("ingested_at"), F.desc("ingest_id")],
    ).withColumn("_venue_nk", venue_nk("venue_name", "venue_city"))

    dd = F.broadcast(dim_date.select("date_id", "full_date"))
    dv = F.broadcast(
        dim_venue.filter(F.col("is_current")).select("venue_sk", "venue_nk")
    )
    dc = F.broadcast(
        dim_category.select(
            "category_sk", F.col("category_name"), F.col("subcategory").alias(
                "_subcat"
            )
        )
    )
    ds = F.broadcast(dim_source.select("source_sk", "source_name"))

    joined = (
        batch.join(dd, batch.event_date == dd.full_date, "left")
        .join(dv, batch._venue_nk == dv.venue_nk, "left")
        .join(
            dc,
            (batch.category == dc.category_name)
            & (batch.subcategory == dc._subcat),
            "left",
        )
        .join(ds, batch.source == ds.source_name, "left")
    )

    return joined.select(
        event_nk("source", "raw_event_id").alias("event_nk"),
        F.col("date_id").cast("long"),
        F.col("venue_sk").cast("long"),
        F.col("category_sk").cast("long"),
        F.col("source_sk").cast("long"),
        F.col("event_name"),
        F.col("url").alias("event_url"),
        F.col("event_status"),
        F.col("price_min"),
        F.col("price_max"),
        price_avg_expr("price_min", "price_max").alias("price_avg"),
        F.col("currency"),
        price_to_eur("price_min", "currency").alias("price_min_eur"),
        F.col("ingested_at"),
        loaded_at.alias("loaded_at"),
        F.lit(False).alias("is_deleted"),
        F.col("ingest_id").alias("_ingest_id"),
    )


def upsert_facts(
    existing: DataFrame,
    incoming: DataFrame,
    *,
    sk_source: DataFrame | int | None = None,
    bulk: bool | None = None,
) -> DataFrame:
    """Merge semantics of load_facts.sql:92-98: on event_nk match refresh
    the mutable attrs and loaded_at, preserving event_sk and the original
    ingested_at; new keys get deterministic surrogate keys.

    One full outer join: ``event_sk`` is preserved like ``ingested_at``,
    so every existing row keeps its key, including one whose event_nk is
    NULL, and the rows left without a key are the inserts.
    ``sk_source`` seeds the new keys: the FULL table when ``existing``
    is a partition-pruned subset (partitioned upsert), so continuation
    stays globally unique, or its max(event_sk) when the caller knows
    it. ``bulk`` picks the surrogate-key regime (see
    ``assign_surrogate_keys``); None lets it probe the new-row count."""
    merged = merge_upsert(
        existing,
        incoming.drop("_ingest_id"),
        ["event_nk"],
        preserve=["ingested_at", "event_sk"],
    )
    old_rows = merged.filter(F.col("event_sk").isNotNull())
    new_rows = assign_surrogate_keys(
        sk_source if sk_source is not None else existing,
        merged.filter(F.col("event_sk").isNull()).drop("event_sk"),
        "event_sk", ["event_nk"], bulk=bulk,
    )
    cols = existing.columns
    return old_rows.select(cols).unionByName(new_rows.select(cols))


# Bucket count for the partitioned fact layout. 16 keeps test-scale file
# counts sane; a 100 TB deployment raises it (and/or adds a date column as
# the leading partition) so one bucket ~ one rewrite unit of a few GB.
FACT_BUCKETS = 16
FACT_PART_COL = "p_bucket"


def fact_bucket(nk: Column | str = "event_nk", n: int = FACT_BUCKETS) -> Column:
    """Immutable partition bucket for a fact row: xxhash64 of the natural
    key. Re-ingesting a key always lands in its original bucket, so an
    upsert touches exactly the buckets of its incoming keys."""
    nk = F.col(nk) if isinstance(nk, str) else nk
    return F.pmod(F.xxhash64(nk), F.lit(n)).cast("int")


def _sk_base(wh, table: str, full: DataFrame) -> DataFrame | int:
    """The surrogate-key base of ``table``: its max(event_sk) from the
    manifest's column bounds when they are exact, else ``full`` for an
    aggregate over the column. Bounds are not exact when a file lacks
    them, or while deletion vectors hide rows the bounds still cover
    (``stats_minmax`` returns None in both cases)."""
    bounds = wh.stats_minmax(table, "event_sk")
    return full if bounds is None else int(bounds[1])


# A touched bucket that already holds this many live files is rewritten
# into one file instead of gaining another (an incremental-regime batch
# appends one file per touched bucket), which bounds the files per
# bucket without a separate compaction pass. Every live file's snapshot
# group costs each read of the table; each rewrite costs a merge of the
# bucket. Over 32 ticks of 50 new keys on a 5,000-row table (local[4]),
# the upsert plus one whole-table aggregate averaged 1.7-2.1 s a tick
# at 4, 2.2-2.6 s at 8, 2.7-3.2 s at 16, and 3.1-3.2 s, still growing, with
# no bound. The best bound grows with the table, whose rewrite it
# amortises.
FACT_BUCKET_MAX_FILES = 4


def _replaced_buckets(
    wh, table: str, buckets: list[int], keys: list[str],
) -> list[int]:
    """The touched ``buckets`` the write must rewrite: those holding one
    of the batch's ``keys`` (an update), and those that already hold
    :data:`FACT_BUCKET_MAX_FILES` live files. The first come from one
    scan of the ``event_nk`` column of the touched buckets, filtered by
    the literal key set (one job; manifest bounds and Bloom filters
    skip the files that cannot match)."""
    full = {int(p["partition"]) for p in wh.partition_profile(table)
            if p["partition"] is not None
            and p["files"] >= FACT_BUCKET_MAX_FILES}
    hits = set()
    if keys:
        hits = {r[0] for r in wh.scan(table, [
            (FACT_PART_COL, "in", buckets), ("event_nk", "in", list(keys)),
        ]).select(FACT_PART_COL).collect()}
    return sorted((hits | full) & set(buckets))


def upsert_facts_partitioned(
    wh,
    incoming: DataFrame,
    *,
    buckets: list[int],
    keys: list[str],
    table: str = "fact_events",
    n_buckets: int = FACT_BUCKETS,
    bulk: bool | None = None,
) -> list[int]:
    """Partition-pruned fact upsert: the 100 TB path.

    The fact table lives hash-bucketed on ``p_bucket(event_nk)``. An
    incremental batch names its ``buckets`` and its ``keys`` (the
    distinct ``event_nk`` values; the caller folds both into an
    aggregate it already runs over the batch). Only the touched buckets
    that hold one of the keys, or that reached the file bound, are read,
    merged and rewritten (:func:`_replaced_buckets`); every other
    touched bucket gets the batch's rows, all inserts, as new files next
    to its old ones. With no such bucket the existing image is empty and
    the plan is the plain insert plan: no full outer join, no old row
    read. Untouched buckets' files are never read or rewritten, so batch
    cost tracks the batch. One ``overwrite_partitions`` commit publishes
    both kinds, derived from the version the probe read.

    The surrogate-key base is the max(event_sk) bound in the manifest,
    which costs no job; a manifest whose bounds are not exact falls back
    to a max aggregate that scans the event_sk column of every live
    file. ``bulk`` is passed to :func:`upsert_facts`: a caller that knows
    an upper bound on the batch's new keys saves the surrogate-key size
    probe. The write observes each touched bucket's rows and rows with a
    NULL foreign key, and its commit records them for the quality step's
    orphan check (``plans/quality.py``). Returns the touched bucket ids,
    sorted (for observability/tests)."""
    from _event_intelligence_data_warehouse_spark import schemas

    affected = sorted(buckets)
    version = wh.last_commit(table)["version"]
    if wh.exists(table):
        replaced = _replaced_buckets(wh, table, affected, keys)
        full = wh.read(table)
        existing = full.filter(
            F.col(FACT_PART_COL).isin(replaced)
        ).drop(FACT_PART_COL)
        sk_src = _sk_base(wh, table, full)
    else:
        replaced = []
        existing = wh.read(table, schemas.FACT_EVENTS)
        sk_src = 0
    merged = upsert_facts(
        existing, incoming, sk_source=sk_src, bulk=bulk
    ).withColumn(FACT_PART_COL, fact_bucket(n=n_buckets))
    if replaced:
        # one file per rewritten bucket, so a rewrite resets its count
        merged = merged.repartition(F.col(FACT_PART_COL))
    obs = Observation()
    merged = merged.observe(
        obs, *quality.bucket_counters(F.col(FACT_PART_COL), affected)
    )
    counters = {quality.COUNTERS: lambda: quality.bucket_state(
        obs.get, affected, replaced)}
    with wh.commit_metadata(**counters):
        wh.overwrite_partitions(table, merged, FACT_PART_COL,
                                partitions=replaced, version=version)
    return affected
