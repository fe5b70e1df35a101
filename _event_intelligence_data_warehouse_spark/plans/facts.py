"""Fact load: star join -> merge upsert
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
    merge_upsert,
)
from _event_intelligence_data_warehouse_spark.plans import quality
from _event_intelligence_data_warehouse_spark.plans.dims import member_key


# Dimension name -> (its surrogate key, its key columns by their names in
# the dimension, each from the staged column it is matched with)
_STAR = {
    "dim_date": ("date_id", {"full_date": "event_date"}),
    "dim_venue": ("venue_sk", {"venue_nk": "_venue_nk"}),
    "dim_category": ("category_sk", {"category_name": "category",
                                     "subcategory": "subcategory"}),
    "dim_source": ("source_sk", {"source_name": "source"}),
}


def build_fact_rows(
    stg: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    *,
    loaded_at: Column,
) -> DataFrame:
    """Staging batch, unique on (source, raw_event_id) -> fact rows with
    resolved dimension keys (``pipeline.write_facts`` deduplicates a
    batch that is not).

    Joins (load_facts.sql:75-90): all LEFT on equi-keys, the venue join
    against the ``is_current`` versions only (J2). The four dimensions
    are one broadcast: their images are unioned into one lookup of
    (key text, surrogate key) rows, the key text carrying the
    dimension's name (``dims.member_key``), and the batch joins that
    lookup four times. The four build sides canonicalize to one plan, so
    the exchange runs once and three joins reuse it. Each join renames
    the lookup's columns to names no dimension has: an alias to a
    dimension's own column name is dropped as redundant in one union
    branch, and the four build sides would no longer be equal. At 100 TB
    the fact side streams and no shuffle occurs on the fact table for
    this stage."""
    images = {"dim_date": dim_date,
              "dim_venue": dim_venue.filter(F.col("is_current")),
              "dim_category": dim_category, "dim_source": dim_source}
    types = {name: dict(image.dtypes) for name, image in images.items()}
    lookup = None
    for name, (sk, cols) in _STAR.items():
        held = images[name].select(
            member_key(name, {c: F.col(c) for c in cols}, types[name])
            .alias("key"),
            F.col(sk).cast("long").alias("sk"),
        )
        lookup = held if lookup is None else lookup.unionByName(held)

    joined = stg.withColumn("_venue_nk", venue_nk("venue_name", "venue_city"))
    fks = []
    for name, (sk, cols) in _STAR.items():
        tag = name.removeprefix("dim_")
        side = F.broadcast(lookup.select(
            F.col("key").alias(f"_key_{tag}"), F.col("sk").alias(f"_sk_{tag}")
        ))
        key = member_key(
            name, {c: F.col(s) for c, s in cols.items()}, types[name]
        )
        joined = joined.join(side, key == side[f"_key_{tag}"], "left")
        fks.append(F.col(f"_sk_{tag}").alias(sk))

    return joined.select(
        event_nk("source", "raw_event_id").alias("event_nk"),
        *fks,
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
FACT_TABLE = quality.FACT_TABLE


def fact_bucket(nk: Column | str = "event_nk") -> Column:
    """Immutable partition bucket for a fact row: xxhash64 of the natural
    key. Re-ingesting a key always lands in its original bucket, so an
    upsert touches exactly the buckets of its incoming keys."""
    nk = F.col(nk) if isinstance(nk, str) else nk
    return F.pmod(F.xxhash64(nk), F.lit(FACT_BUCKETS)).cast("int")


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
    version = wh.last_commit(FACT_TABLE)["version"]
    if wh.exists(FACT_TABLE):
        replaced = _replaced_buckets(wh, FACT_TABLE, affected, keys)
        full = wh.read(FACT_TABLE)
        existing = full.filter(
            F.col(FACT_PART_COL).isin(replaced)
        ).drop(FACT_PART_COL)
        sk_src = _sk_base(wh, FACT_TABLE, full)
    else:
        replaced = []
        existing = wh.read(FACT_TABLE, schemas.FACT_EVENTS)
        sk_src = 0
    merged = upsert_facts(
        existing, incoming, sk_source=sk_src, bulk=bulk
    ).withColumn(FACT_PART_COL, fact_bucket())
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
        wh.overwrite_partitions(FACT_TABLE, merged, FACT_PART_COL,
                                partitions=replaced, version=version)
    return affected
