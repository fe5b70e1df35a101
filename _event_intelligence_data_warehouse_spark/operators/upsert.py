"""Upsert operators: the Spark replacements for ``ON CONFLICT``
(SURVEY.md §2.5 U3/U4).

Spark has no in-place mutation, so:
- *insert-if-absent* = left-anti join of the incoming batch against the
  existing keys, then append;
- *merge upsert* = matched rows take incoming mutable attrs (preserving
  requested existing columns such as surrogate keys), unmatched existing
  rows pass through, unmatched incoming rows insert — produced as one
  logical plan, written back via atomic overwrite-swap.

Scale notes: ``merge_upsert`` is one full outer join on the key, so
both sides shuffle once. It rewrites whatever image it is given: the fact
load (``plans/facts.upsert_facts_partitioned``) first probes which batch
keys already exist and hands it only the hash buckets that hold one, so
a batch of new keys meets an empty image, the join drops out of the
plan, and its rows are appended. The rewrite tracks the batch's updates,
not the buckets it touches; behind Delta/Iceberg the same plan becomes a
MERGE with file-level pruning, and the operator's interface doesn't
change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from _event_intelligence_data_warehouse_spark import cache


def dedup_keys(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Top-1-per-group with a deterministic ordering (U2): the engine's
    ``DISTINCT ON ... ORDER BY`` (load_facts.sql:12-17)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_if_absent(existing: DataFrame, incoming: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is not in ``existing`` (U3:
    ON CONFLICT DO NOTHING, transform_events.sql:97,115,124,138)."""
    return incoming.join(existing.select(*keys), keys, "left_anti")


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    *,
    preserve: list[str] | None = None,
) -> DataFrame:
    """Full merged table image (U4: ON CONFLICT DO UPDATE,
    load_facts.sql:92-98), as one full outer join on ``keys``.

    ``preserve`` columns keep the *existing* row's value on match
    (surrogate keys, first-seen timestamps); all other columns take the
    incoming value. ``existing`` must carry every column of
    ``incoming``. A ``preserve`` column that only ``existing`` carries is
    appended to the output and is NULL on incoming-only rows, which
    marks them as inserts. NULL keys never match, so such rows pass
    through from their own side unchanged.
    """
    preserve = preserve or []
    ex = existing.withColumn("__in_e", F.lit(True))
    inc = incoming.withColumn("__in_i", F.lit(True))
    j = ex.alias("e").join(inc.alias("i"), keys, "full_outer")
    in_e = F.col("__in_e").isNotNull()
    in_i = F.col("__in_i").isNotNull()

    def pick(c: str) -> Column:
        if c not in incoming.columns:
            return F.when(in_e, F.col(f"e.{c}"))
        if c in preserve:
            return F.when(in_e, F.col(f"e.{c}")).otherwise(F.col(f"i.{c}"))
        return F.when(in_i, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}"))

    extra = [c for c in preserve
             if c not in incoming.columns and c in existing.columns]
    return j.select(
        *keys,
        *[pick(c).alias(c)
          for c in [*incoming.columns, *extra] if c not in keys],
    )


#: Above this many new rows the global-window surrogate path would sort
#: the whole batch on ONE reducer; assign_surrogate_keys switches to the
#: range-partitioned two-phase plan instead. Steady-state dimension
#: batches sit far below it; an initial fact backfill (where every row
#: is new) sits far above.
SURROGATE_GLOBAL_WINDOW_MAX_ROWS = 1_000_000


def assign_surrogate_keys(
    existing: DataFrame | int,
    new_rows: DataFrame,
    sk_col: str,
    order_by: list[str],
    *,
    bulk: bool | None = None,
) -> DataFrame:
    """Deterministic surrogate keys for new rows (U6): continue from
    max(existing sk) in the total order of ``order_by`` — which must be
    a UNIQUE key of ``new_rows`` (the natural key), or the total order
    (and therefore the assignment) is not well defined.

    Two value-identical physical regimes:

    - **incremental** (``bulk=False``, or auto below
      :data:`SURROGATE_GLOBAL_WINDOW_MAX_ROWS`): one unpartitioned
      row_number window. The batch sorts on a single reducer — fine for
      the bounded new-key slices of a steady-state load, a scale-killer
      for a backfill. Dimension call sites (plans/dims.py, scd2) pin
      ``bulk=False``: their batches are dimension-cardinality by
      construction and the auto-probe's count job would be waste.
    - **bulk** (``bulk=True``, or auto above the threshold — the FACT
      path, plans/facts.py; the pipeline passes ``bulk`` from its staged
      row count, an upper bound on new keys, so only other callers
      auto-detect): repartitionByRange on the
      natural key, per-range-partition row_number, plus an exclusive
      prefix-sum of partition counts as offsets. Every partition sorts
      in parallel; the only global window runs over O(#partitions)
      count rows — the aggregate-scale frame class. Keys are identical
      to the incremental path because range partitions tile the same
      total order (pinned by tests/test_upsert_scd2.py).

    The r8 docstring claimed the window "only ever sees dimension
    cardinality" — false on the fact path (plans/facts.py assigns
    event_sk through here), which is exactly why the bulk regime
    exists (r8 verdict item 4).

    ``existing`` may also be the base itself, an ``int`` the caller
    already knows (the fact load reads it from the manifest's column
    bounds); it then applies as a literal, with no aggregate over the
    table and no cross join.
    """
    if isinstance(existing, int):
        def with_base(df: DataFrame) -> DataFrame:
            return df.withColumn("__base", F.lit(existing).cast("long"))
    else:
        base = existing.agg(
            F.coalesce(F.max(sk_col), F.lit(0)).cast("long").alias("__base")
        )

        def with_base(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(base))
    if bulk is None:
        # auto-probe: persist first so the count job doesn't recompute
        # the (join-shaped) lineage a second time for the real pass
        new_rows = cache.persist(new_rows)
        bulk = new_rows.count() > SURROGATE_GLOBAL_WINDOW_MAX_ROWS
    if not bulk:
        w = Window.orderBy(*order_by)
        return (
            with_base(new_rows)
            .withColumn(
                sk_col,
                (F.row_number().over(w) + F.col("__base")).cast("long"),
            )
            .drop("__base")
        )
    ranked = cache.persist(
        new_rows.repartitionByRange(*[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(*order_by)
            ),
        )
    )
    # exclusive prefix-sum over O(#partitions) rows — bounded frame
    counts = ranked.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    off_w = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
    )
    return (
        with_base(ranked.join(F.broadcast(offsets), "__pid"))
        .withColumn(
            sk_col,
            (F.col("__rn") + F.col("__off") + F.col("__base")).cast("long"),
        )
        .drop("__pid", "__rn", "__off", "__base")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style change feed between two table snapshots: one row per
    changed key with ``change`` in {'insert', 'delete', 'update'} —
    insert = key only in new, delete = key only in old, update = key in
    both with any compared column differing (null-safe, so NULL -> value
    and value -> NULL both count as changes; unchanged rows are absent).

    The derivational complement of MERGE: upsert APPLIES a batch,
    snapshot_diff RECOVERS the batch that separates two images — the
    feed a downstream incremental consumer (rollup refresh, cache
    invalidation, replication) wants when the source has no native CDC.

    Scale: one full outer equi-join on the key — the minimum possible;
    comparisons are codegen'd null-safe equality per column, no hashing,
    no UDFs. At table-format maturity this is read from the commit log
    instead; the semantics here are identical."""
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c not in key_cols
        ]
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"__ov_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"__nv_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}") == F.col(f"__nk_{c}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"__ov_{c}").eqNullSafe(
            F.col(f"__nv_{c}")
        )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"__ok_{c}"), F.col(f"__nk_{c}")).alias(c)
        for c in key_cols
    ]
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*out_keys, "change")
    )
