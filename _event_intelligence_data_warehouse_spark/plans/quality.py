"""The five automated data-quality checks
(/root/reference/transform/data_quality.sql), each a one-row aggregate
appended to ``quality_log`` (SURVEY.md §2.13 G4).

Thresholds reproduce the reference exactly: null names warn under 5%
(:21), invalid dates warn under 10% (:41), inverted prices / duplicates /
orphans warn on any occurrence (:65-71,91,108-112).

The checks are whole-table counts, and two paths give them:

- the full scan: checks 1-4 in one aggregate over ``raw_events``
  (:func:`run_raw_checks_one_pass`), check 5 over the fact table probed
  against the four dimensions (:func:`check_orphan_fact_records`);
- the fold: every write that changes what the checks count records its
  counters in its own commit's metadata (``COUNTERS``), at no extra job.
  ``bronze.land_batch`` observes :func:`raw_counters` over the rows it
  lands; the fact upsert observes :func:`bucket_counters` for each bucket
  it rewrites or appends to; the pipeline's dimension update records
  ``KEYS_KEPT``. The quality step keeps the running counters as state in
  its own ``quality_log`` commit (``STATE``) and adds the commits made
  since (:func:`fold`); a commit without counters sends it back to a
  full recount (:func:`full_state`).

Both end in :func:`log_rows`, the one place pass rate and status are
computed.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from _event_intelligence_data_warehouse_spark.functions.cleanse import (
    DATE_RE,
    guarded_decimal,
)

# Manifest-meta keys: a write's counters, and the quality step's state.
COUNTERS = "quality"
STATE = "quality_state"
# The counters of a dimension update that kept every key it had.
KEYS_KEPT = {"keys_kept": True}

RAW_TABLE = "raw_events"
FACT_TABLE = "fact_events"
DIM_TABLES = ("dim_date", "dim_venue", "dim_category", "dim_source")
TABLES = (RAW_TABLE, FACT_TABLE, *DIM_TABLES)
FACT_KEYS = ("date_id", "venue_sk", "category_sk", "source_sk")

# (check_name, table_name, counter, warn_ratio); a NULL warn_ratio means
# any failure is at most a warning. records_checked is the raw row count
# for checks 1-4 and the fact row count for check 5.
CHECKS = [
    ("null_event_names", "raw_events", "names", 0.05),
    ("invalid_event_dates", "raw_events", "dates", 0.10),
    ("price_min_gt_max", "stg_events", "prices", None),
    ("duplicate_event_ids", "raw_events", "dups", None),
    ("orphan_fact_records", "fact_events", "orphans", None),
]
_RAW_SUMS = ("checked", "names", "dates", "prices")


def _name_bad() -> Column:
    return F.col("event_name").isNull() | (F.trim(F.col("event_name")) == "")


def _date_bad() -> Column:
    return ~F.coalesce(F.trim(F.col("event_date")).rlike(DATE_RE), F.lit(False))


def _price_bad(pmin: Column, pmax: Column) -> Column:
    return pmin.isNotNull() & pmax.isNotNull() & (pmin > pmax)


def raw_counters() -> list[Column]:
    """Checks 1-3's counters over raw rows as aggregate columns (checked,
    names, dates, prices); check 3 applies the staging cleanse cast
    inline (transform_events.sql:68-69)."""
    pmin = guarded_decimal(F.trim(F.col("price_min")))
    pmax = guarded_decimal(F.trim(F.col("price_max")))
    return [
        F.count(F.lit(1)).alias("checked"),
        F.count_if(_name_bad()).alias("names"),
        F.count_if(_date_bad()).alias("dates"),
        F.count_if(_price_bad(pmin, pmax)).alias("prices"),
    ]


def null_id_sources() -> Column:
    """The sources that hold a row with a NULL ``raw_event_id``."""
    return F.collect_set(
        F.when(F.col("raw_event_id").isNull(), F.col("source"))
    ).alias("null_id_sources")


def fk_null() -> Column:
    """A fact row with some NULL foreign key."""
    out = F.lit(False)
    for c in FACT_KEYS:
        out = out | F.col(c).isNull()
    return out


def bucket_counters(bucket: Column, buckets: list[int]) -> list[Column]:
    """Check 5's counters of each of ``buckets``, as aggregate columns:
    its rows and its rows with a NULL foreign key; and all rows."""
    out = [F.count(F.lit(1)).alias("rows")]
    for b in buckets:
        out += [F.count_if(bucket == b).alias(f"rows_{b}"),
                F.count_if((bucket == b) & fk_null()).alias(f"orphans_{b}")]
    return out


def bucket_state(observed: dict, buckets: list[int],
                 replaced: list[int]) -> dict | None:
    """The counters of a fact write from its observed
    :func:`bucket_counters`: those of the ``replaced`` buckets, whose
    rows it rewrote, under ``buckets``, and those of the others, whose
    rows it added to the files they had, under ``added``. None when it
    wrote rows outside ``buckets``, which it wrote uncounted."""
    out = {str(b): [observed[f"rows_{b}"], observed[f"orphans_{b}"]]
           for b in buckets}
    if sum(n for n, _o in out.values()) != observed["rows"]:
        return None
    gone = {str(b) for b in replaced}
    return {"buckets": {b: c for b, c in out.items() if b in gone},
            "added": {b: c for b, c in out.items() if b not in gone}}


def log_rows(counts: DataFrame, run_id: str) -> DataFrame:
    """``quality_log`` rows from rows of (check_name, table_name, checked,
    failed, warn_ratio): the pass rate and the tiered status of
    data_quality.sql:10-24, computed here for every check and path."""
    failed = F.col("failed")
    checked = F.col("checked")
    pass_rate = F.round(
        (F.lit(Decimal("100.0")) * (checked - failed)).cast("decimal(18,4)")
        / F.nullif(checked, F.lit(0)),
        2,
    ).cast("decimal(5,2)")
    status = (
        F.when(failed == 0, "passed")
        .when(F.col("warn_ratio").isNull(), "warning")
        .when(failed < F.col("warn_ratio") * checked, "warning")
        .otherwise("failed")
    )
    return counts.select(
        F.lit(None).cast("long").alias("check_id"),
        F.lit(run_id).alias("run_id"),
        F.col("check_name"),
        F.col("table_name"),
        checked.cast("int").alias("records_checked"),
        failed.cast("int").alias("records_failed"),
        pass_rate.alias("pass_rate"),
        F.current_timestamp().alias("checked_at"),
        status.alias("status"),
    )


def _check_row(
    df: DataFrame,
    *,
    check_name: str,
    table_name: str,
    failed_pred,
    warn_ratio: float | None,
    run_id: str,
) -> DataFrame:
    """One check's row: records_checked / records_failed / pass_rate /
    tiered status (data_quality.sql:10-24 shape)."""
    return log_rows(df.agg(
        F.lit(check_name).alias("check_name"),
        F.lit(table_name).alias("table_name"),
        F.count("*").alias("checked"),
        F.count_if(failed_pred).alias("failed"),
        F.lit(warn_ratio).cast("double").alias("warn_ratio"),
    ), run_id)


def check_null_event_names(raw: DataFrame, run_id: str) -> DataFrame:
    """Check 1 (data_quality.sql:10-24): missing/blank event names,
    5% warning threshold."""
    return _check_row(
        raw,
        check_name="null_event_names",
        table_name="raw_events",
        failed_pred=_name_bad(),
        warn_ratio=0.05,
        run_id=run_id,
    )


def check_invalid_event_dates(raw: DataFrame, run_id: str) -> DataFrame:
    """Check 2 (:30-44): event_date not YYYY-MM-DD, 10% threshold."""
    return _check_row(
        raw,
        check_name="invalid_event_dates",
        table_name="raw_events",
        failed_pred=_date_bad(),
        warn_ratio=0.10,
        run_id=run_id,
    )


def check_price_min_gt_max(stg: DataFrame, run_id: str) -> DataFrame:
    """Check 3 (:50-72): inverted price ranges; any occurrence warns."""
    return _check_row(
        stg,
        check_name="price_min_gt_max",
        table_name="stg_events",
        failed_pred=_price_bad(F.col("price_min"), F.col("price_max")),
        warn_ratio=None,
        run_id=run_id,
    )


def check_duplicate_event_ids(raw: DataFrame, run_id: str) -> DataFrame:
    """Check 4 (:78-92): duplicate (source, raw_event_id) pairs. Failed =
    total surplus rows (SUM(cnt-1) over groups with cnt>1); denominator =
    all raw rows, matching the reference's scalar-subquery denominator."""
    dups = (
        raw.groupBy("source", "raw_event_id")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("failed"))
    )
    total = raw.agg(F.count("*").alias("checked"))
    return log_rows(dups.crossJoin(total).select(
        F.lit("duplicate_event_ids").alias("check_name"),
        F.lit("raw_events").alias("table_name"),
        "checked", "failed",
        F.lit(None).cast("double").alias("warn_ratio"),
    ), run_id)


def _dup_surplus() -> Column:
    """Check 4's counter: ``COUNT(*) - COUNT(DISTINCT (source,
    raw_event_id))``, algebraically the reference's ``SUM(cnt-1)`` over
    groups with cnt>1. A NULL raw_event_id is one key per source."""
    return (
        F.count("*") - F.count_distinct(F.struct("source", "raw_event_id"))
    ).alias("dups")


def run_raw_checks_one_pass(raw: DataFrame, run_id: str) -> DataFrame:
    """Checks 1-4 (data_quality.sql:10-92) in a SINGLE scan of the landing
    table — the scale path. All four checks are whole-table aggregates over
    the same rows, so computing them as four separate plans re-reads the
    table four times; at 100 TB that is the difference between one pass and
    four. One hash-aggregate computes every counter, then an ``inline``
    unpivot emits the four per-check log rows. Semantics are identical to
    the per-check functions above."""
    agg = raw.agg(*raw_counters(), _dup_surplus())
    rows = agg.select(
        F.col("checked"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.lit(table).alias("table_name"),
                        F.col(counter).alias("failed"),
                        F.lit(ratio).cast("double").alias("warn_ratio"),
                    )
                    for name, table, counter, ratio in CHECKS[:4]
                ]
            )
        ),
    )
    return log_rows(rows, run_id)


def _flag_orphans(
    fact: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
) -> tuple[DataFrame, Column]:
    """The fact rows with broadcast semi-join flags against each
    dimension, and the predicate of a row whose FK is NULL or dangling."""
    probes = [
        ("date_id", dim_date.select("date_id")),
        ("venue_sk", dim_venue.select("venue_sk")),
        ("category_sk", dim_category.select("category_sk")),
        ("source_sk", dim_source.select("source_sk")),
    ]
    df = fact
    flags = []
    for col, dim in probes:
        flag = f"__ok_{col}"
        dim_flag = dim.distinct().withColumn(flag, F.lit(True))
        df = df.join(F.broadcast(dim_flag), col, "left")
        flags.append(F.coalesce(F.col(flag), F.lit(False)))
    return df, ~(flags[0] & flags[1] & flags[2] & flags[3])


def check_orphan_fact_records(
    fact: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    run_id: str,
) -> DataFrame:
    """Check 5 (:98-113): fact rows whose FK is NULL or dangling. Uses
    left-anti probes against each dim, expressed as one aggregate over
    the fact with broadcast semi-join flags."""
    df, orphan = _flag_orphans(
        fact, dim_date, dim_venue, dim_category, dim_source
    )
    return _check_row(
        df,
        check_name="orphan_fact_records",
        table_name="fact_events",
        failed_pred=orphan,
        warn_ratio=None,
        run_id=run_id,
    )


# -- the fold ---------------------------------------------------------------
def empty_state() -> dict:
    """The state of an empty warehouse: every table at version 0."""
    return {
        "versions": dict.fromkeys(TABLES, 0),
        "raw": dict.fromkeys((*_RAW_SUMS, "dups"), 0),
        "null_id_sources": [],
        "buckets": {},
    }


def fold(state: dict, commits: dict[str, list[dict]]) -> dict | None:
    """``state`` advanced over ``commits`` ({table: its commits since the
    state's version, oldest first}), or None when one of them carries no
    counters.

    Checks 1-3 add a landing's sums. Check 4 adds what a landing adds to
    the duplicate surplus: its anti-join against the bronze version it
    read (``read``) and its ``dropDuplicates`` land only new keys, except
    that a NULL ``raw_event_id`` never matches; it lands at most one such
    row per source, a surplus row when that source already holds one. A
    landing published on top of a version it did not read may have
    landed keys another writer committed in between, so it counts as
    carrying no counters. Check 5 replaces the counters of each bucket a
    fact upsert rewrote and adds those of each bucket it appended to. Its
    orphans are the rows with a NULL foreign key, which is all of them
    while no fact row holds a dangling key: the load resolves keys
    against the current dimensions, and a dimension update that records
    counters never drops a key."""
    raw = dict(state["raw"])
    nulls = set(state["null_id_sources"])
    buckets = dict(state["buckets"])
    versions = dict(state["versions"])
    for table, cs in commits.items():
        for c in cs:
            q = (c["meta"] or {}).get(COUNTERS)
            if q is None:
                return None
            if table == RAW_TABLE:
                if q["read"] != c["parent"]:
                    return None
                for k in _RAW_SUMS:
                    raw[k] += q[k]
                landed = set(q["null_id_sources"])
                raw["dups"] += len(landed & nulls)
                nulls |= landed
            elif table == FACT_TABLE:
                buckets.update(q["buckets"])
                for b, (n, o) in q.get("added", {}).items():
                    n0, o0 = buckets.get(b, (0, 0))
                    buckets[b] = [n0 + n, o0 + o]
            versions[table] = c["version"]
    return {"versions": versions, "raw": raw,
            "null_id_sources": sorted(nulls), "buckets": buckets}


def full_state(
    raw: DataFrame,
    fact: DataFrame,
    dim_date: DataFrame,
    dim_venue: DataFrame,
    dim_category: DataFrame,
    dim_source: DataFrame,
    bucket: Column,
    versions: dict[str, int],
) -> tuple[dict, bool]:
    """The state recounted from full scans of the tables at ``versions``,
    with the predicates of :func:`run_raw_checks_one_pass` and
    :func:`check_orphan_fact_records`, and whether :func:`fold` may go on
    from it: not while a fact row holds a dangling key, which the fold
    would not see."""
    r = raw.agg(*raw_counters(), _dup_surplus(), null_id_sources()).first()
    df, orphan = _flag_orphans(
        fact, dim_date, dim_venue, dim_category, dim_source
    )
    per_bucket = df.groupBy(bucket.alias("b")).agg(
        F.count(F.lit(1)), F.count_if(orphan), F.count_if(fk_null())
    ).collect()
    state = {
        "versions": dict(versions),
        "raw": {k: r[k] for k in (*_RAW_SUMS, "dups")},
        "null_id_sources": sorted(r["null_id_sources"]),
        "buckets": {str(b): [n, o] for b, n, o, _ in per_bucket},
    }
    return state, all(o == nf for _b, _n, o, nf in per_bucket)


_COUNTS = T.StructType([
    T.StructField("check_name", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("checked", T.LongType()),
    T.StructField("failed", T.LongType()),
    T.StructField("warn_ratio", T.DoubleType()),
])


def state_rows(spark: SparkSession, state: dict, run_id: str) -> DataFrame:
    """The five ``quality_log`` rows of ``state``, as a local frame."""
    rows = sum(n for n, _o in state["buckets"].values())
    counters = {**state["raw"],
                "orphans": sum(o for _n, o in state["buckets"].values())}
    return log_rows(spark.createDataFrame([
        (name, table, rows if table == FACT_TABLE else state["raw"]["checked"],
         counters[counter], ratio)
        for name, table, counter, ratio in CHECKS
    ], _COUNTS), run_id)
