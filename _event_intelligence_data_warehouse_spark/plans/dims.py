"""Dimension builds (SURVEY.md §2.5 U1/U3/U5/U6, §2.3 D1-D6).

Each ``update_dim_*`` takes the staged batch plus the existing dimension
image and returns the new image; storage writes it via atomic swap. All
surrogate keys are deterministic (row_number over the natural key,
continuing from the existing max) — reproducibility is a correctness
feature here, not a nicety.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.functions.datetime_fns import (
    is_weekend,
    pg_day_number,
    weekday_name,
)
from _event_intelligence_data_warehouse_spark.functions.keys import (
    source_type_expr,
    venue_nk,
)
from _event_intelligence_data_warehouse_spark.operators.scd2 import scd2_apply
from _event_intelligence_data_warehouse_spark.operators.upsert import (
    assign_surrogate_keys,
    dedup_keys,
    insert_if_absent,
)


def date_attributes(full_date: Column) -> list[Column]:
    """dim_date attribute expressions (transform_events.sql:81-97),
    Postgres conventions preserved (DOW 0=Sunday, ISO week, trimmed
    names)."""
    d = full_date
    return [
        weekday_name(d).alias("day_of_week"),
        pg_day_number(d).alias("day_number"),
        F.weekofyear(d).cast("smallint").alias("week_number"),
        F.month(d).cast("smallint").alias("month_number"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.quarter(d).cast("smallint").alias("quarter"),
        F.year(d).cast("smallint").alias("year"),
        is_weekend(d).alias("is_weekend"),
        F.lit(False).alias("is_holiday"),
    ]


def _members(name: str) -> tuple[dict[str, Column], Column]:
    """Dimension ``name``'s member tuple as columns of a staged row, by
    their names in the dimension, and the filter a staged row passes to
    have one (NULL dates never load)."""
    if name == "dim_date":
        return ({"full_date": F.col("event_date")},
                F.col("event_date").isNotNull())
    if name == "dim_category":
        return ({"category_name": F.col("category"),
                 "subcategory": F.col("subcategory")}, F.lit(True))
    if name == "dim_source":
        return {"source_name": F.col("source")}, F.lit(True)
    return ({"venue_nk": venue_nk("venue_name", "venue_city"),
             "venue_name": F.col("venue_name"),
             "city": F.col("venue_city"),
             "country": F.col("venue_country"),
             "latitude": F.col("venue_lat"),
             "longitude": F.col("venue_lon")}, F.lit(True))


def member_tuples(name: str, stg: DataFrame) -> DataFrame:
    """The batch's member tuples of dimension ``name``, one per staged
    row that has one."""
    cols, where = _members(name)
    return stg.filter(where).select(*[c.alias(n) for n, c in cols.items()])


def update_dim_date(existing: DataFrame, stg: DataFrame) -> DataFrame:
    """Insert-if-absent of the batch's distinct dates
    (transform_events.sql:81-97)."""
    dates = member_tuples("dim_date", stg).distinct()
    new = insert_if_absent(existing.select("full_date"), dates, ["full_date"])
    new = new.select(F.col("full_date"), *date_attributes(F.col("full_date")))
    new = assign_surrogate_keys(
        existing, new, "date_id", ["full_date"], bulk=False
    )
    return existing.unionByName(new.select(existing.columns))


def update_dim_category(
    existing: DataFrame, stg: DataFrame, now: Column
) -> DataFrame:
    """UNIQUE(category_name, subcategory) insert-if-absent
    (transform_events.sql:118-124)."""
    cats = member_tuples("dim_category", stg).distinct()
    new = insert_if_absent(existing, cats, ["category_name", "subcategory"])
    new = (
        new.withColumn("segment", F.lit(None).cast("string"))
        .withColumn("created_at", now)
    )
    # bulk=False: distinct dimension slices are dimension-cardinality
    # by construction; skip the auto-probe count job
    new = assign_surrogate_keys(
        existing, new, "category_sk", ["category_name", "subcategory"],
        bulk=False,
    )
    return existing.unionByName(new.select(existing.columns))


def update_dim_source(existing: DataFrame, stg: DataFrame, now: Column) -> DataFrame:
    """UNIQUE(source_name) insert-if-absent with type mapping
    (transform_events.sql:127-138)."""
    srcs = member_tuples("dim_source", stg).distinct()
    new = insert_if_absent(existing, srcs, ["source_name"])
    new = (
        new.withColumn("source_type", source_type_expr("source_name"))
        .withColumn("created_at", now)
    )
    new = assign_surrogate_keys(
        existing, new, "source_sk", ["source_name"], bulk=False
    )
    return existing.unionByName(new.select(existing.columns))


VENUE_ATTRS = ["venue_name", "city", "country", "latitude", "longitude"]


def update_dim_venue(existing: DataFrame, stg: DataFrame, now: Column) -> DataFrame:
    """Real SCD2 on venue (U5): close + version on attribute change.
    Incoming = one row per venue_nk, deterministic tie-break (the
    reference's DISTINCT ON is order-undefined — transform_events.sql:106).
    The tie-break orders by every SCD2 attribute: the key is derived from
    name and city, so a batch can carry one venue with several
    coordinates, and the winner must not depend on partitioning."""
    incoming = member_tuples("dim_venue", stg).withColumn(
        "_pos", F.struct(*VENUE_ATTRS)
    )
    incoming = dedup_keys(
        incoming, ["venue_nk"], [F.asc_nulls_last("_pos")]
    ).drop("_pos")
    return scd2_apply(
        existing,
        incoming,
        nk="venue_nk",
        attrs=VENUE_ATTRS,
        sk_col="venue_sk",
        effective_ts=now,
        order_by=["venue_nk"],
        defaults={"created_at": now},
    )


def member_key(name: str, cols: dict[str, Column], types: dict) -> Column:
    """The JSON text of the dimension name and the member's columns, cast
    to the image's types, matched the way ``update_dim_*`` matches them:
    the SCD2 attributes of a venue null-safely, every other column by
    plain equality. JSON leaves NULL fields out, so the attributes
    compare null-safely; a NULL in any other column makes the whole key
    NULL, which matches nothing. The name rides inside the key, not as a
    join column of its own, so the optimizer cannot split the one
    anti-join into one broadcast per dimension."""
    attrs = VENUE_ATTRS if name == "dim_venue" else []
    present = F.lit(True)
    for c in cols:
        if c not in attrs:
            present = present & cols[c].isNotNull()
    return F.when(present, F.to_json(F.struct(
        F.lit(name).alias("dim"),
        *[col.cast(types[c]).alias(c) for c, col in cols.items()],
    )))


def with_new_members(
    stg: DataFrame, gold: dict[str, DataFrame], own: dict[str, Column]
) -> DataFrame:
    """One scan of the batch ``stg``: per staged row, a row of its ``own``
    columns, and a row naming ``dim`` for each of its member tuples that
    the current image of that dimension in ``gold`` does not hold. Each
    row leaves the other columns NULL, so one aggregate over the result
    answers both (``collect_set("dim")`` names the dimensions the batch
    adds something to).

    The member tuples are anti-joined against one union of the images,
    each taken with the filter of its ``update_dim_*`` function and
    compared the way that function compares it: plain equality on the
    key (so a NULL key, which ``insert_if_absent`` never matches, counts
    as new) and, for venues, the five SCD2 attributes null-safely against
    the ``is_current`` rows. Venue tuples are taken before the per-key
    dedup ``update_dim_venue`` applies, so the probe may report a venue
    change the update then finds none of, never the reverse. A dimension
    it does not name would come out of its ``update_dim_*`` unchanged."""
    types = dict(stg.select(*[c.alias(n) for n, c in own.items()]).dtypes)
    null = F.lit(None).cast("string")
    rows = [F.struct(*[c.alias(n) for n, c in own.items()],
                     null.alias("dim"), null.alias("key"))]
    images = None
    for name, image in gold.items():
        if name == "dim_venue":
            image = image.filter(F.col("is_current"))
        cols, where = _members(name)
        image_types = dict(image.dtypes)
        rows.append(F.struct(
            *[F.lit(None).cast(t).alias(n) for n, t in types.items()],
            F.when(where, F.lit(name)).alias("dim"),
            F.when(where, member_key(name, cols, image_types)).alias("key"),
        ))
        held = image.select(member_key(
            name, {c: F.col(c) for c in cols}, image_types
        ).alias("key"))
        images = held if images is None else images.unionByName(held)
    out = stg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")
    if images is not None:
        out = out.join(images, "key", "left_anti")
    return out.drop("key")
