"""Staging cleanse: raw landing rows -> typed, normalized staging rows.

Re-expresses the reference's cleansing view
(/root/reference/transform/transform_events.sql:53-75) as a lazy DataFrame
transformation — the Spark analog of a non-materialized view. One output
row per raw row; all casts are NULL-on-malformed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from _event_intelligence_data_warehouse_spark.functions.cleanse import (
    default_fill,
    guarded_date,
    guarded_decimal,
    guarded_time,
    norm_text,
)


def stage_events(raw: DataFrame) -> DataFrame:
    """transform.stg_events (transform_events.sql:53-75), one row per raw
    row. The incremental filter (``WHERE is_processed = FALSE``, :75) is
    the bronze-version watermark of ``pipeline.drain_bronze``, which hands
    in only the rows committed since the last load (SURVEY.md §4).
    """
    return raw.select(
        F.col("ingest_id"),
        F.col("source"),
        F.col("raw_event_id"),
        norm_text("event_name", "initcap").alias("event_name"),
        guarded_date(F.trim(F.col("event_date"))).alias("event_date"),
        guarded_time(F.trim(F.col("event_time"))).alias("event_time"),
        norm_text("venue_name").alias("venue_name"),
        norm_text("venue_city", "initcap").alias("venue_city"),
        norm_text("venue_country", "initcap").alias("venue_country"),
        F.trim(F.col("venue_lat")).cast(DecimalType(10, 7)).alias("venue_lat"),
        F.trim(F.col("venue_lon")).cast(DecimalType(10, 7)).alias("venue_lon"),
        default_fill("category", "Unknown").alias("category"),
        default_fill("subcategory", "General").alias("subcategory"),
        guarded_decimal(F.trim(F.col("price_min"))).alias("price_min"),
        guarded_decimal(F.trim(F.col("price_max"))).alias("price_max"),
        norm_text("currency", "upper").alias("currency"),
        F.col("url"),
        norm_text("status", "lower").alias("event_status"),
        F.col("ingested_at"),
    )
