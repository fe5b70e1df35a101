"""Staging-cleanse edge cases (SURVEY.md §2.2 P2-P10): malformed dates,
non-numeric prices, empty categories, case normalization."""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from _event_intelligence_data_warehouse_spark.functions.cleanse import (
    default_fill,
    guarded_date,
    guarded_decimal,
    guarded_time,
)


def test_guarded_date(spark):
    df = spark.createDataFrame(
        [("2026-01-31",), ("13/01/2026",), ("",), (None,), ("2026-1-1",)],
        "s string",
    )
    out = [r[0] for r in df.select(guarded_date("s")).collect()]
    assert out == [datetime.date(2026, 1, 31), None, None, None, None]


def test_guarded_time(spark):
    df = spark.createDataFrame([("19:00:00",), ("9:00",), ("later",), (None,)],
                               "s string")
    out = [r[0] for r in df.select(guarded_time("s")).collect()]
    assert out == ["19:00:00", None, None, None]


def test_guarded_decimal(spark):
    df = spark.createDataFrame(
        [("42.50",), ("42",), ("N/A",), ("-5.0",), ("",), (None,)], "s string"
    )
    out = [r[0] for r in df.select(guarded_decimal("s")).collect()]
    assert out == [Decimal("42.50"), Decimal("42.00"), None, None, None, None]


def test_default_fill(spark):
    df = spark.createDataFrame([("Music",), ("  ",), ("",), (None,)], "s string")
    out = [r[0] for r in df.select(default_fill("s", "Unknown")).collect()]
    assert out == ["Music", "Unknown", "Unknown", "Unknown"]


def test_stage_events_full_row(spark):
    from _event_intelligence_data_warehouse_spark import schemas
    from _event_intelligence_data_warehouse_spark.plans.staging import stage_events

    raw = spark.createDataFrame(
        [
            {
                "ingest_id": 1,
                "source": "csv",
                "raw_event_id": "MOCK_00001",
                "raw_payload": None,
                "event_name": "  rock NIGHT  ",
                "event_date": "2026-06-05",
                "event_time": "20:00:00",
                "venue_name": " Arena ",
                "venue_city": "bERLIN",
                "venue_country": "germany",
                "venue_lat": "52.52",
                "venue_lon": "13.405",
                "category": "  ",
                "subcategory": None,
                "price_min": "30.00",
                "price_max": "oops",
                "currency": "eur",
                "url": "https://x",
                "status": "OnSale",
                "ingested_at": datetime.datetime(2026, 1, 1),
                "is_processed": False,
                "process_error": None,
            }
        ],
        schemas.RAW_EVENTS,
    )
    row = stage_events(raw).collect()[0]
    assert row.event_name == "Rock Night"
    assert row.event_date == datetime.date(2026, 6, 5)
    assert row.venue_city == "Berlin"
    assert row.venue_country == "Germany"
    assert row.category == "Unknown"
    assert row.subcategory == "General"
    assert row.price_min == Decimal("30.00")
    assert row.price_max is None
    assert row.currency == "EUR"
    assert row.event_status == "onsale"


def test_incremental_filter(spark):
    """Staging keeps every row it is handed, whatever its
    ``is_processed``: the incremental filter is the load's bronze-version
    watermark, not the flag."""
    from _event_intelligence_data_warehouse_spark import schemas
    from _event_intelligence_data_warehouse_spark.plans.staging import stage_events

    rows = []
    for i, done in enumerate([True, False, False]):
        rows.append(
            {
                "ingest_id": i,
                "source": "csv",
                "raw_event_id": f"E{i}",
                "raw_payload": None,
                "event_name": "x",
                "event_date": "2026-01-01",
                "event_time": "10:00",
                "venue_name": "v",
                "venue_city": "c",
                "venue_country": "g",
                "venue_lat": "1.0",
                "venue_lon": "2.0",
                "category": "Music",
                "subcategory": "General",
                "price_min": "1",
                "price_max": "2",
                "currency": "EUR",
                "url": "u",
                "status": "onsale",
                "ingested_at": datetime.datetime(2026, 1, 1),
                "is_processed": done,
                "process_error": None,
            }
        )
    raw = spark.createDataFrame(rows, schemas.RAW_EVENTS)
    assert stage_events(raw).count() == 3
