"""End-to-end batch composition: bronze -> silver -> gold.

Mirrors the full reference data plane (simulator validation + Lambda
dedup + Glue join/agg) as pure DataFrame transforms. The same
functions are reused by the streaming layer via ``foreachBatch``.

Also provides the adapter that runs the trip pipeline over the
driver's synthetic ``events`` table (FIXTURES.md §6: ``user_id`` is
the trip-key stand-in, ``event_type`` the start/end discriminator,
``value`` the fare, ``ts`` the event time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.completion import completed_trips
from nsp_bolt_pipeline_spark.operators.dedup import first_write_wins
from nsp_bolt_pipeline_spark.operators.kpi import daily_kpis

#: events-table stand-ins for the two trip streams.
START_EVENT, END_EVENT = "signup", "purchase"


def events_as_trip_streams(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Map the synthetic events table onto (starts, ends).

    Predicate on ``event_type`` is pushed down to the parquet scan, so
    each side reads only its rows; the projection prunes to the four
    columns the pipeline needs.
    """
    base = events.select(
        F.col("user_id").cast("string").alias("trip_id"),
        F.col("ts"),
        F.col("event_type"),
        F.col("value"),
        F.col("event_id"),
    )
    starts = base.filter(F.col("event_type") == START_EVENT).select(
        "trip_id",
        F.col("ts").alias("pickup_datetime"),
        F.col("event_id").alias("start_event_id"),
    )
    ends = base.filter(F.col("event_type") == END_EVENT).select(
        "trip_id",
        F.col("ts").alias("dropoff_datetime"),
        F.col("value").alias("fare_amount"),
        F.col("event_id").alias("end_event_id"),
    )
    return starts, ends


def trip_daily_kpis(starts: DataFrame, ends: DataFrame) -> DataFrame:
    """The flagship query — the reference's whole data plane:

    D1/D2 first-write-wins dedup per trip ->
    J1 inner completion join ->
    P12/A1/A2 daily fare KPIs.
    """
    starts_d = first_write_wins(
        starts, keys=["trip_id"], order_cols=["pickup_datetime", "start_event_id"]
    )
    ends_d = first_write_wins(
        ends, keys=["trip_id"], order_cols=["dropoff_datetime", "end_event_id"]
    )
    completed = completed_trips(starts_d, ends_d)
    return daily_kpis(completed)
