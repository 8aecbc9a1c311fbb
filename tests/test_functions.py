"""Scalar-function surface tests (SURVEY.md §2.2, §2.7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.functions.datetime import parse_wire_timestamp
from nsp_bolt_pipeline_spark.functions.scalar import (
    sort_key,
    with_bookkeeping,
)
from nsp_bolt_pipeline_spark.functions.validation import (
    coerce_typed,
    required_fields_present,
    split_valid_rejects,
)
from nsp_bolt_pipeline_spark.schemas import (
    TRIP_END_OPTIONAL,
    TRIP_END_REQUIRED,
    TRIP_START_REQUIRED,
)


def test_parse_both_wire_formats(spark):
    # Fixture case 7: both formats in one batch (simulator.py:36-39);
    # the reference's Glue job parses only dd/MM/yyyy HH:mm — a bug we
    # must not inherit (SURVEY.md §7 hard parts).
    df = spark.createDataFrame(
        [("11/07/2024 14:00",), ("2024-07-11 14:00:00",), ("not a date",), (None,)],
        "raw string",
    )
    out = df.select(parse_wire_timestamp("raw").alias("ts")).collect()
    assert out[0].ts.isoformat() == "2024-07-11T14:00:00"
    assert out[1].ts.isoformat() == "2024-07-11T14:00:00"
    assert out[2].ts is None
    assert out[3].ts is None


def test_required_fields_blank_and_null_rejected(spark):
    # Fixture case 5 (simulator.py:84-86): absent OR whitespace-blank.
    df = spark.createDataFrame(
        [("t1", "x"), ("", "x"), ("   ", "x"), (None, "x")], "trip_id string, v string"
    )
    out = df.filter(required_fields_present(["trip_id"])).collect()
    assert [r.trip_id for r in out] == ["t1"]


def test_coerce_typed_start_events(spark):
    # P2: all seven start fields required; bad numerics -> reject
    # (fixture case 6, TripEndProcessor.py:51-52 semantics).
    rows = [
        # valid, int-as-float vendor_id (TripStartProcessor.py:25 allows)
        ("t1", "11/07/2024 14:00", "11/07/2024 14:30", "1", "2", "3.0", "12.5"),
        # non-numeric fare -> invalid
        ("t2", "11/07/2024 14:00", "11/07/2024 14:30", "1", "2", "3", "abc"),
        # unparseable datetime -> invalid
        ("t3", "not a date", "11/07/2024 14:30", "1", "2", "3", "12.5"),
    ]
    df = spark.createDataFrame(
        rows,
        "trip_id string, pickup_datetime string, estimated_dropoff_datetime string,"
        " pickup_location_id string, dropoff_location_id string, vendor_id string,"
        " estimated_fare_amount string",
    )
    valid, rejects = split_valid_rejects(coerce_typed(df, TRIP_START_REQUIRED))
    assert [r.trip_id for r in valid.collect()] == ["t1"]
    assert sorted(r.trip_id for r in rejects.collect()) == ["t2", "t3"]
    row = valid.collect()[0]
    assert row.vendor_id == 3 and isinstance(row.vendor_id, int)
    assert row.estimated_fare_amount == 12.5


def test_coerce_typed_optional_fields_nullable(spark):
    # P3/fixture case 8: absent optional columns -> typed nulls, row
    # still valid (TripEndProcessor.py validates optionals only if
    # present; KPI-Aggregator.py:86-90 defaults downstream).
    df = spark.createDataFrame(
        [("t1", "2024-07-11 15:00:00", "42.0")],
        "trip_id string, dropoff_datetime string, fare_amount string",
    )
    valid, rejects = split_valid_rejects(
        coerce_typed(df, TRIP_END_REQUIRED, TRIP_END_OPTIONAL)
    )
    assert rejects.count() == 0
    row = valid.collect()[0]
    assert row.fare_amount == 42.0
    assert row.tip_amount is None and row.payment_type is None


def test_sort_key_and_bookkeeping(spark):
    # P6/P7 (TripStartProcessor.py:96,106-113).
    df = spark.createDataFrame(
        [("t1", "2024-07-11 14:00:00")], "trip_id string, pickup string"
    )
    out = with_bookkeeping(
        df.withColumn(
            "sk", sort_key(F.lit("start"), F.col("pickup").cast("timestamp"))
        ),
        event_type="start",
        source="start_processor",
    ).collect()[0]
    assert out.sk == "RAW#start#2024-07-11 14:00:00"
    assert (out.status, out.event_type, out.source) == (
        "raw",
        "start",
        "start_processor",
    )
