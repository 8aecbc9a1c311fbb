"""Per-trip lifecycle as built-in stateful operators: watermarked
first-write-wins dedup on each side, then a time-bounded stream-stream
left-outer join that emits every trip once, ``completed`` or
``expired``.

The inner completion join (streaming.completion) emits completed trips
but *silently drops* trips whose end never arrives — the same blind
spot the reference has (README.md:413-414 admits stale incomplete
records just accumulate in DynamoDB, cleaned up by some external
process). The left-outer form is that cleanup process as a first-class
streaming output: an unmatched start is emitted as ``expired`` when the
watermark passes start + timeout and the join evicts it.

Scale notes (100 TB): the whole plan runs in the JVM — no per-key
Python. State is two dedup stores (one key per trip per side, held for
the watermark delay) plus the join's four stores (keys and values per
side), per shuffle partition, all keyed and shuffled by trip_id. The
dedup stores are bounded by (event rate x watermark delay) and the
join stores by (event rate x (timeout + delay)), regardless of table
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.completion import (
    streaming_completed_trips,
)

#: output contract: one row per resolved trip.
TRIP_OUTCOME_SCHEMA = T.StructType(
    [
        T.StructField("trip_id", T.StringType()),
        T.StructField("status", T.StringType()),  # completed | expired
        T.StructField("pickup_datetime", T.TimestampType()),
        T.StructField("dropoff_datetime", T.TimestampType()),
        T.StructField("fare_amount", T.DoubleType()),
    ]
)


def track_trip_lifecycle(
    events: DataFrame,
    *,
    timeout_ms: int,
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Resolve each trip of a unified (trip_id, event_type, ts, fare)
    stream, ``event_type`` 'start' or 'end', into one outcome row of
    :data:`TRIP_OUTCOME_SCHEMA`.

    Arrival-order contract: the first-arriving start and the
    first-arriving end of a trip (the dedup holds each for the
    watermark delay, so later copies are dropped) pair up if and only
    if ``start <= end <= start + timeout``, in either arrival order —
    an end may arrive before its start. The pair is emitted as
    ``completed`` as soon as both have arrived. Otherwise the start is
    emitted as ``expired`` once the watermark passes
    ``start + timeout``; an end with no start is never emitted. Among
    distinct same-trip starts (or ends) inside one micro-batch, the
    survivor follows arrival order, as
    :func:`~nsp_bolt_pipeline_spark.streaming.completion.deduped_completion_stream`
    documents.

    The watermark is defined once, on the unified stream, before the
    split: per-side watermarks fall under Spark's ``min`` policy and
    hold the global watermark at the slower side, so the last starts
    of a stream that ends on an end event would never expire. (The
    optimizer pushes the split below the watermark node and so copies
    it into both branches; Spark tracks the copies, which share one
    node id, as a single watermark over all events.)
    """
    wm = events.withWatermark(ts_col, watermark_delay)

    def first(event_type: str) -> DataFrame:
        return wm.filter(
            F.col("event_type") == event_type
        ).dropDuplicatesWithinWatermark(["trip_id"])

    starts = first("start").select(
        "trip_id", F.col(ts_col).alias("pickup_datetime")
    )
    ends = first("end").select(
        "trip_id",
        F.col(ts_col).alias("dropoff_datetime"),
        F.col("fare").cast("double").alias("fare_amount"),
    )
    joined = streaming_completed_trips(
        starts,
        ends,
        within=f"{timeout_ms} milliseconds",
        assume_watermarked=True,
        how="left_outer",
    )
    return joined.select(
        "trip_id",
        F.when(F.col("dropoff_datetime").isNull(), "expired")
        .otherwise("completed")
        .alias("status"),
        "pickup_datetime",
        "dropoff_datetime",
        "fare_amount",
    )
