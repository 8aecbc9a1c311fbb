"""Tests for the applyInPandasWithState trip lifecycle operator."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.replay import decode_event_times
from nsp_bolt_pipeline_spark.streaming.run import run_available_now
from nsp_bolt_pipeline_spark.streaming.trip_state import track_trip_lifecycle

WIRE = T.StructType(
    [
        T.StructField("trip_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("fare", T.DoubleType()),
    ]
)

US_PER_HOUR = 3_600_000_000
T0 = 1_700_000_000_000_000


def _run(spark, tmp_path, rows, name):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = decode_event_times(
        spark.readStream.schema(WIRE).json(src), ["ts"]
    )
    out = track_trip_lifecycle(stream, timeout_ms=2 * 3600 * 1000)
    run_available_now(
        out.writeStream.format("memory").queryName(name),
        str(tmp_path / "ckpt"),
    )
    return {
        r["trip_id"]: r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_lifecycle_completed_expired_and_orphans(spark, tmp_path):
    rows = [
        # completes: end 1h after start (inside the 2h horizon)
        {"trip_id": "done", "event_type": "start", "ts": T0, "fare": None},
        {"trip_id": "done", "event_type": "end", "ts": T0 + US_PER_HOUR, "fare": 12.5},
        # duplicate start must not reopen/shift the trip (D1 semantics)
        {"trip_id": "done", "event_type": "start", "ts": T0 + 2, "fare": None},
        # expires: start with no end; the late tick below pushes the
        # watermark past start + timeout
        {"trip_id": "lost", "event_type": "start", "ts": T0, "fare": None},
        # orphan end (no start ever): silently dropped, like the
        # reference's join-based completion
        {"trip_id": "orphan", "event_type": "end", "ts": T0 + US_PER_HOUR, "fare": 9.0},
        # watermark tick: event time T0+10h, delay 1h -> wm = T0+9h
        {"trip_id": "tick", "event_type": "start", "ts": T0 + 10 * US_PER_HOUR, "fare": None},
    ]
    got = _run(spark, tmp_path, rows, "trip_state_t1")
    assert got["done"]["status"] == "completed"
    assert got["done"]["fare_amount"] == 12.5
    assert str(got["done"]["pickup_datetime"].time()) != ""  # first start kept
    assert got["lost"]["status"] == "expired"
    assert got["lost"]["dropoff_datetime"] is None
    assert "orphan" not in got
    # 'tick' is still open (no end, wm has not passed its horizon)
    assert "tick" not in got


def test_zero_duration_trip_completes(spark, tmp_path):
    # start and end share a timestamp in the same batch: the inclusive
    # horizon (end >= start) must complete it, which requires start to
    # be processed first on the tie
    rows = [
        {"trip_id": "instant", "event_type": "end", "ts": T0, "fare": 5.0},
        {"trip_id": "instant", "event_type": "start", "ts": T0, "fare": None},
    ]
    got = _run(spark, tmp_path, rows, "trip_state_t0")
    assert got["instant"]["status"] == "completed"
    assert got["instant"]["fare_amount"] == 5.0


def test_end_outside_timeout_does_not_complete(spark, tmp_path):
    rows = [
        {"trip_id": "slow", "event_type": "start", "ts": T0, "fare": None},
        # end 3h after start: outside the 2h horizon
        {"trip_id": "slow", "event_type": "end", "ts": T0 + 3 * US_PER_HOUR, "fare": 7.0},
        {"trip_id": "tick", "event_type": "start", "ts": T0 + 12 * US_PER_HOUR, "fare": None},
    ]
    got = _run(spark, tmp_path, rows, "trip_state_t2")
    assert got["slow"]["status"] == "expired"


def test_stale_rearm_does_not_crash_when_watermark_passed_horizon(
    spark, tmp_path
):
    """A later micro-batch can deliver a NON-completing event (here a
    duplicate start) for an open trip whose expiry the watermark has
    already passed — Spark routes the group as data, and re-arming the
    timeout at the stale horizon would raise INVALID_TIMEOUT_TIMESTAMP
    and kill the query. The clamp re-arms above the watermark and the
    trip expires on the next tick instead."""
    import time

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    b0 = [
        {"trip_id": "t", "event_type": "start", "ts": T0, "fare": None},
        # another trip far in the future drags the watermark up
        {"trip_id": "w", "event_type": "start", "ts": T0 + 20 * US_PER_HOUR,
         "fare": None},
    ]
    b1 = [
        # duplicate start for t, inside the allowed-lateness window but
        # with the watermark (19h) far past t's 2h expiry horizon
        {"trip_id": "t", "event_type": "start",
         "ts": T0 + 19 * US_PER_HOUR + 1, "fare": None},
        {"trip_id": "w2", "event_type": "start",
         "ts": T0 + 40 * US_PER_HOUR, "fare": None},
    ]
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in b0:
            f.write(json.dumps(r) + "\n")
    time.sleep(1.1)  # file-source orders by mtime: force b0 first
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in b1:
            f.write(json.dumps(r) + "\n")
    stream = decode_event_times(
        spark.readStream.schema(WIRE)
        .option("maxFilesPerTrigger", 1)
        .json(src),
        ["ts"],
    )
    out = track_trip_lifecycle(stream, timeout_ms=2 * 3600 * 1000)
    # without the clamp this raises StreamingQueryException
    run_available_now(
        out.writeStream.format("memory").queryName("stale_rearm"),
        str(tmp_path / "ckpt2"),
    )
    got = {
        r["trip_id"]: r["status"]
        for r in spark.sql("SELECT * FROM stale_rearm").collect()
    }
    assert got.get("t") == "expired"
