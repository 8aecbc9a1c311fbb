"""Tests for the trip lifecycle operator (watermarked dedup plus a
left-outer stream-stream join)."""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.replay import decode_event_times
from nsp_bolt_pipeline_spark.streaming.run import run_available_now
from nsp_bolt_pipeline_spark.streaming.trip_state import (
    TRIP_OUTCOME_SCHEMA,
    track_trip_lifecycle,
)

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


def _run_batches(spark, tmp_path, batches, name):
    """Run the operator over ``batches``, one micro-batch per list of
    rows in order, and return every outcome row."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    base = time.time() - len(batches)
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # the file source orders by mtime: pin the batch order
        os.utime(path, (base + i, base + i))
    stream = decode_event_times(
        spark.readStream.schema(WIRE)
        .option("maxFilesPerTrigger", 1)
        .json(src),
        ["ts"],
    )
    out = track_trip_lifecycle(stream, timeout_ms=2 * 3600 * 1000)
    run_available_now(
        out.writeStream.format("memory").queryName(name),
        str(tmp_path / "ckpt"),
    )
    return spark.sql(f"SELECT * FROM {name}").collect()


def _run(spark, tmp_path, rows, name):
    return {
        r["trip_id"]: r for r in _run_batches(spark, tmp_path, [rows], name)
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
    already passed. It must neither kill the query nor re-open the
    trip: the dedup still holds the first start, and the trip expires
    once."""
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
    got = {
        r["trip_id"]: r["status"]
        for r in _run_batches(spark, tmp_path, [b0, b1], "stale_rearm")
    }
    assert got.get("t") == "expired"


def test_start_redelivered_after_completion_does_not_reopen(spark, tmp_path):
    """A trip completes in micro-batch 0 and its start is redelivered
    byte-identical in micro-batch 1: the dedup drops the copy, so the
    trip keeps exactly one outcome. (A state machine that forgets a
    trip on completion re-opens it here and later expires it.)"""
    start = {"trip_id": "x", "event_type": "start", "ts": T0, "fare": None}
    b0 = [
        start,
        {"trip_id": "x", "event_type": "end", "ts": T0 + US_PER_HOUR // 2,
         "fare": 4.0},
    ]
    # the tick pushes the watermark past x's 2h horizon
    b1 = [
        start,
        {"trip_id": "tick", "event_type": "start",
         "ts": T0 + 10 * US_PER_HOUR, "fare": None},
    ]
    rows = _run_batches(spark, tmp_path, [b0, b1], "redelivered_start")
    assert [r["status"] for r in rows if r["trip_id"] == "x"] == ["completed"]


def test_end_arriving_before_start_completes(spark, tmp_path):
    """The end of a trip arrives one micro-batch before its start: the
    join holds the end until the start arrives and pairs them, as the
    batch oracle (first start joined to first end by event time)
    does."""
    b0 = [
        {"trip_id": "x", "event_type": "end", "ts": T0 + US_PER_HOUR // 2,
         "fare": 6.5},
    ]
    b1 = [
        {"trip_id": "x", "event_type": "start", "ts": T0, "fare": None},
        {"trip_id": "tick", "event_type": "start",
         "ts": T0 + 10 * US_PER_HOUR, "fare": None},
    ]
    rows = _run_batches(spark, tmp_path, [b0, b1], "end_before_start")
    got = [r for r in rows if r["trip_id"] == "x"]
    assert [(r["status"], r["fare_amount"]) for r in got] == [
        ("completed", 6.5)
    ]


def test_plan_is_jvm_only_with_one_watermark(spark, tmp_path):
    """The lifecycle runs on built-in operators (no Python state, one
    watermark defined before the start/end split, and a left-outer
    stream-stream join) and emits the outcome schema. The optimizer copies the watermark node into
    both branches under one node id; per-side ``withWatermark`` calls
    would give two ids, whose ``min`` policy holds the watermark at
    the slower side and leaves the last starts unexpired."""
    stream = decode_event_times(
        spark.readStream.schema(WIRE).json(str(tmp_path)), ["ts"]
    )
    out = track_trip_lifecycle(stream, timeout_ms=2 * 3600 * 1000)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in TRIP_OUTCOME_SCHEMA
    ]
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert len(set(re.findall(r"EventTimeWatermark (\S+),", plan))) == 1
    assert re.search(
        r"StreamingSymmetricHashJoin \[[^\]]*\], \[[^\]]*\], LeftOuter,",
        plan,
    )
