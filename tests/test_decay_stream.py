"""Streaming EWMA and debounce (streaming/decay.py): arrival order
and micro-batch boundaries must not change the emitted score or the
kept set."""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.decay import (
    DEBOUNCE_SCHEMA,
    SENTINEL_USER,
    track_debounce,
    track_user_ewma,
)
from nsp_bolt_pipeline_spark.streaming.ingest import read_wire_stream
from nsp_bolt_pipeline_spark.streaming.replay import decode_event_times
from nsp_bolt_pipeline_spark.streaming.run import run_available_now

WIRE = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

T0 = 1_700_000_000_000_000
HOUR_US = 3_600_000_000


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, src, ckpt, qname):
    stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
    out = track_user_ewma(stream, horizon_ms=3_600_000)
    run_available_now(out.writeStream.format("memory").queryName(qname), ckpt)
    return {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    }


def test_out_of_order_arrival_matches_event_time_fold(spark, tmp_path):
    # user 1: values 1, 2, 3 in event-time order -> ((1/2+2/2)/2+3/2)
    events = [
        {"event_id": i, "ts": T0 + i * HOUR_US, "user_id": 1,
         "value": float(i + 1)}
        for i in range(3)
    ]
    sentinel = {
        "event_id": 99,
        "ts": T0 + 100 * HOUR_US,
        "user_id": SENTINEL_USER,
        "value": 0.0,
    }
    expect = (1.0 * 0.5 + 2.0 * 0.5) * 0.5 + 3.0 * 0.5

    src1, ckpt1 = str(tmp_path / "s1"), str(tmp_path / "c1")
    _write(src1, "b0.json", [events[0], events[1], events[2]])
    _write(src1, "b1.json", [sentinel])
    in_order = _run(spark, src1, ckpt1, "ewma_in_order")

    src2, ckpt2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    # scrambled arrival split across batches; same watermark horizon
    _write(src2, "b0.json", [events[2]])
    _write(src2, "b1.json", [events[0], events[1]])
    _write(src2, "b2.json", [sentinel])
    scrambled = _run(spark, src2, ckpt2, "ewma_scrambled")

    assert in_order == scrambled == {1: (3, expect)}
    assert SENTINEL_USER not in in_order


def test_ewma_state_survives_checkpoint_restart(spark, tmp_path):
    """Two availableNow runs over one checkpoint: the user's buffered
    state from run 1 must combine with run 2's events — the fold sees
    all five values even though the query restarted in between."""
    src, ckpt, out = (
        str(tmp_path / "s"),
        str(tmp_path / "c"),
        str(tmp_path / "o"),
    )
    events = [
        {"event_id": i, "ts": T0 + i * HOUR_US, "user_id": 7,
         "value": float(i + 1)}
        for i in range(5)
    ]
    sentinel = {
        "event_id": 99,
        "ts": T0 + 200 * HOUR_US,
        "user_id": SENTINEL_USER,
        "value": 0.0,
    }

    def run_once():
        # parquet sink: the memory sink cannot recover a checkpoint
        stream = decode_event_times(
            read_wire_stream(spark, src, WIRE), ["ts"]
        )
        run_available_now(
            track_user_ewma(stream, horizon_ms=3_600_000)
            .writeStream.format("parquet")
            .option("path", out),
            ckpt,
        )
        return {
            r["user_id"]: (r["n_events"], r["ewma"])
            for r in spark.read.parquet(out).collect()
        }

    _write(src, "b0.json", events[:2])
    assert run_once() == {}  # no timeout fired: state buffered only

    _write(src, "b1.json", events[2:])
    _write(src, "b2.json", [sentinel])
    s = 1.0
    for v in [2.0, 3.0, 4.0, 5.0]:
        s = s * 0.5 + v * 0.5
    assert run_once() == {7: (5, s)}


DEBOUNCE_WIRE = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)
DAY_S = 86_400


def _ev(event_id, hour, user_id):
    return {
        "event_id": event_id,
        "ts": T0 + hour * HOUR_US,
        "user_id": user_id,
        "event_type": "click",
    }


DEBOUNCE_SENTINEL = _ev(0, 200, SENTINEL_USER)

#: user 1 has events 1, 4, 6 at 0 h, 5 h, 30 h; user 2 has 2, 3, 5 at
#: 3 h, 4 h, 6 h; one list per micro-batch. With a 1-day gap the greedy
#: fold keeps 1, 6 and 2.
PROBE_BATCHES = [
    [_ev(1, 0, 1), _ev(2, 3, 2)],
    [_ev(3, 4, 2)],
    [_ev(4, 5, 1), _ev(5, 6, 2), _ev(6, 30, 1)],
    [DEBOUNCE_SENTINEL],
]


def _write_batches(src, batches, first=0):
    """One file per micro-batch; the file source orders by mtime, so
    pin the batch order."""
    base = time.time() - 100
    for i, rows in enumerate(batches, first):
        _write(src, f"b{i}.json", rows)
        os.utime(os.path.join(src, f"b{i}.json"), (base + i, base + i))


def _debounce_stream(spark, src):
    return decode_event_times(
        spark.readStream.schema(DEBOUNCE_WIRE)
        .option("maxFilesPerTrigger", 1)
        .json(src),
        ["ts"],
    )


def _run_debounce(spark, src, ckpt, out):
    # parquet sink: the memory sink cannot recover a checkpoint
    run_available_now(
        track_debounce(_debounce_stream(spark, src), min_gap_s=DAY_S)
        .writeStream.format("parquet")
        .option("path", out),
        ckpt,
    )
    return sorted(r["event_id"] for r in spark.read.parquet(out).collect())


def test_debounce_kept_set_does_not_depend_on_batches(spark, tmp_path):
    """Event 4 is 5 h after kept event 1: the watermark passing an hour
    of quiet between them must not restart user 1's fold."""
    src = str(tmp_path / "s")
    _write_batches(src, PROBE_BATCHES)
    got = _run_debounce(
        spark, src, str(tmp_path / "c"), str(tmp_path / "o")
    )
    assert got == [1, 2, 6]


def test_debounce_restart_from_checkpoint_keeps_same_set(spark, tmp_path):
    """The probe over two availableNow runs on one checkpoint: open
    sessions carry over the restart, so the kept set is the same."""
    src, ckpt, out = (
        str(tmp_path / "s"),
        str(tmp_path / "c"),
        str(tmp_path / "o"),
    )
    _write_batches(src, PROBE_BATCHES[:2])
    assert _run_debounce(spark, src, ckpt, out) == []  # sessions open
    _write_batches(src, PROBE_BATCHES[2:], first=2)
    assert _run_debounce(spark, src, ckpt, out) == [1, 2, 6]


def test_debounce_drops_row_older_than_watermark(spark, tmp_path):
    """A row for user 1 at 1 h arrives after the watermark (49 h) has
    closed and emitted user 1's first session: it is dropped, and the
    query still completes."""
    src = str(tmp_path / "s")
    _write_batches(
        src,
        [
            [_ev(1, 0, 1)],
            [_ev(2, 50, 1)],
            [_ev(3, 1, 1)],
            [DEBOUNCE_SENTINEL],
        ],
    )
    got = _run_debounce(
        spark, src, str(tmp_path / "c"), str(tmp_path / "o")
    )
    assert got == [1, 2]


def test_debounce_plan_is_session_window_without_python(spark, tmp_path):
    """The debounce runs on the built-in session-window state store
    under one watermark, with no Python state, and emits its schema."""
    out = track_debounce(_debounce_stream(spark, str(tmp_path)), min_gap_s=DAY_S)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in DEBOUNCE_SCHEMA
    ]
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert len(set(re.findall(r"EventTimeWatermark (\S+),", plan))) == 1
    assert "SessionWindowStateStoreSave" in plan
