"""Streaming EWMA (streaming/decay.py): arrival order across
micro-batches must not change the emitted score — the state buffers
and folds in event-time order at flush."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.decay import (
    SENTINEL_USER,
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
