"""Streaming bottom-k sampler (streaming/sampler.py): arrival order,
micro-batch boundaries, and duplicate redelivery must not change the
emitted sample, and state stays bounded by k."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.ingest import read_wire_stream
from nsp_bolt_pipeline_spark.streaming.replay import decode_event_times
from nsp_bolt_pipeline_spark.streaming.run import run_available_now
from nsp_bolt_pipeline_spark.streaming.sampler import (
    SENTINEL_EVENT,
    track_daily_bottomk,
)

WIRE = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
    ]
)

T0 = 1_700_000_000_000_000  # 2023-11-14 22:13:20 UTC
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, src, ckpt, qname, k):
    stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
    out = track_daily_bottomk(stream, k=k, horizon_ms=3_600_000)
    run_available_now(out.writeStream.format("memory").queryName(qname), ckpt)
    return sorted(
        (str(r["day"]), r["event_id"])
        for r in spark.sql(f"SELECT * FROM {qname}").collect()
    )


def _expected(ids, k):
    pairs = sorted(
        (hashlib.md5(str(e).encode()).hexdigest(), e) for e in set(ids)
    )
    return sorted(e for _, e in pairs[:k])


def test_sample_matches_batch_rule_under_scrambled_batches(spark, tmp_path):
    ids = list(range(100))
    events = [{"event_id": e, "ts": T0 + (e % 7) * HOUR_US} for e in ids]
    sentinel = {"event_id": SENTINEL_EVENT, "ts": T0 + 10 * DAY_US}

    # one file, event-id order
    src_a = str(tmp_path / "a_src")
    _write(src_a, "b0.json", events + [sentinel])
    got_a = _run(spark, src_a, str(tmp_path / "a_ckpt"), "bk_a", 5)

    # three files, reversed and interleaved, with redelivered dupes
    src_b = str(tmp_path / "b_src")
    rev = list(reversed(events))
    _write(src_b, "b0.json", rev[::3] + rev[:10])
    _write(src_b, "b1.json", rev[1::3] + rev[40:45])
    _write(src_b, "b2.json", rev[2::3] + [sentinel])
    got_b = _run(spark, src_b, str(tmp_path / "b_ckpt"), "bk_b", 5)

    assert got_a == got_b
    # T0 is 22:13 UTC, so the hourly offsets straddle midnight: group
    # the expectation by actual UTC date
    import datetime as dt

    by_day = {}
    for ev in events:
        day = str(
            dt.datetime.fromtimestamp(
                ev["ts"] / 1e6, tz=dt.timezone.utc
            ).date()
        )
        by_day.setdefault(day, []).append(ev["event_id"])
    days = {}
    for d, e in got_a:
        days.setdefault(d, []).append(e)
    assert set(days) == set(by_day)
    for day, sample in days.items():
        assert sorted(sample) == _expected(by_day[day], 5)


def test_multiple_days_emit_independent_bounded_samples(spark, tmp_path):
    events = [
        {"event_id": 1000 * d + i, "ts": T0 + d * DAY_US + i * HOUR_US}
        for d in range(3)
        for i in range(8)
    ]
    sentinel = {"event_id": SENTINEL_EVENT, "ts": T0 + 30 * DAY_US}
    src = str(tmp_path / "src")
    _write(src, "b0.json", events + [sentinel])
    got = _run(spark, src, str(tmp_path / "ckpt"), "bk_days", 3)
    days = {}
    for d, e in got:
        days.setdefault(d, []).append(e)
    # T0 is late in the UTC day, so a calendar day boundary splits the
    # 8 hourly events of each synthetic "day" across two dates —
    # assert the bound and the rule per emitted date instead
    assert len(days) >= 3
    by_day = {}
    import datetime as dt

    for ev in events:
        day = str(
            dt.datetime.fromtimestamp(
                ev["ts"] / 1e6, tz=dt.timezone.utc
            ).date()
        )
        by_day.setdefault(day, []).append(ev["event_id"])
    for day, sample in days.items():
        assert len(sample) <= 3
        assert sorted(sample) == _expected(by_day[day], 3)
