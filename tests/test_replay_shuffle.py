"""The replay-parallelism mechanics behind the streaming entries:

- ``_wire_fanout`` / multi-file dumps: a single-batch availableNow
  replay must see the SAME one micro-batch regardless of how many
  part files the dump is spread over (file count only parallelizes
  the producer-side JSON encode).
- ``_replay_shuffle``: micro-batch shuffle partitions derive from the
  measured wire size (AQE cannot coalesce streaming plans), clamp to
  [floor, session setting], and the session value is restored on exit
  even when the body raises.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.registry_streaming import (
    _REPLAY_MIN_PARTITIONS,
    _REPLAY_PARTITION_BYTES,
    _dump_events_df,
    _replay_shuffle,
    _wire_bytes,
    _wire_fanout,
    cleanup_workdirs,
    _workdir,
)
from nsp_bolt_pipeline_spark.streaming.run import run_available_now


@pytest.fixture(autouse=True)
def _cleanup():
    yield
    cleanup_workdirs()


def _events(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 60_000_000)
        ).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        (F.col("id") * 0.5).alias("value"),
    )


def test_dump_fanout_writes_multiple_files_single_batch(spark):
    dirs = _workdir("test_fanout")
    ev = _events(spark)
    _dump_events_df(ev, dirs["src"])
    parts = [
        f
        for f in os.listdir(dirs["src"])
        if f.startswith("part-") and f.endswith(".json")
    ]
    expected = _wire_fanout(spark)
    assert len(parts) == expected and expected > 1

    # single-batch contract: no maxFilesPerTrigger -> availableNow
    # folds EVERY part file into one micro-batch
    from nsp_bolt_pipeline_spark.registry_streaming import _event_stream

    stream = _event_stream(spark, dirs["src"])
    batch_sizes = []

    def record(batch, _bid):
        batch_sizes.append(batch.count())

    run_available_now(stream.writeStream.foreachBatch(record), dirs["ckpt"])
    assert batch_sizes == [400]


def test_replay_shuffle_derives_and_restores(spark):
    dirs = _workdir("test_rs")
    os.makedirs(dirs["src"], exist_ok=True)
    with open(os.path.join(dirs["src"], "w.json"), "w") as f:
        f.write("x" * 1024)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    cap = int(old)
    with _replay_shuffle(spark, dirs["src"]) as parts:
        # 1 KiB wire -> floor (clamped to the session cap)
        assert parts == min(_REPLAY_MIN_PARTITIONS, cap)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_replay_shuffle_scales_with_bytes_and_batches(spark):
    dirs = _workdir("test_rs2")
    os.makedirs(dirs["src"], exist_ok=True)
    # 6 "batches" of 2 partition-targets each -> per-batch 2 partitions,
    # but the session cap is the ceiling
    total = 12 * _REPLAY_PARTITION_BYTES
    with open(os.path.join(dirs["src"], "big.json"), "w") as f:
        f.seek(total - 1)
        f.write("x")
    assert _wire_bytes(dirs["src"]) == total
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _replay_shuffle(spark, dirs["src"], n_batches=6) as parts:
        assert parts == min(max(_REPLAY_MIN_PARTITIONS, 2), cap)
    with _replay_shuffle(spark, dirs["src"]) as parts:
        assert parts == min(12, cap)  # whole wire in one batch


def test_replay_shuffle_restores_on_error(spark):
    dirs = _workdir("test_rs3")
    os.makedirs(dirs["src"], exist_ok=True)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with _replay_shuffle(spark, dirs["src"]):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
