"""Streaming-semantics tests (SURVEY.md §2.8): late data, duplicate
arrival, restart-with-checkpoint incrementality, DLQ routing, and
stream-stream join state bounds — the cases the availableNow oracle
runs can't isolate."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.streaming.completion import (
    deduped_completion_stream,
    run_completion_join,
    streaming_completed_trips,
)
from nsp_bolt_pipeline_spark.streaming.ingest import (
    read_wire_stream,
    run_ingest,
    stream_first_write_wins,
)
from nsp_bolt_pipeline_spark.streaming.kpi import (
    run_windowed_kpis,
    windowed_daily_kpis,
)
from nsp_bolt_pipeline_spark.streaming.replay import (
    decode_event_times,
    to_wire,
)
from nsp_bolt_pipeline_spark.streaming.run import run_available_now

WIRE = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("fare", T.DoubleType()),
    ]
)

US_PER_HOUR = 3_600_000_000
T0 = 1_700_000_000_000_000  # fixed epoch-micros anchor


def _write_batch(src_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _dirs(tmp_path, *names):
    return [str(tmp_path / n) for n in names]


def _ingest(spark, src, bronze, dlq, ckpt, **kw):
    stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
    run_ingest(
        stream,
        bronze_dir=bronze,
        dlq_dir=dlq,
        checkpoint_dir=ckpt,
        required={"key": "string", "fare": "double"},
        dedup_keys=["key"],
        order_cols=["ts"],
        **kw,
    )


class TestIngestDedup:
    def test_within_batch_min_wins_and_late_duplicate_is_dropped(
        self, spark, tmp_path
    ):
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        # batch 1: k1 twice (later ts first in file — min_by must win),
        # plus k2 once.
        _write_batch(
            src,
            "b0.json",
            [
                {"key": "k1", "ts": T0 + 3 * US_PER_HOUR, "fare": 30.0},
                {"key": "k1", "ts": T0 + 2 * US_PER_HOUR, "fare": 20.0},
                {"key": "k2", "ts": T0 + 5 * US_PER_HOUR, "fare": 50.0},
            ],
        )
        _ingest(spark, src, bronze, dlq, ckpt)
        got = {r["key"]: r["fare"] for r in spark.read.parquet(bronze).collect()}
        assert got == {"k1": 20.0, "k2": 50.0}

        # batch 2 (restart, same checkpoint): a LATE duplicate of k1
        # with an *earlier* event time, plus new key k3. First-write-
        # wins is arrival-order (the reference's check-then-put,
        # TripStartProcessor.py:100-103): k1 must NOT be replaced.
        _write_batch(
            src,
            "b1.json",
            [
                {"key": "k1", "ts": T0 + 1 * US_PER_HOUR, "fare": 10.0},
                {"key": "k3", "ts": T0 + 4 * US_PER_HOUR, "fare": 40.0},
            ],
        )
        _ingest(spark, src, bronze, dlq, ckpt)
        got = {r["key"]: r["fare"] for r in spark.read.parquet(bronze).collect()}
        assert got == {"k1": 20.0, "k2": 50.0, "k3": 40.0}

    def test_restart_without_new_files_is_a_noop(self, spark, tmp_path):
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        _write_batch(src, "b0.json", [{"key": "k1", "ts": T0, "fare": 1.0}])
        _ingest(spark, src, bronze, dlq, ckpt)
        _ingest(spark, src, bronze, dlq, ckpt)  # checkpoint replay: no dupes
        assert spark.read.parquet(bronze).count() == 1

    def test_horizon_bounded_dedup_contract(self, spark, tmp_path):
        """With dedup_ts_col + dedup_horizon_days: a duplicate within
        the horizon is dropped; one whose original fell out of the
        horizon is re-admitted (the dropDuplicatesWithinWatermark
        contract) — the trade that bounds the per-batch bronze scan."""
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        day = 24 * US_PER_HOUR
        kw = {"dedup_ts_col": "ts", "dedup_horizon_days": 7}
        _write_batch(src, "b0.json", [{"key": "k1", "ts": T0, "fare": 1.0}])
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        # bronze carries the event_date partition layout
        assert any(
            d.startswith("event_date=") for d in os.listdir(str(bronze))
        )
        # day 2: duplicate inside the horizon -> dropped; k2 is new
        _write_batch(
            src,
            "b1.json",
            [
                {"key": "k1", "ts": T0 + 2 * day, "fare": 2.0},
                {"key": "k2", "ts": T0 + 2 * day, "fare": 20.0},
            ],
        )
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        got = {r["key"]: r["fare"] for r in spark.read.parquet(bronze).collect()}
        assert got == {"k1": 1.0, "k2": 20.0}
        # day 40: k1's original (day 0) is beyond the 7-day horizon ->
        # its partition is pruned from the seen-scan and the row is
        # re-admitted — the documented bounded-dedup semantics
        _write_batch(
            src, "b2.json", [{"key": "k1", "ts": T0 + 40 * day, "fare": 3.0}]
        )
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        fares = sorted(
            r["fare"]
            for r in spark.read.parquet(bronze)
            .filter(F.col("key") == "k1")
            .collect()
        )
        assert fares == [1.0, 3.0]

    def test_hot_date_keeps_write_salt_despite_stray_dates(
        self, spark, tmp_path
    ):
        """The adaptive write salt must not be disabled by a handful
        of stray dates riding a hot-date batch: the dominant date
        carries ~97% of rows here, so the key-hash salt stays on and
        the hot partition dir gets multiple files (parallel write
        tasks), not one serialized task's single file. The decision
        table itself is pinned separately on _effective_salt; the
        end-to-end run uses a wide salt because hash-repartition can
        legitimately collapse 2 salt values into 1 task by modulo
        collision."""
        from nsp_bolt_pipeline_spark.streaming.ingest import (
            _effective_salt,
        )

        # decision table: production cadence, hot+stray, true backfill
        assert _effective_salt(1, 1.0, 2) == 2
        assert _effective_salt(2, 0.6, 2) == 2
        assert _effective_salt(7, 0.97, 2) == 2  # hot + strays
        assert _effective_salt(7, 0.97, 1) == 1
        assert _effective_salt(30, 1 / 30, 2) == 1  # uniform backfill
        assert _effective_salt(3, 0.4, 2) == 1

        src, bronze, dlq, ckpt = _dirs(
            tmp_path, "src", "bronze", "dlq", "ckpt"
        )
        day = 24 * US_PER_HOUR
        rows = [
            {"key": f"k{i}", "ts": T0 + i, "fare": float(i)}
            for i in range(200)  # one hot date
        ] + [
            {"key": f"s{i}", "ts": T0 + (i + 2) * day, "fare": 1.0}
            for i in range(6)  # six stray dates (salt would die at >2)
        ]
        _write_batch(src, "b0.json", rows)
        _ingest(
            spark, src, bronze, dlq, ckpt,
            dedup_ts_col="ts", dedup_horizon_days=7,
            files_per_partition=8,
        )
        hot_dirs = [
            d for d in os.listdir(str(bronze)) if d.startswith("event_date=")
        ]
        assert len(hot_dirs) == 7
        hot = max(
            hot_dirs,
            key=lambda d: len(os.listdir(os.path.join(str(bronze), d))),
        )
        n_files = len(
            [
                f
                for f in os.listdir(os.path.join(str(bronze), hot))
                if f.endswith(".parquet")
            ]
        )
        assert n_files >= 2, f"hot date serialized into {n_files} file(s)"

    def test_horizon_seen_scan_is_partition_pruned(self, spark, tmp_path):
        """The per-batch cross-batch-dedup probe must push the horizon
        bound into the scan's PartitionFilters — only event_date
        partitions inside the horizon are read, so per-trigger cost is
        O(horizon), not O(table age)."""
        import datetime

        from nsp_bolt_pipeline_spark.streaming.ingest import seen_keys

        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        day = 24 * US_PER_HOUR
        _write_batch(
            src,
            "b0.json",
            [
                {"key": f"k{i}", "ts": T0 + i * day, "fare": float(i)}
                for i in range(5)
            ],
        )
        _ingest(
            spark, src, bronze, dlq, ckpt,
            dedup_ts_col="ts", dedup_horizon_days=7,
        )
        lo = datetime.date(2023, 11, 17)
        plan = (
            seen_keys(
                spark,
                bronze,
                T.StructType([T.StructField("key", T.StringType())]),
                min_event_date=lo,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        part_filters = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_date" in part_filters and ">=" in part_filters


class TestSilverUpsert:
    def _upsert(self, spark, src, silver, ckpt):
        from nsp_bolt_pipeline_spark.streaming.ingest import (
            run_silver_upsert,
        )

        stream = decode_event_times(
            read_wire_stream(
                spark, src, WIRE, max_files_per_trigger=1
            ),
            ["ts"],
        ).select("key", "ts", "fare")
        return run_silver_upsert(
            stream,
            silver_root=silver,
            checkpoint_dir=ckpt,
            keys=["key"],
            order_cols=["ts"],
        )

    def test_latest_wins_across_batches_and_versions_advance(
        self, spark, tmp_path
    ):
        src, silver, ckpt = _dirs(tmp_path, "src", "silver", "ckpt")
        # one file per micro-batch (maxFilesPerTrigger=1): the update
        # for k1 arrives in a LATER batch and must replace the earlier
        # row; k2 is untouched by batch 2
        _write_batch(
            src,
            "b0.json",
            [
                {"key": "k1", "ts": T0 + 1 * US_PER_HOUR, "fare": 10.0},
                {"key": "k2", "ts": T0 + 2 * US_PER_HOUR, "fare": 20.0},
            ],
        )
        _write_batch(
            src,
            "b1.json",
            [{"key": "k1", "ts": T0 + 5 * US_PER_HOUR, "fare": 50.0}],
        )
        latest = self._upsert(spark, src, silver, ckpt)
        assert latest.endswith("v=1")  # two batches -> versions 0, 1
        got = {r["key"]: r["fare"] for r in spark.read.parquet(latest).collect()}
        assert got == {"k1": 50.0, "k2": 20.0}

    def test_out_of_order_update_does_not_regress(self, spark, tmp_path):
        src, silver, ckpt = _dirs(tmp_path, "src", "silver", "ckpt")
        _write_batch(
            src,
            "b0.json",
            [{"key": "k1", "ts": T0 + 9 * US_PER_HOUR, "fare": 90.0}],
        )
        # stale update arrives later: latest-wins is by ORDER COLUMNS,
        # not arrival — the older ts must not replace the newer row
        _write_batch(
            src,
            "b1.json",
            [{"key": "k1", "ts": T0 + 1 * US_PER_HOUR, "fare": 10.0}],
        )
        latest = self._upsert(spark, src, silver, ckpt)
        got = {r["key"]: r["fare"] for r in spark.read.parquet(latest).collect()}
        assert got == {"k1": 90.0}


class TestDLQ:
    def test_corrupt_json_and_failed_cast_route_to_dlq(self, spark, tmp_path):
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        os.makedirs(src)
        with open(os.path.join(src, "b0.json"), "w") as f:
            f.write(json.dumps({"key": "ok", "ts": T0, "fare": 9.5}) + "\n")
            f.write("{this is not json\n")
            f.write(json.dumps({"key": "bad", "ts": T0, "fare": "NaNope"}) + "\n")
        _ingest(spark, src, bronze, dlq, ckpt)
        assert spark.read.parquet(bronze).count() == 1
        rejects = spark.read.parquet(dlq)
        assert rejects.count() == 2
        # raw payloads are preserved for forensic replay (S8):
        # PERMISSIVE captures both the undecodable line and the
        # type-mismatched record in _corrupt_record.
        raws = {r["_corrupt_record"] for r in rejects.collect()}
        assert any(raw and "not json" in raw for raw in raws)
        assert any(raw and "NaNope" in raw for raw in raws)

    def test_all_malformed_first_batch_then_good_batch(self, spark, tmp_path):
        """A partitioned bronze whose only append so far was an empty
        (all-rejected) batch holds nothing but ``_SUCCESS``; the next
        batch's key probe must read it as zero keys, not fail to infer
        a schema, and later batches still dedup against the key read
        back from the partition directory names."""
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        kw = {
            "partition_cols": ["key"],
            "dedup_ts_col": "ts",
            "dedup_horizon_days": 7,
        }
        os.makedirs(src)
        with open(os.path.join(src, "b0.json"), "w") as f:
            f.write("{this is not json\n")
            f.write(json.dumps({"key": "bad", "ts": T0, "fare": "nope"}) + "\n")
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        _write_batch(
            src,
            "b1.json",
            [
                {"key": "k1", "ts": T0, "fare": 1.0},
                {"key": "k2", "ts": T0, "fare": 2.0},
            ],
        )
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        _write_batch(
            src,
            "b2.json",
            [
                {"key": "k1", "ts": T0 + US_PER_HOUR, "fare": 9.0},
                {"key": "k3", "ts": T0, "fare": 3.0},
            ],
        )
        _ingest(spark, src, bronze, dlq, ckpt, **kw)
        got = {r["key"]: r["fare"] for r in spark.read.parquet(bronze).collect()}
        assert got == {"k1": 1.0, "k2": 2.0, "k3": 3.0}
        assert spark.read.parquet(dlq).count() == 2


class TestDLQIdempotence:
    def test_rejects_land_in_per_batch_partitions(self, spark, tmp_path):
        src, bronze, dlq, ckpt = _dirs(tmp_path, "src", "bronze", "dlq", "ckpt")
        _write_batch(
            src, "b0.json", [{"key": "bad", "ts": T0, "fare": "nope"}]
        )
        _ingest(spark, src, bronze, dlq, ckpt)
        _write_batch(
            src, "b1.json", [{"key": "bad2", "ts": T0, "fare": "nope"}]
        )
        _ingest(spark, src, bronze, dlq, ckpt)
        # each micro-batch owns a batch=N partition it can overwrite on
        # retry, so replays can never duplicate reject rows
        parts = sorted(
            d for d in os.listdir(dlq) if d.startswith("batch=")
        )
        assert len(parts) == 2
        assert spark.read.parquet(dlq).count() == 2


class TestWatermarkDedup:
    def test_drop_duplicates_within_watermark_keeps_one_per_key(
        self, spark, tmp_path
    ):
        src, ckpt = _dirs(tmp_path, "src", "ckpt")
        _write_batch(
            src,
            "b0.json",
            [
                {"key": "k1", "ts": T0, "fare": 1.0},
                {"key": "k1", "ts": T0 + 1, "fare": 2.0},
                {"key": "k2", "ts": T0, "fare": 3.0},
            ],
        )
        stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
        deduped = stream_first_write_wins(stream, ["key"], ts_col="ts")
        run_available_now(
            deduped.writeStream.format("memory").queryName("wm_dedup"), ckpt
        )
        out = spark.sql("SELECT key FROM wm_dedup").collect()
        assert sorted(r["key"] for r in out) == ["k1", "k2"]


class TestWindowedKPI:
    def test_late_row_updates_its_day(self, spark, tmp_path):
        src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
        day_us = 24 * US_PER_HOUR
        d0 = (T0 // day_us) * day_us  # midnight-aligned anchor
        _write_batch(
            src,
            "b0.json",
            [
                {"key": "a", "ts": d0 + 1 * US_PER_HOUR, "fare": 10.0},
                {"key": "b", "ts": d0 + day_us + US_PER_HOUR, "fare": 30.0},
            ],
        )

        def run():
            stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
            kpis = windowed_daily_kpis(
                stream, ts_col="ts", fare_col="fare", id_col="key"
            )
            run_windowed_kpis(kpis, out_dir=out, checkpoint_dir=ckpt)

        run()
        first = {str(r["date"]): r for r in spark.read.parquet(out).collect()}
        assert len(first) == 2

        # a LATE row for day 0 arrives in a later batch: its window
        # state updates incrementally (no rescan of day 1).
        _write_batch(
            src, "b1.json", [{"key": "c", "ts": d0 + 2 * US_PER_HOUR, "fare": 20.0}]
        )
        run()
        final = {str(r["date"]): r for r in spark.read.parquet(out).collect()}
        day0 = min(final)
        assert final[day0]["total_fare"] == 30.0
        assert final[day0]["count_trips"] == 2
        assert final[day0]["average_fare"] == 15.0
        assert final[max(final)]["total_fare"] == 30.0


class TestUpdateModeKPI:
    def test_late_row_rewrites_only_its_date_partition(self, spark, tmp_path):
        from nsp_bolt_pipeline_spark.streaming.kpi import (
            run_windowed_kpis_update,
            windowed_daily_kpis,
        )

        src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
        day_us = 24 * US_PER_HOUR
        d0 = (T0 // day_us) * day_us
        _write_batch(
            src,
            "b0.json",
            [
                {"key": "a", "ts": d0 + 1 * US_PER_HOUR, "fare": 10.0},
                {"key": "b", "ts": d0 + day_us + US_PER_HOUR, "fare": 30.0},
            ],
        )

        def run():
            stream = decode_event_times(read_wire_stream(spark, src, WIRE), ["ts"])
            kpis = windowed_daily_kpis(
                stream, ts_col="ts", fare_col="fare", id_col="key"
            )
            run_windowed_kpis_update(kpis, out_dir=out, checkpoint_dir=ckpt)

        run()
        dirs = sorted(d for d in os.listdir(out) if d.startswith("date="))
        assert len(dirs) == 2
        d1_files = set(os.listdir(os.path.join(out, dirs[1])))

        # late day-0 row (within the 1-day watermark): only the day-0
        # partition is rewritten; day-1's files stay untouched
        _write_batch(
            src, "b1.json", [{"key": "c", "ts": d0 + 2 * US_PER_HOUR, "fare": 20.0}]
        )
        run()
        assert set(os.listdir(os.path.join(out, dirs[1]))) == d1_files
        final = {str(r["date"]): r for r in spark.read.parquet(out).collect()}
        assert final[min(final)]["total_fare"] == 30.0
        assert final[min(final)]["count_trips"] == 2
        assert final[max(final)]["total_fare"] == 30.0


class TestStreamStreamJoin:
    def test_join_respects_time_bound_and_requires_both_sides(
        self, spark, tmp_path
    ):
        s_src, e_src, out, ckpt = _dirs(tmp_path, "s_src", "e_src", "out", "ckpt")
        start_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("pickup_datetime", T.LongType()),
            ]
        )
        end_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("dropoff_datetime", T.LongType()),
                T.StructField("fare_amount", T.DoubleType()),
            ]
        )
        _write_batch(
            s_src,
            "b0.json",
            [
                {"trip_id": "in_bound", "pickup_datetime": T0},
                {"trip_id": "out_of_bound", "pickup_datetime": T0},
                {"trip_id": "never_ends", "pickup_datetime": T0},
            ],
        )
        _write_batch(
            e_src,
            "b0.json",
            [
                {
                    "trip_id": "in_bound",
                    "dropoff_datetime": T0 + 1 * US_PER_HOUR,
                    "fare_amount": 12.0,
                },
                {
                    "trip_id": "out_of_bound",
                    "dropoff_datetime": T0 + 9 * US_PER_HOUR,
                    "fare_amount": 99.0,
                },
                {
                    "trip_id": "never_started",
                    "dropoff_datetime": T0 + 1 * US_PER_HOUR,
                    "fare_amount": 7.0,
                },
            ],
        )
        starts = decode_event_times(
            read_wire_stream(spark, s_src, start_schema), ["pickup_datetime"]
        ).drop("_corrupt_record")
        ends = decode_event_times(
            read_wire_stream(spark, e_src, end_schema), ["dropoff_datetime"]
        ).drop("_corrupt_record")
        joined = streaming_completed_trips(starts, ends, within="4 hours")
        run_completion_join(joined, out_dir=out, checkpoint_dir=ckpt)
        rows = spark.read.parquet(out).collect()
        assert [(r["trip_id"], r["fare_amount"]) for r in rows] == [
            ("in_bound", 12.0)
        ]

    def test_join_disambiguates_colliding_columns(self, spark):
        # both sides carrying a same-named non-key column (the wire
        # reader's _corrupt_record, a shared ts, ...) must not produce
        # duplicate output names
        starts = spark.createDataFrame(
            [("t1", None)], "trip_id string, note string"
        ).withColumn("pickup_datetime", F.current_timestamp())
        ends = spark.createDataFrame(
            [("t1", None)], "trip_id string, note string"
        ).withColumn("dropoff_datetime", F.current_timestamp())
        out = streaming_completed_trips(starts, ends, within="1 hour")
        assert len(set(out.columns)) == len(out.columns)
        assert "note" in out.columns and "end_note" in out.columns


class TestCappedCompletion:
    """stream_j1_completion_capped: merge-on-read per-side rank cap
    (round-8 verdict item #6). Top-N per key is a semilattice, so the
    foreachBatch fold must converge to the batch operator under ANY
    arrival order, including displacement of an already-kept row by a
    later-arriving earlier one — the case eager match emission cannot
    retract and the reason this is merge-on-read."""

    WIRE = T.StructType(
        [
            T.StructField("side", T.StringType()),
            T.StructField("trip_id", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def _row(self, side, key, hours, eid, value=None):
        return {
            "side": side, "trip_id": key,
            "ts": T0 + int(hours * US_PER_HOUR),
            "event_id": eid, "value": value,
        }

    def test_scrambled_arrival_converges_to_batch_capped(
        self, spark, tmp_path
    ):
        from nsp_bolt_pipeline_spark.operators.completion import (
            completed_trips_capped,
        )
        from nsp_bolt_pipeline_spark.streaming.completion import (
            read_keeper_state,
            run_capped_completion_log,
        )

        src, state, ckpt = _dirs(tmp_path, "src", "state", "ckpt")
        batches = [
            # b0: mid-timestamp starts arrive first
            [self._row("start", "hot", 3, 103),
             self._row("start", "hot", 4, 104),
             self._row("end", "hot", 5, 300, 50.0),
             self._row("start", "cold", 0, 110)],
            # b1: an EARLIER start arrives late -> displaces eid 104
            [self._row("start", "hot", 0, 100),
             self._row("end", "cold", 1, 310, 9.0),
             # duplicate delivery of an already-kept row (at-least-once)
             self._row("start", "hot", 3, 103)],
            # b2: an earlier end displaces nothing (cap not exceeded
            # until 302 arrives and ranks third)
            [self._row("end", "hot", 1, 301, 20.0),
             self._row("end", "hot", 6, 302, 60.0)],
        ]
        all_rows = [r for b in batches for r in b]
        for n, rows in enumerate(batches):
            _write_batch(src, f"b{n}.json", rows)
        wire = decode_event_times(
            read_wire_stream(
                spark, src, self.WIRE, max_files_per_trigger=1
            ),
            ["ts"],
        ).drop("_corrupt_record")
        run_capped_completion_log(
            wire, state_root=state, checkpoint_dir=ckpt,
            key="trip_id", order_cols=("ts", "event_id"),
            max_rows_per_key=2,
        )
        kept = read_keeper_state(spark, state)
        # state bounded by the cap, duplicates folded away
        per_key = (
            kept.groupBy("side", "trip_id").count().collect()
        )
        assert all(r["count"] <= 2 for r in per_key)
        assert kept.count() == 6  # hot: 2 starts + 2 ends; cold: 1 + 1

        def serve(st):
            starts = st.filter(F.col("side") == "start").select(
                "trip_id",
                F.col("ts").alias("pickup_datetime"),
                F.col("event_id").alias("start_event_id"),
            )
            ends = st.filter(F.col("side") == "end").select(
                "trip_id",
                F.col("ts").alias("dropoff_datetime"),
                F.col("value").alias("fare_amount"),
                F.col("event_id").alias("end_event_id"),
            )
            return completed_trips_capped(
                starts, ends, max_rows_per_key=2,
                start_order=["pickup_datetime", "start_event_id"],
                end_order=["dropoff_datetime", "end_event_id"],
            )

        got = {
            (r["trip_id"], r["start_event_id"], r["end_event_id"],
             r["start_rank"], r["end_rank"])
            for r in serve(kept).collect()
        }
        # displaced rows (start 104, end 302) must be gone; ranks are
        # the FINAL event-time ranks, not arrival ranks
        assert got == {
            ("hot", 100, 301, 1, 1), ("hot", 100, 300, 1, 2),
            ("hot", 103, 301, 2, 1), ("hot", 103, 300, 2, 2),
            ("cold", 110, 310, 1, 1),
        }
        # equivalence with the batch operator over the full data
        batch_df = spark.createDataFrame(
            [(r["side"], r["trip_id"], r["ts"], r["event_id"], r["value"])
             for r in all_rows],
            self.WIRE,
        ).withColumn(
            "ts", F.timestamp_micros(F.col("ts"))
        ).dropDuplicates(["side", "trip_id", "ts", "event_id"])
        want = {
            (r["trip_id"], r["start_event_id"], r["end_event_id"],
             r["start_rank"], r["end_rank"])
            for r in serve(batch_df).collect()
        }
        assert got == want

    def test_stateful_cap_to_join_chaining_still_blocked(
        self, spark, tmp_path
    ):
        """Falsifiability pin for the merge-on-read design decision:
        if Spark ever ACCEPTS applyInPandasWithState upstream of a
        stream-stream join, this fails loudly so the native capped
        twin gets (re)considered. The block is the global-watermark
        correctness check — and it is RIGHT: an exact event-time rank
        emits rows already behind the watermark, which the join would
        drop as late."""
        src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
        _write_batch(src, "b0.json", [self._row("start", "k", 0, 1)])
        wire = decode_event_times(
            read_wire_stream(spark, src, self.WIRE), ["ts"]
        ).drop("_corrupt_record")

        def passthrough(key, pdfs, state):
            yield from pdfs

        capped = (
            wire.withWatermark("ts", "1 hour")
            .groupBy("trip_id")
            .applyInPandasWithState(
                passthrough,
                "trip_id string, ts timestamp, event_id long",
                "trip_id string, n int",
                "append",
                "EventTimeTimeout",
            )
        )
        other = decode_event_times(
            read_wire_stream(spark, src, self.WIRE), ["ts"]
        ).drop("_corrupt_record").withWatermark("ts", "1 hour")
        j = capped.alias("s").join(
            other.alias("e"),
            (F.col("s.trip_id") == F.col("e.trip_id"))
            & (F.col("e.ts") >= F.col("s.ts")),
            "inner",
        )
        with pytest.raises(Exception, match="correctness|watermark"):
            run_available_now(j.writeStream.format("noop"), ckpt)

    def test_transform_with_state_still_env_blocked(self, spark, tmp_path):
        """transformWithStateInPandas (the API that relaxes stateful
        chaining) is environment-blocked: its driver worker needs
        google.protobuf, broken in this container. If this probe ever
        SUCCEEDS, fail loudly — build the native capped twin with it
        (round-8 verdict item #6's preferred form)."""
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            return  # still blocked, merge-on-read stands
        pytest.fail(
            "google.protobuf now importable: re-probe "
            "transformWithStateInPandas chaining and build the native "
            "stream_j1_completion_capped (see "
            "streaming/completion.py::run_capped_completion_log)"
        )


class TestChainedStatefulOps:
    def test_raw_join_hot_key_emits_cross_product(self, spark, tmp_path):
        """Pin the documented hot-key regime: the RAW stream-stream
        join emits m*n matches for a key with m starts and n ends
        inside the bound (the sf32 sweep's ~2e9-row FAIL is this, by
        generator construction). The production composition —
        deduped_completion_stream / stream_chained_dedup_join — caps
        it at 1; the next test pins that side."""
        s_src, e_src, out, ckpt = _dirs(tmp_path, "s", "e", "out", "ckpt")
        s_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("pickup_datetime", T.LongType()),
            ]
        )
        e_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("dropoff_datetime", T.LongType()),
            ]
        )
        m, n = 3, 4
        _write_batch(
            s_src,
            "b.json",
            [
                {"trip_id": "hot", "pickup_datetime": T0 + i * 60_000_000}
                for i in range(m)
            ],
        )
        _write_batch(
            e_src,
            "b.json",
            [
                {
                    "trip_id": "hot",
                    "dropoff_datetime": T0 + US_PER_HOUR + j * 60_000_000,
                }
                for j in range(n)
            ],
        )
        starts = decode_event_times(
            read_wire_stream(spark, s_src, s_schema), ["pickup_datetime"]
        ).drop("_corrupt_record")
        ends = decode_event_times(
            read_wire_stream(spark, e_src, e_schema), ["dropoff_datetime"]
        ).drop("_corrupt_record")
        joined = streaming_completed_trips(starts, ends, within="4 hours")
        run_completion_join(joined, out_dir=out, checkpoint_dir=ckpt)
        assert spark.read.parquet(out).count() == m * n

    def test_dedup_then_join_in_one_query_drops_duplicates(
        self, spark, tmp_path
    ):
        s_src, e_src, out, ckpt = _dirs(tmp_path, "s", "e", "out", "ckpt")
        s_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("pickup_datetime", T.LongType()),
            ]
        )
        e_schema = T.StructType(
            [
                T.StructField("trip_id", T.StringType()),
                T.StructField("dropoff_datetime", T.LongType()),
                T.StructField("fare_amount", T.DoubleType()),
            ]
        )
        # identical-payload duplicates: survivor choice is immaterial,
        # so the chained result is deterministic
        start_row = {"trip_id": "t1", "pickup_datetime": T0}
        end_row = {
            "trip_id": "t1",
            "dropoff_datetime": T0 + US_PER_HOUR,
            "fare_amount": 8.0,
        }
        _write_batch(s_src, "b.json", [start_row, dict(start_row)])
        _write_batch(e_src, "b.json", [end_row, dict(end_row)])
        starts = decode_event_times(
            read_wire_stream(spark, s_src, s_schema), ["pickup_datetime"]
        ).drop("_corrupt_record")
        ends = decode_event_times(
            read_wire_stream(spark, e_src, e_schema), ["dropoff_datetime"]
        ).drop("_corrupt_record")
        joined = deduped_completion_stream(starts, ends, within="4 hours")
        run_completion_join(joined, out_dir=out, checkpoint_dir=ckpt)
        rows = spark.read.parquet(out).collect()
        # without the dedup stage this join would emit 2x2 = 4 matches
        assert len(rows) == 1
        assert rows[0]["trip_id"] == "t1" and rows[0]["fare_amount"] == 8.0


class TestProducerWire:
    def test_to_wire_round_trips_through_from_json(self, spark):
        df = spark.createDataFrame(
            [("t1", 10.5), ("t2", 20.0)], ["trip_id", "fare"]
        )
        wire = to_wire(df, "trip_id")
        assert wire.columns == ["key", "value"]
        back = wire.select(
            F.from_json(
                "value", T.StructType().add("trip_id", T.StringType()).add(
                    "fare", T.DoubleType()
                )
            ).alias("p")
        ).select("p.*")
        assert sorted(back.collect()) == sorted(df.collect())


def test_corpus_ingest_filters_and_dedups_across_batches(spark, tmp_path):
    from nsp_bolt_pipeline_spark.registry_streaming import DOC_WIRE_SCHEMA
    from nsp_bolt_pipeline_spark.streaming.ingest import run_corpus_ingest
    from nsp_bolt_pipeline_spark.streaming.replay import dump_json_batches

    clean = "the quick brown fox jumps over the lazy dog near riverbank today"
    loops = ("buy now " * 30).strip()  # fails the dup-2gram threshold
    docs = spark.createDataFrame(
        [
            (1, clean, "en", "s"),
            (2, loops, "en", "s"),          # filtered out
            (3, clean.upper(), "en", "s"),  # dup of 1 after normalization
            (4, clean + " extra words appended here make it different", "en", "s"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    # two SEQUENTIAL availableNow runs sharing one checkpoint — the
    # deterministic way to force batch order (FileStreamSource orders
    # concurrent files by mtime, which is racy): docs 1,2 land first;
    # docs 3,4 arrive in a genuinely later batch, so doc 3 (dup of 1)
    # must be rejected by the bronze fingerprint anti-join
    batch1 = tmp_path / "src" / "b1.json"
    batch1.parent.mkdir()
    dump_json_batches(
        docs.filter(F.col("doc_id") <= 2), str(tmp_path / "d1"), order_cols=["doc_id"]
    )
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "d1" / "part-*.json"))[0], batch1)

    def run():
        stream = spark.readStream.schema(DOC_WIRE_SCHEMA).json(src)
        run_corpus_ingest(stream, bronze_dir=out, checkpoint_dir=ckpt)

    run()
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1]

    dump_json_batches(
        docs.filter(F.col("doc_id") >= 3), str(tmp_path / "d2"), order_cols=["doc_id"]
    )
    shutil.copy(
        glob.glob(str(tmp_path / "d2" / "part-*.json"))[0], tmp_path / "src" / "b2.json"
    )
    run()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 4]


def test_corpus_ingest_bloom_sidecar_routes_and_matches(spark, tmp_path):
    """The Bloom-sidecar path: identical kept set to the unbounded
    anti-join, with the routing stats proving the bound — a batch of
    all-new fingerprints never scans bronze (bloom-negative short
    circuit), while a batch with a true dup probes exactly its
    bloom-positive slice."""
    from nsp_bolt_pipeline_spark.registry_streaming import DOC_WIRE_SCHEMA
    from nsp_bolt_pipeline_spark.streaming.ingest import run_corpus_ingest

    import json as _j

    clean = "the quick brown fox jumps over the lazy dog near riverbank today"
    other = (
        "completely different prose about columnar engines vectorized "
        "execution adaptive planning and shuffle partition sizing"
    )
    third = (
        "yet another unique document mentioning watermarks stateful "
        "sinks checkpoint recovery and exactly once delivery semantics"
    )
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    side, stats = str(tmp_path / "side"), str(tmp_path / "stats")

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(
                    _j.dumps(
                        dict(zip(["doc_id", "text", "lang", "source"], r))
                    )
                    + "\n"
                )

    def run():
        stream = spark.readStream.schema(DOC_WIRE_SCHEMA).json(str(src))
        run_corpus_ingest(
            stream,
            bronze_dir=out,
            checkpoint_dir=ckpt,
            bloom_sidecar_dir=side,
            stats_dir=stats,
        )

    write("b0.json", [(1, clean, "en", "s")])
    run()
    # batch 2: all-new fp -> bloom negative -> bronze never scanned
    write("b1.json", [(5, other, "en", "s")])
    run()
    # batch 3: one dup of doc 1 (normalized), one new -> probed, dup dropped
    write("b2.json", [(7, clean.upper(), "en", "s"), (8, third, "en", "s")])
    run()

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 5, 8]
    st = {
        r["batch_id"]: r for r in spark.read.parquet(stats).collect()
    }
    assert st[1]["bronze_scanned"] is False and st[1]["n_maybe"] == 0
    assert st[2]["bronze_scanned"] is True and st[2]["n_maybe"] >= 1


def _unique_doc(i: int) -> str:
    # >=10 tokens, all 2-grams distinct, word lengths 2-12, no symbols:
    # clears every repetition_passes threshold while staying unique
    return (
        f"document number{i} covers subject{i * 7 + 1} including notes "
        f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} omega{i}"
    )


def _write_doc_batch(src, name: str, ids) -> None:
    import json as _j

    with open(src / name, "w") as f:
        for i in ids:
            f.write(
                _j.dumps(
                    {
                        "doc_id": i,
                        "text": _unique_doc(i),
                        "lang": "en",
                        "source": "s",
                    }
                )
                + "\n"
            )


def _corpus_run(spark, src, out, ckpt, **kw):
    from nsp_bolt_pipeline_spark.registry_streaming import DOC_WIRE_SCHEMA
    from nsp_bolt_pipeline_spark.streaming.ingest import run_corpus_ingest

    stream = spark.readStream.schema(DOC_WIRE_SCHEMA).json(str(src))
    run_corpus_ingest(stream, bronze_dir=out, checkpoint_dir=ckpt, **kw)


def test_corpus_ingest_sized_bloom_beats_saturation(spark, tmp_path):
    """The round-4 weak item: a fixed 4096-bit filter saturates after a
    few thousand fingerprints — every later probe reads bloom-positive
    and every batch silently reverts to the full bronze scan. The
    cardinality-sized filter (bloom_size: ~10 bits/key) keeps the
    bloom-negative skip rate high on the same corpus."""
    n_seed, n_new = 3000, 400

    def routed_maybe(tag, **kw):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        out, ckpt = str(tmp_path / f"out_{tag}"), str(tmp_path / f"ck_{tag}")
        side, stats = str(tmp_path / f"sd_{tag}"), str(tmp_path / f"st_{tag}")
        _write_doc_batch(src, "b0.json", range(n_seed))
        _corpus_run(
            spark, src, out, ckpt,
            bloom_sidecar_dir=side, stats_dir=stats, **kw,
        )
        _write_doc_batch(src, "b1.json", range(10_000, 10_000 + n_new))
        _corpus_run(
            spark, src, out, ckpt,
            bloom_sidecar_dir=side, stats_dir=stats, **kw,
        )
        st = {r["batch_id"]: r for r in spark.read.parquet(stats).collect()}
        assert st[1]["n_winners"] == n_new
        return st[1]["n_maybe"]

    # legacy fixed sizing: ~89% of 4096 bits set after 3000 inserts
    # with k=3 -> the filter claims nearly everything
    saturated = routed_maybe("legacy", bloom_bits=4096, bloom_k=3)
    assert saturated > n_new // 2
    # sized for the corpus (default 1M expected keys at 1% FP): the
    # same all-new batch is almost entirely bloom-negative
    sized = routed_maybe("sized")
    assert sized <= n_new // 20


def test_corpus_ingest_bits_without_rows_is_safe(spark, tmp_path):
    """Replay-safety contract (the sidecar segment is written BEFORE
    the bronze append): bits covering fingerprints that never reached
    bronze — exactly the crash-between-writes state — only produce
    false positives, which the exact verify resolves by inserting the
    rows. The reverse state (rows without bits) would silently
    re-insert duplicates, which is why the write order matters."""
    from nsp_bolt_pipeline_spark.operators.sketches import bloom_build
    from nsp_bolt_pipeline_spark.operators.text import fingerprint

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    side, stats = str(tmp_path / "side"), str(tmp_path / "stats")
    kw = dict(bloom_sidecar_dir=side, stats_dir=stats)
    _write_doc_batch(src, "b0.json", [1])
    _corpus_run(spark, src, out, ckpt, **kw)

    # simulate the crash window: append a segment for doc 99's fp
    # (same sizing as the live sidecar) with NO matching bronze row
    meta = spark.read.parquet(side).select("bits", "k").first()
    orphan = spark.createDataFrame(
        [(_unique_doc(99),)], ["text"]
    ).select(F.lit("all").alias("g"), fingerprint("text").alias("fp"))
    bloom_build(orphan, "g", F.col("fp"), int(meta["k"]), int(meta["bits"])).drop(
        "grp"
    ).select(
        "word",
        "bits32",
        F.lit(int(meta["bits"])).alias("bits"),
        F.lit(int(meta["k"])).alias("k"),
    ).write.mode("append").parquet(side)

    # doc 99 arrives: bloom-positive, exact verify finds no bronze row,
    # row is inserted — no permanent loss from the orphaned bits
    _write_doc_batch(src, "b1.json", [99])
    _corpus_run(spark, src, out, ckpt, **kw)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 99]
    st = {r["batch_id"]: r for r in spark.read.parquet(stats).collect()}
    assert st[1]["n_maybe"] == 1 and st[1]["bronze_scanned"] is True


def test_corpus_ingest_bootstraps_sidecar_on_existing_bronze(spark, tmp_path):
    """Enabling the sidecar on a PRE-EXISTING bronze table must cover
    historical fingerprints: the first batch bootstraps a segment from
    bronze's fp column, so a duplicate of a historical doc is probed
    and rejected instead of bypassing exact verification forever."""
    import json as _j

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    side, stats = str(tmp_path / "side"), str(tmp_path / "stats")
    # run 1: NO sidecar — bronze accumulates docs 1 and 2
    _write_doc_batch(src, "b0.json", [1, 2])
    _corpus_run(spark, src, out, ckpt)
    # run 2: sidecar enabled; batch holds a dup of doc 1 (same text,
    # higher id) and a genuinely new doc 3
    with open(src / "b1.json", "w") as f:
        f.write(
            _j.dumps(
                {"doc_id": 7, "text": _unique_doc(1), "lang": "en", "source": "s"}
            )
            + "\n"
        )
        f.write(
            _j.dumps(
                {"doc_id": 3, "text": _unique_doc(3), "lang": "en", "source": "s"}
            )
            + "\n"
        )
    _corpus_run(
        spark, src, out, ckpt, bloom_sidecar_dir=side, stats_dir=stats
    )
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 3]
    st = {r["batch_id"]: r for r in spark.read.parquet(stats).collect()}
    assert st[1]["n_maybe"] >= 1 and st[1]["bronze_scanned"] is True


def test_compact_bloom_sidecar_preserves_routing(spark, tmp_path):
    """Sidecar OPTIMIZE: per-batch segments collapse to one merged
    segment (same bit_or the read-side merge does), routing semantics
    unchanged; a leftover crash state from a previous compaction is
    auto-restored on entry."""
    from nsp_bolt_pipeline_spark.streaming.ingest import compact_bloom_sidecar

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    side, stats = str(tmp_path / "side"), str(tmp_path / "stats")
    kw = dict(bloom_sidecar_dir=side, stats_dir=stats)
    _write_doc_batch(src, "b0.json", range(50))
    _corpus_run(spark, src, out, ckpt, **kw)
    _write_doc_batch(src, "b1.json", range(100, 150))
    _corpus_run(spark, src, out, ckpt, **kw)

    merged_words = (
        spark.read.parquet(side).select("word").distinct().count()
    )
    # crash-state: only the __old copy exists (between the two renames)
    import os as _os

    _os.rename(side, side + "__old")
    n = compact_bloom_sidecar(spark, side)
    assert n == merged_words
    # post-compaction: a dup of a batch-0 doc still probes positive
    # and is rejected; a new doc still routes bloom-negative
    import json as _j

    with open(src / "b2.json", "w") as f:
        f.write(
            _j.dumps(
                {"doc_id": 900, "text": _unique_doc(0), "lang": "en", "source": "s"}
            )
            + "\n"
        )
        f.write(
            _j.dumps(
                {"doc_id": 901, "text": _unique_doc(901), "lang": "en", "source": "s"}
            )
            + "\n"
        )
    _corpus_run(spark, src, out, ckpt, **kw)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 900 not in kept and 901 in kept
    st = {r["batch_id"]: r for r in spark.read.parquet(stats).collect()}
    assert st[2]["n_maybe"] >= 1


def test_bloom_sidecar_mixed_era_segments_read_null_safe(spark, tmp_path):
    """A mixed-era sidecar — legacy segments without bits/k columns
    alongside sized ones (the legacy-constants upgrade path creates
    exactly this) — must not depend on which file Spark samples the
    schema from: meta reads with mergeSchema and coalesces NULL
    bits/k to the legacy constants, and compaction writes an
    explicitly-sized merged segment (upgrading the legacy rows) with
    no NULL sizing."""
    from nsp_bolt_pipeline_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
    )
    from nsp_bolt_pipeline_spark.streaming.ingest import (
        _bloom_sidecar_meta,
        compact_bloom_sidecar,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    side, stats = str(tmp_path / "side"), str(tmp_path / "stats")
    # sized run at exactly the legacy constants (what an upgraded
    # legacy sidecar contains)
    kw = dict(
        bloom_sidecar_dir=side,
        stats_dir=stats,
        bloom_bits=BLOOM_BITS,
        bloom_k=BLOOM_K,
    )
    _write_doc_batch(src, "b0.json", range(40))
    _corpus_run(spark, src, out, ckpt, **kw)
    # forge a pre-sizing-era segment: same words, NO bits/k columns
    legacy = spark.read.parquet(side).select("word", "bits32")
    legacy.write.mode("append").parquet(side)

    assert _bloom_sidecar_meta(spark, side) == (BLOOM_BITS, BLOOM_K)
    n = compact_bloom_sidecar(spark, side)
    compacted = spark.read.parquet(side)
    assert compacted.count() == n
    bad = compacted.filter(
        F.col("bits").isNull()
        | F.col("k").isNull()
        | (F.col("bits") != BLOOM_BITS)
        | (F.col("k") != BLOOM_K)
    ).count()
    assert bad == 0
    # routing still dedups a batch-0 duplicate after the mixed read
    import json as _j

    with open(src / "b1.json", "w") as f:
        f.write(
            _j.dumps(
                {"doc_id": 800, "text": _unique_doc(0), "lang": "en", "source": "s"}
            )
            + "\n"
        )
    _corpus_run(spark, src, out, ckpt, **kw)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 800 not in kept and 0 in kept


class TestStreamingSessions:
    """Watermarked session_window agg: late-event merging and the
    sentinel-flush emission contract (operators.sessions)."""

    SCHEMA = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def _run(self, spark, tmp_path, batches):
        from nsp_bolt_pipeline_spark.operators.sessions import session_agg

        src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
        for i, rows in enumerate(batches):
            _write_batch(src, f"b{i}.json", rows)
        stream = decode_event_times(
            read_wire_stream(spark, src, self.SCHEMA), ["ts"]
        )
        sessions = session_agg(
            stream.withWatermark("ts", "1 hour"),
            keys=["user_id"],
            ts_col="ts",
            gap="2 hours",
            measures={"n_events": F.count("*"), "total": F.sum("value")},
        )
        run_available_now(
            sessions.writeStream.format("parquet").option("path", out), ckpt
        )
        return (
            spark.read.parquet(out)
            .filter(F.col("user_id") >= 0)
            .orderBy("user_id", "session_start")
            .collect()
        )

    def test_flush_sentinel_emits_all_sessions(self, spark, tmp_path):
        # Two sessions for user 1 (gap > 2h splits), one for user 2;
        # the sentinel (user -1, far future) flushes every session.
        rows = [
            {"user_id": 1, "ts": T0, "value": 1.0},
            {"user_id": 1, "ts": T0 + US_PER_HOUR, "value": 2.0},
            {"user_id": 1, "ts": T0 + 10 * US_PER_HOUR, "value": 4.0},
            {"user_id": 2, "ts": T0, "value": 8.0},
            {"user_id": -1, "ts": T0 + 1000 * US_PER_HOUR, "value": 0.0},
        ]
        got = self._run(spark, tmp_path, [rows])
        assert [(r.user_id, r.n_events, r.total) for r in got] == [
            (1, 2, 3.0),
            (1, 1, 4.0),
            (2, 1, 8.0),
        ]

    def test_late_event_merges_into_open_session(self, spark, tmp_path):
        # Batch 2 delivers an event 30 min LATE (event time inside
        # batch 1's span, within the 1 h watermark delay): it must
        # extend user 1's open session, not open a new one.
        b1 = [
            {"user_id": 1, "ts": T0, "value": 1.0},
            {"user_id": 1, "ts": T0 + US_PER_HOUR, "value": 2.0},
        ]
        b2 = [
            {"user_id": 1, "ts": T0 + US_PER_HOUR // 2, "value": 16.0},
            {"user_id": -1, "ts": T0 + 1000 * US_PER_HOUR, "value": 0.0},
        ]
        got = self._run(spark, tmp_path, [b1, b2])
        assert [(r.user_id, r.n_events, r.total) for r in got] == [
            (1, 3, 19.0)
        ]


class TestOuterCompletionRestart:
    """Left-outer stream-stream join: state survives a checkpointed
    restart; unmatched starts emit null-end rows only after the
    watermark passes pickup + within."""

    SCHEMA = T.StructType(
        [
            T.StructField("trip_id", T.StringType()),
            T.StructField("side", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("fare", T.DoubleType()),
        ]
    )

    def _run_once(self, spark, src, out, ckpt):
        from nsp_bolt_pipeline_spark.streaming.completion import (
            run_completion_join,
            streaming_completed_trips,
        )

        stream = decode_event_times(
            read_wire_stream(spark, src, self.SCHEMA), ["ts"]
        )
        starts = stream.filter(F.col("side") == "s").select(
            "trip_id", F.col("ts").alias("pickup_datetime")
        )
        ends = stream.filter(F.col("side") == "e").select(
            "trip_id",
            F.col("ts").alias("dropoff_datetime"),
            F.col("fare").alias("fare_amount"),
        )
        joined = streaming_completed_trips(
            starts,
            ends,
            within="2 hours",
            watermark_delay="1 hour",
            how="left_outer",
        )
        run_completion_join(joined, out_dir=out, checkpoint_dir=ckpt)

    def test_state_survives_restart_then_expires(self, spark, tmp_path):
        src, out, ckpt = _dirs(tmp_path, "src", "out", "ckpt")
        # Run 1: two starts only -> nothing can emit (no matches, and
        # the watermark has not passed any horizon).
        _write_batch(src, "b0.json", [
            {"trip_id": "t1", "side": "s", "ts": T0, "fare": None},
            {"trip_id": "t2", "side": "s", "ts": T0, "fare": None},
        ])
        self._run_once(spark, src, out, ckpt)
        # the sink may write an empty part file; zero ROWS is the claim
        assert spark.read.parquet(out).count() == 0
        # Run 2 (same checkpoint): t1's end arrives in time; t2 never
        # ends. Far-future rows on BOTH sides push the watermark past
        # t2's horizon so its expiry emits with null end columns.
        _write_batch(src, "b1.json", [
            {"trip_id": "t1", "side": "e", "ts": T0 + US_PER_HOUR, "fare": 9.5},
            {"trip_id": "zs", "side": "s", "ts": T0 + 1000 * US_PER_HOUR, "fare": None},
            {"trip_id": "ze", "side": "e", "ts": T0 + 1000 * US_PER_HOUR, "fare": 0.0},
        ])
        self._run_once(spark, src, out, ckpt)
        rows = {
            r.trip_id: r
            for r in spark.read.parquet(out).collect()
            if r.trip_id in ("t1", "t2")
        }
        assert rows["t1"].fare_amount == 9.5
        assert rows["t1"].dropoff_datetime is not None
        assert rows["t2"].dropoff_datetime is None
        assert rows["t2"].fare_amount is None


class TestScd2History:
    """Merge-on-read SCD2: the fragment log must commute under
    micro-batch arrival order (file sources deliver ranges in
    mtime order, which is nondeterministic), and the read-time
    collapse must equal the one-shot batch build."""

    def _events(self, spark):
        import datetime as dt

        rows = []
        attrs = "AABBA" "BBAAB" "AAAAB"  # 15 events, runs split oddly
        for i, a in enumerate(attrs):
            rows.append((i, dt.datetime(2024, 1, 1 + i), 7, a))
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, attr string"
        )

    def _batch_build(self, spark, ev):
        from nsp_bolt_pipeline_spark.operators.scd import scd2_intervals

        return {
            (r["attr"], r["valid_from"], r["version"], r["n_rows"])
            for r in scd2_intervals(
                ev,
                key="user_id",
                attr="attr",
                order_cols=["ts", "event_id"],
                valid_col="ts",
            ).collect()
        }

    def test_fragment_log_commutes_under_arrival_order(self, spark):
        import itertools

        from nsp_bolt_pipeline_spark.streaming.scd2 import (
            batch_to_runs,
            close_intervals,
        )

        ev = self._events(spark)
        want = self._batch_build(spark, ev)
        # three disjoint event-time chunks, all 6 arrival orders
        chunks = [
            ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            for lo, hi in ((0, 5), (5, 10), (10, 15))
        ]
        frags = [
            batch_to_runs(
                c, key="user_id", attr="attr", ts_col="ts", id_col="event_id"
            )
            for c in chunks
        ]
        for order in itertools.permutations(range(3)):
            log = frags[order[0]]
            for i in order[1:]:
                log = log.unionByName(frags[i])
            got = {
                (r["attr"], r["valid_from"], r["version"], r["n_rows"])
                for r in close_intervals(
                    log, key="user_id", attr="attr"
                ).collect()
            }
            assert got == want, f"arrival order {order}"

    def test_compaction_equals_one_shot_collapse(self, spark):
        from nsp_bolt_pipeline_spark.streaming.scd2 import (
            _collapse_runs,
            batch_to_runs,
        )

        ev = self._events(spark)
        a = batch_to_runs(
            ev.filter("event_id < 8"),
            key="user_id", attr="attr", ts_col="ts", id_col="event_id",
        )
        b = batch_to_runs(
            ev.filter("event_id >= 8"),
            key="user_id", attr="attr", ts_col="ts", id_col="event_id",
        )
        # compact the in-order prefix, then append the next fragment set
        compacted = _collapse_runs(a, key="user_id", attr="attr")
        via_compaction = _collapse_runs(
            compacted.unionByName(b), key="user_id", attr="attr"
        )
        one_shot = _collapse_runs(
            a.unionByName(b), key="user_id", attr="attr"
        )
        assert sorted(map(tuple, via_compaction.collect())) == sorted(
            map(tuple, one_shot.collect())
        )

    def _run_history(self, spark, src, hist, ckpt):
        from nsp_bolt_pipeline_spark.streaming.scd2 import run_scd2_history

        wire = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("attr", T.StringType()),
            ]
        )
        stream = decode_event_times(
            read_wire_stream(spark, src, wire), ["ts"]
        )
        return run_scd2_history(
            stream,
            history_root=hist,
            checkpoint_dir=ckpt,
            key="user_id",
            attr="attr",
            ts_col="ts",
            id_col="event_id",
        )

    def test_compact_history_preserves_serving_view(self, spark, tmp_path):
        """On-disk compaction: fragment count shrinks, superseded
        version dirs are pruned, the compacted version keeps the
        newest version NUMBER (so the next micro-batch still builds on
        it), and close_intervals serves identical history."""
        import os

        from nsp_bolt_pipeline_spark.streaming.scd2 import (
            close_intervals,
            compact_history,
        )

        src, hist, ckpt = _dirs(tmp_path, "src", "hist", "ckpt")
        day = 24 * US_PER_HOUR
        attrs = "AABBABBAAB"
        # two batches split inside runs -> boundary fragments exist
        for b, rng in enumerate((range(0, 6), range(6, 10))):
            _write_batch(
                src,
                f"b{b}.json",
                [
                    {"event_id": i, "ts": T0 + i * day, "user_id": 7,
                     "attr": attrs[i]}
                    for i in rng
                ],
            )
            newest = self._run_history(spark, src, hist, ckpt)

        before = close_intervals(
            spark.read.parquet(newest), key="user_id", attr="attr"
        ).collect()
        n_frag_before = spark.read.parquet(newest).count()
        out = compact_history(
            spark, hist, key="user_id", attr="attr"
        )
        assert out == newest  # version number survives compaction
        assert [d for d in os.listdir(hist) if d.startswith("v=")] == [
            os.path.basename(out)
        ]
        n_frag_after = spark.read.parquet(out).count()
        assert n_frag_after < n_frag_before
        after = close_intervals(
            spark.read.parquet(out), key="user_id", attr="attr"
        ).collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))
        # ingest continues on the compacted log: a third batch builds
        # on it (latest-version fallback, not blind batch_id-1)
        _write_batch(
            src,
            "b2.json",
            [{"event_id": 10, "ts": T0 + 10 * day, "user_id": 7,
              "attr": "A"}],
        )
        newest = self._run_history(spark, src, hist, ckpt)
        final = close_intervals(
            spark.read.parquet(newest), key="user_id", attr="attr"
        ).collect()
        assert sum(r["n_rows"] for r in final) == 11

    def test_compact_history_restores_interrupted_swap(self, spark, tmp_path):
        """A crash between compaction's two renames leaves only the
        ``old_v<N>`` copy — the next compact_history call must restore
        it before proceeding, so serving never silently builds on an
        older (truncated) version."""
        import os

        from nsp_bolt_pipeline_spark.streaming.scd2 import (
            close_intervals,
            compact_history,
        )

        src, hist, ckpt = _dirs(tmp_path, "src", "hist", "ckpt")
        day = 24 * US_PER_HOUR
        for b, rng in enumerate((range(0, 6), range(6, 10))):
            _write_batch(
                src,
                f"b{b}.json",
                [
                    {"event_id": i, "ts": T0 + i * day, "user_id": 7,
                     "attr": "AABBABBAAB"[i]}
                    for i in rng
                ],
            )
            newest = self._run_history(spark, src, hist, ckpt)
        before = close_intervals(
            spark.read.parquet(newest), key="user_id", attr="attr"
        ).collect()
        # simulate the crash window: v=N renamed away, tmp half-state
        n = os.path.basename(newest).split("=", 1)[1]
        os.rename(newest, os.path.join(hist, f"old_v{n}"))
        os.makedirs(os.path.join(hist, "compact_tmp"), exist_ok=True)
        out = compact_history(spark, hist, key="user_id", attr="attr")
        assert out == newest  # restored under its own version number
        dirs_left = sorted(os.listdir(hist))
        assert f"old_v{n}" not in dirs_left
        assert "compact_tmp" not in dirs_left
        after = close_intervals(
            spark.read.parquet(out), key="user_id", attr="attr"
        ).collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    def test_boundary_run_merges_with_counts(self, spark):
        from nsp_bolt_pipeline_spark.streaming.scd2 import (
            batch_to_runs,
            close_intervals,
        )

        ev = self._events(spark)
        # split INSIDE the trailing AAAA run: fragments must merge
        a = batch_to_runs(
            ev.filter("event_id < 12"),
            key="user_id", attr="attr", ts_col="ts", id_col="event_id",
        )
        b = batch_to_runs(
            ev.filter("event_id >= 12"),
            key="user_id", attr="attr", ts_col="ts", id_col="event_id",
        )
        hist = close_intervals(
            a.unionByName(b), key="user_id", attr="attr"
        ).collect()
        runs = sorted(
            (r["version"], r["attr"], r["n_rows"]) for r in hist
        )
        # events 10..13 are A A A A: the split run (10,11 | 12,13)
        # must come back as ONE 4-row A interval, version 7 of 8
        assert (7, "A", 4) in runs
        assert len(runs) == 8


class TestPitEnrichSnapshot:
    """The PIT serving join's static-side contract: publish the SCD2
    history to parquet first (stream-static joins re-execute the
    static plan per micro-batch), and let the snapshot's honest file
    stats drive the broadcast decision — a forced hint OOMed the
    6 GiB sweep JVM at sf16 where the history outgrew the heap."""

    def _frames(self, spark):
        import datetime as dt

        d = dt.datetime
        hist = spark.createDataFrame(
            [
                (1, "A", d(2020, 1, 1), d(2020, 3, 1), 1),
                (1, "B", d(2020, 3, 1), None, 2),
                (2, "C", d(2020, 2, 1), None, 1),
            ],
            "k int, attr string, valid_from timestamp, "
            "valid_to timestamp, version int",
        )
        facts = spark.createDataFrame(
            [
                (10, d(2020, 2, 15), 1),
                (11, d(2020, 6, 1), 1),
                (12, d(2019, 6, 1), 1),
                (13, d(2020, 6, 1), 2),
                (14, d(2020, 6, 1), 3),
            ],
            "event_id int, ts timestamp, k int",
        )
        return facts, hist

    def test_snapshot_reads_back_as_bare_scan(self, spark, tmp_path):
        from pyspark.sql.window import Window

        from nsp_bolt_pipeline_spark.streaming.enrich import (
            publish_dimension_snapshot,
        )

        _, hist = self._frames(spark)
        # a live lineage with a window build must not survive into
        # the read-back: per-batch re-execution would pay it N times
        lineage = hist.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("k").orderBy("valid_from")
            ),
        )
        snap = publish_dimension_snapshot(
            lineage, str(tmp_path / "dim"), spark=spark
        )
        assert snap.inputFiles(), "snapshot must be file-backed"
        plan = snap._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert snap.count() == 3

    def test_pit_parity_and_stats_driven_broadcast(self, spark, tmp_path):
        from nsp_bolt_pipeline_spark.operators.scd import (
            point_in_time_join,
        )
        from nsp_bolt_pipeline_spark.streaming.enrich import (
            enrich_stream_point_in_time,
            publish_dimension_snapshot,
        )

        facts, hist = self._frames(spark)
        snap = publish_dimension_snapshot(
            hist, str(tmp_path / "dim"), spark=spark
        )
        want = sorted(
            (r["event_id"], r["dim_attr"], r["dim_version"])
            for r in point_in_time_join(
                facts, hist, key="k", fact_ts="ts"
            ).collect()
        )

        def run_and_plan():
            j = enrich_stream_point_in_time(
                facts, snap, key="k", event_ts="ts"
            )
            got = sorted(
                (r["event_id"], r["dim_attr"], r["dim_version"])
                for r in j.collect()
            )
            return got, j._jdf.queryExecution().executedPlan().toString()

        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # small snapshot under the threshold: Catalyst broadcasts
            got, plan = run_and_plan()
            assert got == want
            assert "BroadcastHashJoin" in plan
            # history over the threshold: no forced hint, so the plan
            # degrades to a shuffle join instead of OOMing the build
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            got, plan = run_and_plan()
            assert got == want
            assert "BroadcastHashJoin" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    def test_bucketed_snapshot_join_reads_buckets_directly(self, spark):
        from nsp_bolt_pipeline_spark.operators.scd import (
            point_in_time_join,
        )
        from nsp_bolt_pipeline_spark.streaming.enrich import (
            enrich_stream_point_in_time,
            publish_dimension_snapshot_bucketed,
        )

        facts, hist = self._frames(spark)
        table = "pit_dim_bucketed_test"
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            snap = publish_dimension_snapshot_bucketed(
                hist, table, bucket_by="k", n_buckets=4, spark=spark
            )
            # force the over-threshold regime: the dimension must ride
            # its bucketed layout, not a broadcast
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = enrich_stream_point_in_time(
                facts, snap, key="k", event_ts="ts"
            )
            got = sorted(
                (r["event_id"], r["dim_attr"], r["dim_version"])
                for r in j.collect()
            )
            want = sorted(
                (r["event_id"], r["dim_attr"], r["dim_version"])
                for r in point_in_time_join(
                    facts, hist, key="k", fact_ts="ts"
                ).collect()
            )
            assert got == want
            # AQE prints "Final Plan" then "Initial Plan"; scope the
            # shape assertions to the final one
            plan = (
                j._jdf.queryExecution().executedPlan().toString()
            ).split("== Initial Plan ==")[0]
            assert "SortMergeJoin" in plan
            assert plan.count("Bucketed: true") == 1
            # exactly one hash exchange — the fact side shuffling to
            # bucket granularity; the dimension is read
            # pre-partitioned from its buckets, never re-shuffled
            assert plan.count("Exchange hashpartitioning") == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_broadcast_dim_false_declines_auto_broadcast(
        self, spark, tmp_path
    ):
        """broadcast_dim=False must be behaviorally distinct from None
        (round-7 advice): even UNDER autoBroadcastJoinThreshold, False
        pins MERGE so a bucketed dim rides its layout — Catalyst would
        otherwise auto-broadcast the tiny dimension."""
        from nsp_bolt_pipeline_spark.streaming.enrich import (
            enrich_stream,
            enrich_stream_point_in_time,
            publish_dimension_snapshot,
        )

        facts, hist = self._frames(spark)
        # published snapshot: honest file stats, well under the
        # broadcast threshold — the regime where None and False differ
        dim = publish_dimension_snapshot(
            hist.select("k", "attr"), str(tmp_path / "dim"), spark=spark
        )
        j = enrich_stream(facts, dim, on=["k"], broadcast_dim=False)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan
        # the tiny stats-carrying dim broadcasts when the hint is
        # absent — the distinction False exists to draw
        j_none = enrich_stream(facts, dim, on=["k"])
        assert "BroadcastHashJoin" in (
            j_none._jdf.queryExecution().executedPlan().toString()
        )
        pit = enrich_stream_point_in_time(
            facts, hist, key="k", event_ts="ts", broadcast_dim=False
        )
        pit_plan = pit._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in pit_plan

    def test_bucketed_publisher_database_namespacing(self, spark):
        """Two pipelines publishing the same table name under
        different databases must not clobber each other (round-7
        advice: the managed-table publish is single-writer per name)."""
        from nsp_bolt_pipeline_spark.streaming.enrich import (
            publish_dimension_snapshot_bucketed,
        )

        _, hist = self._frames(spark)
        a = hist.filter(F.col("k") == 1)
        b = hist.filter(F.col("k") == 2)
        try:
            snap_a = publish_dimension_snapshot_bucketed(
                a, "dim_snap", bucket_by="k", n_buckets=2,
                database="nsp_ns_a", spark=spark,
            )
            snap_b = publish_dimension_snapshot_bucketed(
                b, "dim_snap", bucket_by="k", n_buckets=2,
                database="nsp_ns_b", spark=spark,
            )
            assert snap_a.count() == 2 and snap_b.count() == 1
            # re-read A: B's publish under the same bare name did not
            # overwrite it
            assert spark.table("nsp_ns_a.dim_snap").count() == 2
        finally:
            for ns in ("nsp_ns_a", "nsp_ns_b"):
                spark.sql(f"DROP TABLE IF EXISTS {ns}.dim_snap")
                spark.sql(f"DROP DATABASE IF EXISTS {ns}")


def test_available_now_run_has_one_home():
    """Every engine stream runs through streaming.run.run_available_now:
    the availableNow trigger is spelled exactly once in the package, in
    that helper, so the run contract cannot drift between call sites."""
    import ast
    from pathlib import Path

    import nsp_bolt_pipeline_spark

    root = Path(nsp_bolt_pipeline_spark.__file__).parent
    hits = [
        (path.relative_to(root).as_posix(), lineno)
        for path in sorted(root.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "trigger(availableNow=True)" in line
    ]
    assert [h[0] for h in hits] == ["streaming/run.py"], hits
    tree = ast.parse((root / "streaming/run.py").read_text())
    (helper,) = [
        node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == "run_available_now"
    ]
    assert helper.lineno <= hits[0][1] <= helper.end_lineno
    assert [a.arg for a in helper.args.args] == ["writer", "checkpoint_dir"]


def test_pandas_state_operators_are_the_known_two():
    """applyInPandasWithState runs Python once per key per micro-batch.
    Only the per-user EWMA and the daily bottom-k still need it; the
    debounce and the trip lifecycle run on built-in stateful operators,
    and a new call site must not slip in unnoticed."""
    import ast
    from pathlib import Path

    import nsp_bolt_pipeline_spark

    root = Path(nsp_bolt_pipeline_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            hits.extend(
                (path.relative_to(root).as_posix(), getattr(top, "name", None))
                for node in ast.walk(top)
                if isinstance(node, ast.Attribute)
                and node.attr == "applyInPandasWithState"
            )
    assert hits == [
        ("streaming/decay.py", "track_user_ewma"),
        ("streaming/sampler.py", "track_daily_bottomk"),
    ], hits
