"""Streaming oracle queries: each runs a real Structured Streaming
query to completion (``streaming.run.run_available_now``) over a
deterministic JSON dump of the ``events`` table, then returns the
materialized sink for the driver's DuckDB hash compare. Streaming
result ≡ batch result is the whole point (SURVEY.md §2.8): the same
oracle that verifies the batch operator verifies its streaming form.

Determinism: the dump is ordered by (ts, event_id) into range-
partitioned files (streaming.replay), timestamps ride the wire as
epoch-micros (bit-exact round-trip), and each availableNow run
processes the dump as one micro-batch, so ``min_by`` dedup picks the
same winners the batch oracle's ``row_number() = 1`` does.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.pipeline import (
    END_EVENT,
    START_EVENT,
    events_as_trip_streams,
    trip_daily_kpis,
)
from nsp_bolt_pipeline_spark.registry import (
    SCALE_WALLS,
    _J1_CAPPED_ORACLE,
    _TRIP_KPI_ORACLE,
    _r2,
    _round2,
    _stable_avg,
    query,
)
from nsp_bolt_pipeline_spark.sources.readers import read_table
from nsp_bolt_pipeline_spark.streaming.completion import (
    deduped_completion_stream,
    run_completion_join,
    streaming_completed_trips,
)
from nsp_bolt_pipeline_spark.streaming.ingest import (
    read_wire_stream,
    run_ingest,
    run_silver_upsert,
)
from nsp_bolt_pipeline_spark.streaming.kpi import (
    run_windowed_kpis,
    windowed_daily_kpis,
)
from nsp_bolt_pipeline_spark.operators.dedup import first_write_wins
from nsp_bolt_pipeline_spark.streaming.replay import (
    decode_event_times,
    dump_json_batches,
    encode_event_times,
)
from nsp_bolt_pipeline_spark.streaming.run import run_available_now
from nsp_bolt_pipeline_spark.streaming.trip_state import track_trip_lifecycle

#: events wire schema: ts travels as epoch-micros (see module docstring).
EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: variant for the DLQ demo: value arrives as a *string* wire field.
EVENT_WIRE_SCHEMA_STR_VALUE = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("props", T.StringType()),
    ]
)


#: every wire/output/checkpoint workdir this process created — at
#: sf0.01 they are MBs, but a scale sweep leaks GBs per stream entry
#: (round 8: 259 dirs / ~67 GB filled /tmp at sf16 and six entries
#: died on ENOSPC). Harnesses call :func:`cleanup_workdirs` between
#: entries (safe once the entry's output is materialized); atexit
#: covers every other exit path.
_WORKDIRS: list[str] = []


def _workdir(tag: str) -> dict[str, str]:
    base = tempfile.mkdtemp(prefix=f"nsp_{tag}_")
    _WORKDIRS.append(base)
    return {
        d: os.path.join(base, d) for d in ("src", "out", "dlq", "ckpt", "dim")
    }


def cleanup_workdirs() -> None:
    """Remove every workdir created so far by this process's stream
    entries. Only call after the current entry's result has been
    fully materialized (collected / noop-written): the returned
    DataFrame lazily reads the workdir's output parquet."""
    import shutil

    while _WORKDIRS:
        shutil.rmtree(_WORKDIRS.pop(), ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(cleanup_workdirs)


def _wire_fanout(spark: SparkSession) -> int:
    """File fan-out for single-batch replay dumps: every consumer of
    :func:`_dump_events_df` reads the dump back WITHOUT
    ``maxFilesPerTrigger``, so the whole dump is ONE availableNow
    micro-batch no matter how many part files it holds — file count
    cannot change batch boundaries or any stateful fold. The fan-out
    parallelizes the JSON encode + write (guide §2.6: an n_files=1
    dump funnels the whole wire through one task); capped so the file
    source never pays a thousands-of-tiny-files listing."""
    return max(1, min(16, spark.sparkContext.defaultParallelism))


def _dump_events_df(ev: DataFrame, out_dir: str) -> None:
    cols = [c for c in ("event_id", "ts", "user_id", "event_type", "value", "props") if c in ev.columns]
    wire = encode_event_times(ev.select(*cols), ["ts"])
    order = [c for c in ("ts", "event_id") if c in cols]
    dump_json_batches(
        wire, out_dir, order_cols=order,
        n_files=_wire_fanout(ev.sparkSession),
    )


def _dump_events(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    _dump_events_df(read_table(spark, sf_dir, "events"), out_dir)


#: Target bytes per micro-batch shuffle partition. AQE is disabled in
#: micro-batch plans, so a streaming query pays the session's FULL
#: ``spark.sql.shuffle.partitions`` in shuffle tasks, state-store
#: opens/commits and sink files on EVERY micro-batch no matter how
#: small the batch is. The replay harness derives the partition count
#: from the measured wire size instead — the same
#: bytes-per-partition sizing AQE coalescing applies to batch plans
#: (guide §2.2: fewer, larger partitions) — clamped to the session
#: setting, which stays the cluster-scale ceiling.
_REPLAY_PARTITION_BYTES = 32 << 20
_REPLAY_MIN_PARTITIONS = 4


def _wire_bytes(src_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


@_contextmanager
def _replay_shuffle(
    spark: SparkSession, src_dir: str, *, n_batches: int = 1
):
    """Scope ``spark.sql.shuffle.partitions`` to a measured, per-batch
    value for one availableNow replay: ceil(bytes-per-batch / 32 MiB),
    clamped to [{_REPLAY_MIN_PARTITIONS}, session setting]. Restores
    the session value on exit (the serving-view reads after the stream
    run under normal AQE again).

    Only used for replays whose per-row work is JVM-vectorized or
    whose state keys are few: the per-key stateful replays over MANY
    keys (trip lifecycle, per-user EWMA, debounce) keep the session's
    full parallelism instead, since their work follows keys and state,
    not wire bytes, and the EWMA's fold is CPU-bound in the Python
    workers.
    Partition count is semantics-free for every entry here (all
    per-batch reductions are deterministic min_by/window/agg forms),
    which the oracle hash-compares pin."""
    import math

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_batch = _wire_bytes(src_dir) / max(1, n_batches)
    parts = max(
        min(_REPLAY_MIN_PARTITIONS, cap),
        min(cap, math.ceil(per_batch / _REPLAY_PARTITION_BYTES)),
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _event_stream(spark: SparkSession, src: str, schema=EVENT_WIRE_SCHEMA) -> DataFrame:
    return decode_event_times(read_wire_stream(spark, src, schema), ["ts"])


# ---------------------------------------------------------------------------
# Streaming D1/D2 + S4: ingest -> validate -> dedup -> bronze, verified
# against the same oracle as the batch d1_first_write_wins.
# ---------------------------------------------------------------------------


@query(
    "stream_d1_ingest_dedup",
    """
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_d1")
    _dump_events(spark, sf_dir, dirs["src"])
    with _replay_shuffle(spark, dirs["src"]):
        run_ingest(
            _event_stream(spark, dirs["src"]),
            bronze_dir=dirs["out"],
            dlq_dir=dirs["dlq"],
            checkpoint_dir=dirs["ckpt"],
            required={"user_id": "long", "event_type": "string", "event_id": "long"},
            optional={"value": "double"},
            dedup_keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
            partition_cols=["event_type"],
            # horizon-bounded cross-batch dedup: bronze is partitioned
            # by event_date and the per-batch key anti-join scan is
            # pruned to the horizon (fixture spans ~30 days, so 40
            # keeps semantics identical to the unbounded oracle under
            # any batching)
            dedup_ts_col="ts",
            dedup_horizon_days=40,
        )
    return spark.read.parquet(dirs["out"]).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )


# ---------------------------------------------------------------------------
# Horizon-bounded cross-batch dedup, the semantics pinned end to end:
# one micro-batch per event DAY arriving in order (explicit ascending
# mtimes), dedup horizon = 7 days. A key's later event is suppressed
# only while a KEPT row sits within the horizon of its batch's day —
# beyond it, the bronze partition scan prunes the old row out and the
# event is re-admitted (dropDuplicatesWithinWatermark semantics with
# an auditable parquet trail). The oracle replays the greedy
# keep-if-gap fold per key with a recursive CTE (the t19 pattern):
# kept(i=1); kept(i) iff day_i - last_kept_day > 7.
# ---------------------------------------------------------------------------

_HORIZON_DAYS = 7


@query(
    "stream_d1_horizon_dedup",
    f"""
    WITH RECURSIVE w AS (
        SELECT user_id, event_type, CAST(ts AS DATE) AS d,
               event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type, CAST(ts AS DATE)
                   ORDER BY ts, event_id) AS rnd
        FROM events
    ),
    seq AS (
        SELECT user_id, event_type, d, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY d) AS i
        FROM w WHERE rnd = 1
    ),
    walk(user_id, event_type, i, d, event_id, ts, value,
         kept, last_kept) AS (
        SELECT user_id, event_type, i, d, event_id, ts, value, TRUE, d
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.user_id, s.event_type, s.i, s.d, s.event_id, s.ts,
               s.value,
               s.d - wk.last_kept > {_HORIZON_DAYS},
               CASE WHEN s.d - wk.last_kept > {_HORIZON_DAYS}
                    THEN s.d ELSE wk.last_kept END
        FROM walk wk JOIN seq s
          ON s.user_id = wk.user_id
         AND s.event_type = wk.event_type
         AND s.i = wk.i + 1
    )
    SELECT user_id, event_type, event_id, ts, value
    FROM walk WHERE kept
    """,
)
def q_stream_d1_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-file in-order replay through the horizon-bounded ingest:
    per batch, the bronze key anti-join scans ONLY event_date
    partitions within {_HORIZON_DAYS} days of the batch's day
    (PartitionFilters-pruned — per-trigger cost O(horizon), not
    O(table age)); a key re-admits once its last kept row ages out.
    Day-batch winners are deterministic (min ts, event_id), so the
    whole kept set is the per-key greedy gap fold the oracle walks."""
    dirs = _workdir("stream_d1h")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # one wire file per event day, written with explicit ascending
    # mtimes so the file source triggers them in day order (harness-
    # side replay shaping, same as the DQ-gate entry)
    wire_rows = encode_event_times(ev, ["ts"]).collect()
    by_day: dict[int, list] = {}
    for r in wire_rows:
        by_day.setdefault(int(r["ts"]) // 86_400_000_000, []).append(r)
    os.makedirs(dirs["src"], exist_ok=True)
    base_mtime = 1_700_000_000
    for i, day in enumerate(sorted(by_day)):
        rows = sorted(
            by_day[day], key=lambda r: (int(r["ts"]), int(r["event_id"]))
        )
        path = os.path.join(dirs["src"], f"day_{i:03d}.json")
        with open(path, "w") as f:
            for r in rows:
                f.write(_json.dumps(r.asDict()) + "\n")
        os.utime(path, (base_mtime + i, base_mtime + i))
    stream = _event_stream_max1(spark, dirs["src"])
    with _replay_shuffle(spark, dirs["src"], n_batches=len(by_day)):
        run_ingest(
            stream,
            bronze_dir=dirs["out"],
            dlq_dir=dirs["dlq"],
            checkpoint_dir=dirs["ckpt"],
            required={"user_id": "long", "event_type": "string", "event_id": "long"},
            optional={"value": "double"},
            dedup_keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
            partition_cols=["event_type"],
            dedup_ts_col="ts",
            dedup_horizon_days=_HORIZON_DAYS,
        )
    return spark.read.parquet(dirs["out"]).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )


def _event_stream_max1(spark: SparkSession, src: str) -> DataFrame:
    return decode_event_times(
        read_wire_stream(
            spark, src, EVENT_WIRE_SCHEMA, max_files_per_trigger=1
        ),
        ["ts"],
    )


# ---------------------------------------------------------------------------
# Streaming S8: the DLQ side. Every ~97th event's wire value is
# corrupted to a non-numeric string; the required-double coercion fails
# and the row must land in the DLQ, not bronze.
# ---------------------------------------------------------------------------


@query(
    "stream_s8_dlq_split",
    """
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id % 97 = 0
    """,
)
def q_stream_s8(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_s8")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.lit("not-a-number"))
        .otherwise(F.col("value").cast("string"))
        .alias("value"),
        "props",
    )
    dump_json_batches(
        encode_event_times(ev, ["ts"]), dirs["src"], order_cols=["ts", "event_id"]
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_ingest(
            _event_stream(spark, dirs["src"], EVENT_WIRE_SCHEMA_STR_VALUE),
            bronze_dir=dirs["out"],
            dlq_dir=dirs["dlq"],
            checkpoint_dir=dirs["ckpt"],
            required={
                "user_id": "long",
                "event_type": "string",
                "event_id": "long",
                "value": "double",
            },
            dedup_keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
        )
    return spark.read.parquet(dirs["dlq"]).select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# Streaming A1: tumbling 1-day window KPI — same oracle as the batch
# a1_daily_kpi_agg (windows align to UTC midnight = the date grain).
# ---------------------------------------------------------------------------


@query(
    "stream_a1_windowed_kpi",
    f"""
    SELECT date, total_fare, count_trips,
           FLOOR((total_fare / count_trips)*100 + 0.5)/100 AS average_fare,
           max_fare, min_fare
    FROM (
        SELECT CAST(ts AS DATE) AS date,
               FLOOR((SUM(value))*100 + 0.5)/100 AS total_fare,
               COUNT(*) AS count_trips,
               MAX(value) AS max_fare,
               MIN(value) AS min_fare
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY 1
    )
    """,
)
def q_stream_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_a1")
    _dump_events(spark, sf_dir, dirs["src"])
    ends = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == END_EVENT)
        .select(
            F.col("ts").alias("dropoff_datetime"),
            F.col("value").alias("fare_amount"),
            F.col("event_id").alias("trip_id"),
        )
    )
    kpis = windowed_daily_kpis(ends)
    with _replay_shuffle(spark, dirs["src"]):
        run_windowed_kpis(kpis, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"])
    out = spark.read.parquet(dirs["out"])
    return _stable_avg(_round2(out, ["total_fare"])).select(
        "date", "total_fare", "count_trips", "average_fare", "max_fare", "min_fare"
    )


# ---------------------------------------------------------------------------
# The full reference architecture, end to end: streaming ingest
# (validate -> dedup -> bronze) followed by the batch gold job
# (completion join -> daily KPIs) over the bronze table — verified
# against the same oracle as the all-batch flagship. This is the
# deployment shape the reference actually runs (Lambdas feed DynamoDB
# continuously; Glue aggregates nightly), with Spark in both roles.
# ---------------------------------------------------------------------------


@query("stream_flagship_pipeline", _TRIP_KPI_ORACLE)
def q_stream_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_flagship")
    _dump_events(spark, sf_dir, dirs["src"])
    with _replay_shuffle(spark, dirs["src"]):
        run_ingest(
            _event_stream(spark, dirs["src"]),
            bronze_dir=dirs["out"],
            dlq_dir=dirs["dlq"],
            checkpoint_dir=dirs["ckpt"],
            required={"user_id": "long", "event_type": "string", "event_id": "long"},
            optional={"value": "double"},
            dedup_keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
            partition_cols=["event_type"],
            dedup_ts_col="ts",
            dedup_horizon_days=40,
        )
    bronze = spark.read.parquet(dirs["out"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    starts, ends = events_as_trip_streams(bronze)
    # bronze is already first-write-wins-deduped by the ingest;
    # trip_daily_kpis' own dedup is then a no-op pass-through, reused
    # for exact code parity with the batch flagship.
    return _stable_avg(_round2(trip_daily_kpis(starts, ends), ["total_fare"]))


# ---------------------------------------------------------------------------
# Chained stateful operators in ONE streaming query: watermarked
# dedup on both sides feeding the stream-stream completion join.
# The dump is pre-deduped (rn = 1 per side) so the within-batch
# survivor choice is immaterial and the chained result is exactly the
# deduped bounded join — the oracle d1+j1 semantics in one query.
# ---------------------------------------------------------------------------

_CHAINED_ORACLE = f"""
WITH starts AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS pickup_datetime,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{START_EVENT}'
), ends AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS dropoff_datetime,
           value AS fare_amount,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{END_EVENT}'
)
SELECT s.trip_id, s.pickup_datetime, e.dropoff_datetime, e.fare_amount
FROM starts s JOIN ends e ON s.trip_id = e.trip_id
WHERE s.rn = 1 AND e.rn = 1
  AND e.dropoff_datetime >= s.pickup_datetime
  AND e.dropoff_datetime <= s.pickup_datetime + INTERVAL 7 DAY
"""


@query("stream_chained_dedup_join", _CHAINED_ORACLE)
def q_stream_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_chained")
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(START_EVENT, END_EVENT)
    )
    deduped = first_write_wins(
        ev, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    _dump_events_df(deduped, dirs["src"])
    starts = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == START_EVENT)
        .select(
            F.col("user_id").cast("string").alias("trip_id"),
            F.col("ts").alias("pickup_datetime"),
        )
    )
    ends = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == END_EVENT)
        .select(
            F.col("user_id").cast("string").alias("trip_id"),
            F.col("ts").alias("dropoff_datetime"),
            F.col("value").alias("fare_amount"),
        )
    )
    joined = deduped_completion_stream(
        starts, ends, within="7 days", watermark_delay="1 hour"
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_completion_join(joined, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"])
    return spark.read.parquet(dirs["out"]).select(
        "trip_id", "pickup_datetime", "dropoff_datetime", "fare_amount"
    )


# ---------------------------------------------------------------------------
# Per-trip lifecycle with timeout emission (watermarked dedup plus a
# left-outer stream-stream join). Input is pre-deduped to one
# start/end per trip, which makes the output SQL-expressible; the
# oracle replicates the horizon check in exact microseconds and the
# expiry rule (an unmatched start is emitted when watermark_ms =
# max_event_ms - delay_ms strictly exceeds start_ms + timeout_ms).
# Trips still open at end-of-stream are, correctly, absent from both
# sides.
# ---------------------------------------------------------------------------

_LIFECYCLE_TIMEOUT_MS = 48 * 3600 * 1000
_LIFECYCLE_DELAY_MS = 3600 * 1000

_LIFECYCLE_ORACLE = f"""
WITH starts AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{START_EVENT}'
), ends AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{END_EVENT}'
), s AS (SELECT trip_id, ts FROM starts WHERE rn = 1),
e AS (SELECT trip_id, ts, value FROM ends WHERE rn = 1),
wm AS (
    SELECT CAST(FLOOR(epoch_us(max(ts)) / 1000) AS BIGINT)
               - {_LIFECYCLE_DELAY_MS} AS wm_ms
    FROM (SELECT ts FROM s UNION ALL SELECT ts FROM e)
),
completed AS (
    SELECT s.trip_id, 'completed' AS status, s.ts AS pickup_datetime,
           e.ts AS dropoff_datetime, e.value AS fare_amount
    FROM s JOIN e USING (trip_id)
    WHERE epoch_us(e.ts) >= epoch_us(s.ts)
      AND epoch_us(e.ts) <= epoch_us(s.ts)
              + CAST({_LIFECYCLE_TIMEOUT_MS} AS BIGINT) * 1000
),
expired AS (
    SELECT s.trip_id, 'expired' AS status, s.ts AS pickup_datetime,
           CAST(NULL AS TIMESTAMP) AS dropoff_datetime,
           CAST(NULL AS DOUBLE) AS fare_amount
    FROM s, wm
    WHERE s.trip_id NOT IN (SELECT trip_id FROM completed)
      AND wm.wm_ms > CAST(FLOOR(epoch_us(s.ts) / 1000) AS BIGINT)
                         + {_LIFECYCLE_TIMEOUT_MS}
)
SELECT * FROM completed UNION ALL SELECT * FROM expired
"""


@query("stream_trip_lifecycle", _LIFECYCLE_ORACLE)
def q_stream_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_lifecycle")
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(START_EVENT, END_EVENT)
    )
    deduped = first_write_wins(
        ev, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    wire = deduped.select(
        F.col("user_id").cast("string").alias("trip_id"),
        F.when(F.col("event_type") == START_EVENT, "start")
        .otherwise("end")
        .alias("event_type"),
        "ts",
        F.col("value").alias("fare"),
    )
    dump_json_batches(
        encode_event_times(wire, ["ts"]), dirs["src"], order_cols=["ts"]
    )
    schema = T.StructType(
        [
            T.StructField("trip_id", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("fare", T.DoubleType()),
        ]
    )
    stream = decode_event_times(spark.readStream.schema(schema).json(dirs["src"]), ["ts"])
    out = track_trip_lifecycle(stream, timeout_ms=_LIFECYCLE_TIMEOUT_MS)
    run_available_now(
        out.writeStream.format("parquet").option("path", dirs["out"]),
        dirs["ckpt"],
    )
    return spark.read.parquet(dirs["out"]).select(
        "trip_id", "status", "pickup_datetime", "dropoff_datetime", "fare_amount"
    )


# ---------------------------------------------------------------------------
# Streaming J1: stream-stream completion join with a 7-day time bound.
# The oracle gains the bound as a WHERE clause (VERDICT.md item 2); no
# dedup on either side — the join emits every (start, end) match.
# ---------------------------------------------------------------------------

_STREAM_J1_ORACLE = f"""
WITH starts AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS pickup_datetime,
           event_id AS start_event_id
    FROM events WHERE event_type = '{START_EVENT}'
), ends AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS dropoff_datetime,
           value AS fare_amount, event_id AS end_event_id
    FROM events WHERE event_type = '{END_EVENT}'
)
SELECT s.trip_id, s.pickup_datetime, s.start_event_id,
       e.dropoff_datetime, e.fare_amount, e.end_event_id
FROM starts s JOIN ends e ON s.trip_id = e.trip_id
WHERE e.dropoff_datetime >= s.pickup_datetime
  AND e.dropoff_datetime <= s.pickup_datetime + INTERVAL 7 DAY
"""


# Round-7 measured wall: the DATA mandates ~2e9 output rows at sf32
# (hot-key start x end pairs grow quadratically with sf) and the entry
# fails on write volume alone (sweeps/sweep_sf32.0_stream_r7.log) —
# correct behavior on adversarial input. Production twin:
# stream_chained_dedup_join (dedup-before-join, 93.5s clean at sf32).
SCALE_WALLS["stream_j1_completion_join"] = (
    16.0,
    "un-deduped hot-key join output is ~2e9 rows at sf32 (mandated "
    "by the data); production twin stream_chained_dedup_join sweeps "
    "every rung",
)


@query("stream_j1_completion_join", _STREAM_J1_ORACLE)
def q_stream_j1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw (un-deduped) watermarked stream-stream completion join.
    Scale note (round-7 sf8.0 sweep): OUTPUT cardinality is the
    data's start x end pair count per key — on the generator's
    planted hot user (events grow linearly with sf) that is
    quadratic, and join TIME measures 1.88x per 2x step against
    3.83x output growth (sub-output-linear; the oracle pins the same
    rows). At sf32 the mandated output reaches ~2e9 rows and the
    entry FAILs on write volume alone
    (``sweeps/sweep_sf32.0_stream_r7.log``) — correct behavior,
    adversarial input, and the wall any hot trip_id reproduces. The
    bounded production composition is dedup-BEFORE-join:
    ``stream_chained_dedup_join`` (<=1 start/end per key, 1.3x per
    2x, 93.5s clean at sf32); see
    ``streaming.completion.streaming_completed_trips``'s hot-key
    docstring for the full regime."""
    dirs = _workdir("stream_j1")
    _dump_events(spark, sf_dir, dirs["src"])
    starts = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == START_EVENT)
        .select(
            F.col("user_id").cast("string").alias("trip_id"),
            F.col("ts").alias("pickup_datetime"),
            F.col("event_id").alias("start_event_id"),
        )
    )
    ends = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == END_EVENT)
        .select(
            F.col("user_id").cast("string").alias("trip_id"),
            F.col("ts").alias("dropoff_datetime"),
            F.col("value").alias("fare_amount"),
            F.col("event_id").alias("end_event_id"),
        )
    )
    joined = streaming_completed_trips(
        starts, ends, within="7 days", watermark_delay="1 hour"
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_completion_join(
            joined, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"]
        )
    return spark.read.parquet(dirs["out"]).select(
        "trip_id",
        "pickup_datetime",
        "start_event_id",
        "dropoff_datetime",
        "fare_amount",
        "end_event_id",
    )


# ---------------------------------------------------------------------------
# Streaming J1 capped twin (round-8 verdict item #6): per-side rank
# cap BEFORE any join, merge-on-read. Native stateful-cap -> join
# chaining is blocked (correctness checker / broken protobuf — see
# run_capped_completion_log's docstring for both probes), so the
# stream folds the wire into a <=cap-rows-per-(side,key) keeper state
# (top-N is a semilattice: arrival-order-independent) and the serving
# view runs the BATCH completed_trips_capped over that state — the
# same operator, so this entry shares j1_completion_join_capped's
# oracle verbatim.
# ---------------------------------------------------------------------------


@query("stream_j1_completion_capped", _J1_CAPPED_ORACLE)
def q_stream_j1_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-capped streaming completion: cap^2-bounded output per key
    (cap=2, matching the batch twin) with state bounded by the cap
    itself — no watermark, no time bound, O(keys * cap) state. The
    overflow regime and scrambled-arrival convergence are pinned by
    tests/test_streaming.py."""
    from nsp_bolt_pipeline_spark.operators.completion import (  # noqa: PLC0415
        completed_trips_capped,
    )
    from nsp_bolt_pipeline_spark.streaming.completion import (  # noqa: PLC0415
        read_keeper_state,
        run_capped_completion_log,
    )

    dirs = _workdir("stream_j1cap")
    _dump_events(spark, sf_dir, dirs["src"])
    wire = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type").isin(START_EVENT, END_EVENT))
        .select(
            F.when(F.col("event_type") == START_EVENT, F.lit("start"))
            .otherwise(F.lit("end"))
            .alias("side"),
            F.col("user_id").cast("string").alias("trip_id"),
            "ts",
            "event_id",
            "value",
        )
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_capped_completion_log(
            wire,
            state_root=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            key="trip_id",
            order_cols=("ts", "event_id"),
            max_rows_per_key=2,
        )
    state = read_keeper_state(spark, dirs["out"])
    starts = state.filter(F.col("side") == "start").select(
        "trip_id",
        F.col("ts").alias("pickup_datetime"),
        F.col("event_id").alias("start_event_id"),
    )
    ends = state.filter(F.col("side") == "end").select(
        "trip_id",
        F.col("ts").alias("dropoff_datetime"),
        F.col("value").alias("fare_amount"),
        F.col("event_id").alias("end_event_id"),
    )
    return completed_trips_capped(
        starts,
        ends,
        max_rows_per_key=2,
        start_order=["pickup_datetime", "start_event_id"],
        end_order=["dropoff_datetime", "end_event_id"],
    ).select(
        "trip_id", "pickup_datetime", "start_rank",
        "dropoff_datetime", "fare_amount", "end_rank",
    )


# ---------------------------------------------------------------------------
# Streaming corpus intake: quality filter + content dedup over a
# documents firehose — the training-data twin of the event ingest.
# ---------------------------------------------------------------------------

DOC_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _corpus_ingest_sql() -> str:
    from nsp_bolt_pipeline_spark.registry_corpus import (
        PASSES_SQL,
        REPETITION_CTES,
    )

    return f"""
    WITH {REPETITION_CTES},
    pass AS (SELECT doc_id FROM s WHERE {PASSES_SQL}),
    fps AS (
        SELECT d.doc_id,
               md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
        FROM documents d JOIN pass USING (doc_id)
    )
    SELECT MIN(doc_id) AS doc_id, fp
    FROM fps
    GROUP BY fp
    """


@query("stream_corpus_ingest", _corpus_ingest_sql())
def q_stream_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the streaming corpus intake (quality filter
    -> fingerprint dedup -> bronze) over a JSON dump of ``documents``;
    the bronze keepers must hash-match the batch filter+dedup
    oracle."""
    from nsp_bolt_pipeline_spark.streaming.ingest import run_corpus_ingest

    dirs = _workdir("stream_corpus")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    dump_json_batches(
        docs, dirs["src"], order_cols=["doc_id"],
        n_files=_wire_fanout(spark),
    )
    stream = spark.readStream.schema(DOC_WIRE_SCHEMA).json(dirs["src"])
    # Bloom-sidecar routing on: bronze is probed only for the
    # bloom-positive slice of each batch (semantics identical to the
    # unbounded anti-join — the sidecar has no false negatives — so
    # the same oracle hash-matches; the scan bound is what changes)
    with _replay_shuffle(spark, dirs["src"]):
        run_corpus_ingest(
            stream,
            bronze_dir=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            bloom_sidecar_dir=os.path.join(dirs["out"] + "_bloom"),
            # sized for the corpus this table will REACH (~10 bits/key at
            # 1% FP); oversizing is ~free — segments store touched words
            # only — while the old fixed 4096-bit filter saturated after a
            # few thousand fingerprints and stopped routing anything
            expected_fingerprints=1_000_000,
        )
    return spark.read.parquet(dirs["out"]).select("doc_id", "fp")


# ---------------------------------------------------------------------------
# Streaming session windows: watermarked session_window agg in append
# mode, flushed to completeness by a far-future sentinel event, hash-
# matched against the same gaps-and-islands oracle as the batch
# session_window_agg.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
    WITH e AS (SELECT user_id, ts, event_id, value FROM events),
    flagged AS (
        SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 48 HOUR
                       THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 48 HOUR AS session_end,
           COUNT(*) AS n_events,
           FLOOR((SUM(value))*100 + 0.5)/100 AS total_value
    FROM sessions GROUP BY user_id, sid
"""


@query("stream_session_windows", _SESSION_ORACLE)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the watermarked session aggregate. The
    sentinel (user_id -1, outside the real non-negative key domain)
    rides the dump with ts = max(ts) + 120 h > gap (48 h) + delay
    (1 h), so the final no-data batch's watermark clears every real
    session's end and append mode emits the complete answer — which
    must hash-match the BATCH session oracle exactly."""
    from nsp_bolt_pipeline_spark.operators.sessions import session_agg

    dirs = _workdir("stream_sessions")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    sentinel = ev.agg(F.max("ts").alias("m")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("m") + F.expr("INTERVAL 120 HOURS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    _dump_events_df(ev.unionByName(sentinel), dirs["src"])
    sessions = session_agg(
        _event_stream(spark, dirs["src"]).withWatermark("ts", "1 hour"),
        keys=["user_id"],
        ts_col="ts",
        gap="48 hours",
        measures={
            "n_events": F.count("*"),
            "total_value": _r2(F.sum("value")),
        },
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_available_now(
            sessions.writeStream.format("parquet").option("path", dirs["out"]),
            dirs["ckpt"],
        )
    return (
        spark.read.parquet(dirs["out"])
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id", "session_start", "session_end", "n_events", "total_value"
        )
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment: events stream joined per-micro-batch
# against a batch-computed signup-cohort dimension (broadcast), the
# streaming twin of a plain dimension join — same oracle.
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = """
    WITH cohort AS (
        SELECT user_id, CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, c.cohort_day
    FROM events e LEFT JOIN cohort c USING (user_id)
"""


@query("stream_static_enrich", _ENRICH_ORACLE)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of a stream-static left join: the static side
    (per-user first-seen day) is computed in batch from the same
    events table, PUBLISHED to parquet (stream-static joins re-execute
    the static plan per micro-batch — a live aggregation would be
    recomputed every batch), and joined with Catalyst deciding
    broadcast from the snapshot's honest file stats."""
    from nsp_bolt_pipeline_spark.streaming.enrich import (
        enrich_stream,
        publish_dimension_snapshot,
        run_enrich,
    )

    dirs = _workdir("stream_enrich")
    ev = read_table(spark, sf_dir, "events")
    _dump_events_df(ev, dirs["src"])
    cohort = publish_dimension_snapshot(
        ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).cast("string").alias("cohort_day")
        ),
        dirs["dim"],
        spark=spark,
    )
    enriched = enrich_stream(
        _event_stream(spark, dirs["src"]).select(
            "event_id", "user_id", "event_type"
        ),
        cohort,
        on=["user_id"],
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_enrich(enriched, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"])
    return spark.read.parquet(dirs["out"]).select(
        "event_id", "user_id", "event_type", "cohort_day"
    )


@query("stream_static_enrich_bucketed", _ENRICH_ORACLE)
def q_stream_enrich_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-broadcast twin of ``stream_static_enrich`` — same oracle,
    but the dimension is published through
    ``publish_dimension_snapshot_bucketed`` (bucketBy+sortBy on the
    join key) and joined with ``broadcast_dim=False`` (MERGE hint):
    the serving join's sort-merge plan reads the buckets directly, so
    NO micro-batch ever shuffles or re-sorts the dimension — only the
    bounded batch side exchanges, at bucket granularity. This is the
    100 TB regime where the dimension outgrows
    ``autoBroadcastJoinThreshold``; the zero-Exchange plan shape is
    pinned by tests/test_streaming.py's bucketed-snapshot test. The
    snapshot table is namespaced per run (single-writer contract of a
    managed-table publish) and dropped after the stream drains —
    output rides the parquet sink, not the table."""
    from nsp_bolt_pipeline_spark.streaming.enrich import (
        enrich_stream,
        publish_dimension_snapshot_bucketed,
        run_enrich,
    )

    dirs = _workdir("stream_enrichb")
    run_tag = os.path.basename(os.path.dirname(dirs["src"]))
    ev = read_table(spark, sf_dir, "events")
    _dump_events_df(ev, dirs["src"])
    cohort = publish_dimension_snapshot_bucketed(
        ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).cast("string").alias("cohort_day")
        ),
        "cohort_snapshot",
        bucket_by="user_id",
        n_buckets=8,
        database=run_tag,
        spark=spark,
    )
    enriched = enrich_stream(
        _event_stream(spark, dirs["src"]).select(
            "event_id", "user_id", "event_type"
        ),
        cohort,
        on=["user_id"],
        broadcast_dim=False,
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_enrich(enriched, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"])
    spark.sql(f"DROP TABLE IF EXISTS {run_tag}.cohort_snapshot")
    spark.sql(f"DROP DATABASE IF EXISTS {run_tag}")
    return spark.read.parquet(dirs["out"]).select(
        "event_id", "user_id", "event_type", "cohort_day"
    )


# ---------------------------------------------------------------------------
# Streaming sliding-window KPI: 7-day windows hopping by 1 day in
# complete mode; the oracle explodes each event into its 7 covering
# epoch-aligned windows.
# ---------------------------------------------------------------------------

_HOPPING_ORACLE = f"""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS d, value
        FROM events WHERE event_type = '{END_EVENT}'
    ),
    ex AS (
        SELECT CAST(unnest(generate_series(
                   CAST(d - 6 AS TIMESTAMP), CAST(d AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS DATE) AS win_start,
               value
        FROM e
    )
    SELECT win_start, win_start + 7 AS win_end,
           FLOOR(SUM(value)*100 + 0.5) / 100.0 AS total_fare,
           COUNT(*) AS n_trips,
           MAX(value) AS max_fare
    FROM ex GROUP BY win_start
"""


@query("stream_a4_hopping_kpi", _HOPPING_ORACLE)
def q_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nsp_bolt_pipeline_spark.streaming.kpi import hopping_kpis

    dirs = _workdir("stream_hopping")
    _dump_events(spark, sf_dir, dirs["src"])
    ends = (
        _event_stream(spark, dirs["src"])
        .filter(F.col("event_type") == END_EVENT)
        .select("ts", F.col("value").alias("fare_amount"))
    )
    kpis = hopping_kpis(ends, ts_col="ts", fare_col="fare_amount")
    with _replay_shuffle(spark, dirs["src"]):
        run_windowed_kpis(
            kpis, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"]
        )
    return spark.read.parquet(dirs["out"]).select(
        "win_start", "win_end", "total_fare", "n_trips", "max_fare"
    )


# ---------------------------------------------------------------------------
# DLQ replay / recovery: after the strict ingest quarantines corrupted
# rows (stream_s8 shape), re-admit them with the failed field relaxed
# to optional and merge into bronze. Final bronze = per key, the
# first VALID row if any, else the first corrupted row (value NULL) —
# exactly what the oracle ranks.
# ---------------------------------------------------------------------------

_DLQ_REPLAY_ORACLE = """
    WITH e AS (
        SELECT user_id, event_type, event_id, ts,
               CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value,
               (event_id % 97 = 0) AS corrupt
        FROM events
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY corrupt, ts, event_id) AS rn
        FROM e
    )
    SELECT user_id, event_type, event_id, ts, value
    FROM ranked WHERE rn = 1
"""


@query("stream_s8_dlq_replay", _DLQ_REPLAY_ORACLE)
def q_stream_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nsp_bolt_pipeline_spark.streaming.ingest import dir_exists

    dirs = _workdir("stream_dlq_replay")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.lit("not-a-number"))
        .otherwise(F.col("value").cast("string"))
        .alias("value"),
        "props",
    )
    dump_json_batches(
        encode_event_times(ev, ["ts"]), dirs["src"], order_cols=["ts", "event_id"]
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_ingest(
            _event_stream(spark, dirs["src"], EVENT_WIRE_SCHEMA_STR_VALUE),
            bronze_dir=dirs["out"],
            dlq_dir=dirs["dlq"],
            checkpoint_dir=dirs["ckpt"],
            required={
                "user_id": "long",
                "event_type": "string",
                "event_id": "long",
                "value": "double",
            },
            dedup_keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
        )
    # Recovery pass (batch): DLQ rows already carry typed columns with
    # the failed field nulled; re-admit them under the relaxed schema,
    # first-write-wins among themselves, then MERGE-insert only keys
    # bronze does not have (same anti-join the ingest runs per batch).
    keys = ["user_id", "event_type"]
    cols = ["user_id", "event_type", "event_id", "ts", "value"]
    if dir_exists(spark, dirs["dlq"]):
        dlq = spark.read.parquet(dirs["dlq"]).select(*cols)
    else:
        dlq = None
    bronze = spark.read.parquet(dirs["out"]).select(*cols)
    if dlq is not None:
        winners = first_write_wins(dlq, keys, ["ts", "event_id"])
        seen = bronze.select(*keys).dropDuplicates()
        replayed = winners.join(seen, keys, "left_anti").select(*cols)
        replayed.write.mode("append").parquet(dirs["out"])
    return spark.read.parquet(dirs["out"]).select(*cols)


# ---------------------------------------------------------------------------
# Left-outer stream-stream completion join: matched trips emit
# immediately; UNMATCHED starts emit with null end columns when the
# watermark evicts their state — per-side far-future sentinels flush
# the tail so the availableNow run is complete.
# ---------------------------------------------------------------------------

_OUTER_ORACLE = f"""
WITH starts AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS pickup_datetime,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{START_EVENT}'
), ends AS (
    SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS dropoff_datetime,
           value AS fare_amount,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = '{END_EVENT}'
)
SELECT s.trip_id, s.pickup_datetime, e.dropoff_datetime, e.fare_amount
FROM starts s LEFT JOIN ends e
  ON s.trip_id = e.trip_id AND e.rn = 1
 AND e.dropoff_datetime >= s.pickup_datetime
 AND e.dropoff_datetime <= s.pickup_datetime + INTERVAL 7 DAY
WHERE s.rn = 1
"""


@query("stream_j4_outer_completion", _OUTER_ORACLE)
def q_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs = _workdir("stream_j4")
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(START_EVENT, END_EVENT)
    )
    deduped = first_write_wins(
        ev, keys=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    horizon = ev.agg(F.max("ts").alias("m")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("m") + F.expr("INTERVAL 2400 HOURS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("_flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    sentinels = horizon.unionByName(
        horizon.select(
            F.lit(-2).cast("long").alias("event_id"),
            "ts",
            F.lit(-2).cast("long").alias("user_id"),
            F.lit("_flush2").alias("event_type"),
            "value",
            "props",
        )
    )
    _dump_events_df(
        deduped.select(*sentinels.columns).unionByName(sentinels), dirs["src"]
    )
    stream = _event_stream(spark, dirs["src"])
    starts = stream.filter(
        F.col("event_type").isin(START_EVENT, "_flush")
    ).select(
        F.col("user_id").cast("string").alias("trip_id"),
        F.col("ts").alias("pickup_datetime"),
    )
    ends = stream.filter(
        F.col("event_type").isin(END_EVENT, "_flush2")
    ).select(
        F.col("user_id").cast("string").alias("trip_id"),
        F.col("ts").alias("dropoff_datetime"),
        F.col("value").alias("fare_amount"),
    )
    joined = streaming_completed_trips(
        starts,
        ends,
        within="7 days",
        watermark_delay="1 hour",
        how="left_outer",
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_completion_join(
            joined, out_dir=dirs["out"], checkpoint_dir=dirs["ckpt"]
        )
    return (
        spark.read.parquet(dirs["out"])
        .filter(~F.col("trip_id").isin("-1", "-2"))
        .select("trip_id", "pickup_datetime", "dropoff_datetime", "fare_amount")
    )


# ---------------------------------------------------------------------------
# Streaming D3: latest-wins SCD1 merge into a versioned silver table —
# the serving-dimension twin of stream_d1's first-write-wins bronze.
# Version directories stand in for a table-format transaction log, so
# at-least-once foreachBatch delivery stays idempotent and readers
# never see a half-written overwrite.
# ---------------------------------------------------------------------------


@query(
    "stream_d3_merge_upsert",
    """
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the event dump through the streaming silver upsert and read
    the final version: the result must be the global LAST write per
    (user_id, event_type) — independent of how the dump was split into
    micro-batches, because a latest-wins merge of per-batch maxima is
    the global maximum."""
    dirs = _workdir("stream_d3")
    _dump_events(spark, sf_dir, dirs["src"])
    with _replay_shuffle(spark, dirs["src"]):
        latest = run_silver_upsert(
            _event_stream(spark, dirs["src"]).select(
                "user_id", "event_type", "event_id", "ts", "value"
            ),
            silver_root=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
        )
    return spark.read.parquet(latest).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (stateful twin of t12_ewma_user_score): buffer per
# user, fold in event-time order at event-time-timeout emission, flush
# end-of-stream state via the far-future sentinel event. Same oracle
# as the batch entry — arrival order must not matter.
# ---------------------------------------------------------------------------

from datetime import timedelta  # noqa: E402

from nsp_bolt_pipeline_spark.streaming.decay import (  # noqa: E402
    SENTINEL_USER,
    track_user_ewma,
)

_EWMA_HORIZON_MS = 3_600_000  # 1 h past a user's last event


@query(
    "stream_t12_ewma",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, v) -> acc * 0.5 + v * 0.5) AS ewma
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event dump through the buffered stateful EWMA and
    hash-match the batch fold: per-user state is flushed by the
    event-time timeout once the sentinel pushes the final watermark
    past every real user's last event + horizon. The emitted score is
    the same bit-exact alpha=1/2 fold the batch entry and the DuckDB
    oracle run."""
    dirs = _workdir("stream_ewma")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(0, max_ts + timedelta(hours=3), SENTINEL_USER, 0.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    _dump_events_df(ev.unionByName(sentinel), dirs["src"])

    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = _event_stream(spark, dirs["src"], schema=wire_schema)
    out = track_user_ewma(
        stream, horizon_ms=_EWMA_HORIZON_MS, watermark_delay="1 hour"
    )
    run_available_now(
        out.writeStream.format("parquet").option("path", dirs["out"]),
        dirs["ckpt"],
    )
    return spark.read.parquet(dirs["out"]).select(
        "user_id", "n_events", "ewma"
    )


# ---------------------------------------------------------------------------
# Streaming DQ gate: per-micro-batch expectation evaluation with
# whole-batch quarantine (streaming/dq_gate). The replay dumps one
# file per event DAY and triggers one batch per file, so the gate
# decision is per-day and the oracle replays it as a day-level HAVING
# — the published table is exactly the union of passing days,
# independent of batch arrival order.
# ---------------------------------------------------------------------------

import json as _json  # noqa: E402

_DQ_V_HI = 350.0


@query(
    "stream_dq_gated_ingest",
    f"""
    WITH bad_days AS (
        SELECT CAST(ts AS DATE) AS d
        FROM events
        GROUP BY 1
        HAVING SUM(CASE WHEN value < 0.0 OR value > {_DQ_V_HI}
                        THEN 1 ELSE 0 END) > 0
            OR SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) > 0
    )
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE CAST(ts AS DATE) NOT IN (SELECT d FROM bad_days)
    """,
)
def q_stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the day-file replay through the gated ingest: every
    micro-batch is one day, the expectation suite (not-null user_id,
    value in [0, {_DQ_V_HI}]) evaluates in one aggregation per batch,
    and failing days land whole in quarantine — the published table
    must equal the batch-order-independent union of passing days."""
    from nsp_bolt_pipeline_spark.operators.expectations import (
        expect_between,
        expect_not_null,
    )
    from nsp_bolt_pipeline_spark.streaming.dq_gate import (
        run_dq_gated_ingest,
    )

    dirs = _workdir("stream_dq")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # one wire file per event day (harness-side replay shaping: the
    # rows collect once to cut the dump into deterministic day
    # batches; the gated pipeline itself never collects data)
    wire_rows = encode_event_times(ev, ["ts"]).collect()
    by_day: dict[int, list] = {}
    for r in wire_rows:
        by_day.setdefault(int(r["ts"]) // 86_400_000_000, []).append(r)
    os.makedirs(dirs["src"], exist_ok=True)
    for i, day in enumerate(sorted(by_day)):
        rows = sorted(
            by_day[day], key=lambda r: (int(r["ts"]), int(r["event_id"]))
        )
        with open(
            os.path.join(dirs["src"], f"day_{i:03d}.json"), "w"
        ) as f:
            for r in rows:
                f.write(_json.dumps(r.asDict()) + "\n")

    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = decode_event_times(
        spark.readStream.schema(wire_schema)
        .option("maxFilesPerTrigger", 1)
        .json(dirs["src"]),
        ["ts"],
    )
    suite = [
        expect_not_null("user_id"),
        expect_between("value", 0.0, _DQ_V_HI),
    ]
    n_day_files = len(os.listdir(dirs["src"]))
    with _replay_shuffle(spark, dirs["src"], n_batches=n_day_files):
        run_dq_gated_ingest(
            stream,
            suite,
            good_dir=dirs["out"],
            quarantine_dir=dirs["dlq"],
            metrics_dir=os.path.join(dirs["out"] + "_metrics"),
            checkpoint_dir=dirs["ckpt"],
        )
    from nsp_bolt_pipeline_spark.streaming.ingest import dir_exists

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    if not dir_exists(spark, dirs["out"]):
        # every day failed the gate (data-dependent: at sf0.1 all 30
        # days contain an out-of-range value) -> published table is
        # legitimately empty, matching the oracle's empty day set
        return ev.select(*cols).limit(0)
    return spark.read.parquet(dirs["out"]).select(*cols)


# ---------------------------------------------------------------------------
# Streaming sketch maintenance: per-micro-batch partial Count-Min
# segments, merged by an associative per-(row, bucket) sum — so the
# result is bit-identical to the batch-built sketch no matter how the
# stream was chopped, and the BATCH oracle verifies the STREAMING
# path exactly.
# ---------------------------------------------------------------------------


def _cms_sketch_sql() -> str:
    from nsp_bolt_pipeline_spark.registry_sketches import _CMS_HASH
    from nsp_bolt_pipeline_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

    return f"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    rws AS (
        SELECT tok, j.j AS row
        FROM toks, (SELECT unnest(range(0, {CMS_DEPTH})) AS j) j
    )
    SELECT row, {_CMS_HASH} % {CMS_WIDTH} AS bucket, COUNT(*) AS cnt
    FROM rws GROUP BY 1, 2
    """


@query("stream_sketch_cms", _cms_sketch_sql())
def q_stream_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow CMS maintenance over a 4-file JSON dump of
    ``documents`` (maxFilesPerTrigger=1 forces 4 separate partial
    segments); the merged sketch must hash-match the one-shot batch
    build — the mergeability proof, driver-checked."""
    from nsp_bolt_pipeline_spark.streaming.ingest import run_cms_ingest

    dirs = _workdir("stream_cms")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    dump_json_batches(docs, dirs["src"], order_cols=["doc_id"], n_files=4)
    stream = (
        spark.readStream.schema(DOC_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(dirs["src"])
    )
    with _replay_shuffle(spark, dirs["src"], n_batches=4):
        run_cms_ingest(
            stream, sketch_dir=dirs["out"], checkpoint_dir=dirs["ckpt"]
        )
    segments = spark.read.parquet(dirs["out"])
    return segments.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


# ---------------------------------------------------------------------------
# Streaming bounded bottom-k daily sample: min-k by content hash is a
# commutative idempotent fold, so the streaming maintenance (bounded
# applyInPandasWithState buffer, k rows per day no matter the volume)
# must hash-match the batch rule exactly — which is what the oracle
# pins. Streaming twin of l6_bottomk_sample's fixed-size-sample duty.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.streaming.sampler import (  # noqa: E402
    SENTINEL_EVENT,
    track_daily_bottomk,
)

_DAILY_K = 20

_DAILY_SAMPLE_ORACLE = f"""
    WITH e AS (
        SELECT event_id, CAST(ts AS DATE) AS day,
               md5(CAST(event_id AS VARCHAR)) AS h
        FROM events
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY day
                                     ORDER BY h ASC, event_id ASC) AS rn
        FROM e
    )
    SELECT day, event_id, h FROM r WHERE rn <= {_DAILY_K}
"""


@query("stream_l6_daily_sample", _DAILY_SAMPLE_ORACLE)
def q_stream_daily_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event dump through the bounded streaming sampler:
    per-day state is k (hash, id) pairs merged and truncated every
    micro-batch, flushed by event-time timeout once the sentinel
    pushes the final watermark past each day's last event + horizon.
    Emitted samples must equal the batch bottom-k-per-day rule."""
    dirs = _workdir("stream_bottomk")
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(SENTINEL_EVENT, max_ts + timedelta(hours=72))],
        "event_id long, ts timestamp",
    )
    _dump_events_df(ev.unionByName(sentinel), dirs["src"])

    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    stream = _event_stream(spark, dirs["src"], schema=wire_schema)
    out = track_daily_bottomk(
        stream, k=_DAILY_K, horizon_ms=3_600_000, watermark_delay="1 hour"
    )
    # day-keyed state: a handful of keys with a trivial Python merge
    # per key, so the wire-sized partition count (not the session's
    # batch parallelism) bounds the state-store/commit overhead the
    # two micro-batches pay
    with _replay_shuffle(spark, dirs["src"]):
        run_available_now(
            out.writeStream.format("parquet").option("path", dirs["out"]),
            dirs["ckpt"],
        )
    return spark.read.parquet(dirs["out"]).select("day", "event_id", "h")


# ---------------------------------------------------------------------------
# Streaming boilerplate-stripping intake: the C4 repeated-segment rule
# applied on the hot path — boiler set trained offline (the batch
# count pass), broadcast as static state, applied per micro-batch in
# foreachBatch. Must hash-match the batch corpus_boilerplate_strip.
# ---------------------------------------------------------------------------


def _boilerplate_stream_sql() -> str:
    from nsp_bolt_pipeline_spark.registry import REGISTRY as _R

    return _R["corpus_boilerplate_strip"][1]


@query("stream_boilerplate_ingest", _boilerplate_stream_sql())
def q_stream_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents dump through the boilerplate-stripping
    intake: the segment-frequency pass runs offline over the same
    corpus, its >= min_df segments broadcast into every micro-batch's
    anti-join, cleaned docs append to bronze. Bronze must equal the
    batch strip bit-for-bit regardless of batch boundaries."""
    from nsp_bolt_pipeline_spark.operators.corpus import segment_rows
    from nsp_bolt_pipeline_spark.registry_corpus import (
        SEG_MIN_DF,
        SEG_WORDS,
    )
    from nsp_bolt_pipeline_spark.streaming.ingest import (
        run_boilerplate_ingest,
    )

    dirs = _workdir("stream_boiler")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    boiler = (
        segment_rows(docs, seg_words=SEG_WORDS)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= SEG_MIN_DF)
        .select("seg")
    )
    dump_json_batches(
        docs, dirs["src"], order_cols=["doc_id"],
        n_files=_wire_fanout(spark),
    )
    stream = spark.readStream.schema(DOC_WIRE_SCHEMA).json(dirs["src"])
    with _replay_shuffle(spark, dirs["src"]):
        run_boilerplate_ingest(
            stream,
            boiler,
            bronze_dir=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            seg_words=SEG_WORDS,
        )
    return spark.read.parquet(dirs["out"]).select(
        "doc_id", "clean_text", "n_segments", "n_removed"
    )


# ---------------------------------------------------------------------------
# Streaming IVF index maintenance: new vectors assign to the frozen
# coarse codebook per micro-batch (static broadcast, stateless map)
# and append to their inverted lists — how a production ANN serving
# index absorbs a vector firehose between codebook retrains. Batch
# boundaries cannot matter (assignment is per-row), which the batch
# assignment oracle pins.
# ---------------------------------------------------------------------------


def _ivf_ingest_sql() -> str:
    from nsp_bolt_pipeline_spark.registry_clustering import kmeans_ctes_sql
    from nsp_bolt_pipeline_spark.registry_similarity import (
        DIM,
        N_CENTROIDS,
        _cos_sql,
    )

    return f"""
    WITH {kmeans_ctes_sql(N_CENTROIDS, DIM, "km_")},
    cent AS (SELECT cid, cv FROM km_upd),
    vecs AS (SELECT vec_id, embedding AS v FROM embeddings)
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, cent.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_cos_sql("v.v", "cent.cv")} DESC, cent.cid ASC
               ) AS rn
        FROM vecs v, cent
    ) WHERE rn = 1
    """


@query("stream_ivf_ingest", _ivf_ingest_sql())
def q_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the embeddings dump through the streaming IVF ingest:
    each micro-batch cross-joins the broadcast TRAINED 16-centroid
    codebook (lloyd_centroids_df over the standing corpus — frozen
    between retrains, exactly how a production index absorbs a vector
    firehose), max_by-assigns, and appends (vec_id, cid) to the index
    table. The JSON wire carries the vectors as doubles (exact
    float32 upcast, bit-stable round trip), so streamed assignments
    must equal the batch assignment of the whole corpus; the oracle
    replays the Lloyd training chain plus the assignment."""
    from nsp_bolt_pipeline_spark.operators.similarity import ivf_assignments
    from nsp_bolt_pipeline_spark.registry_similarity import (
        trained_centroids,
    )

    dirs = _workdir("stream_ivf")
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centroids = trained_centroids(spark, sf_dir).select(
        F.col("cid").alias("vec_id"), F.col("cv").alias("embedding")
    )
    dump_json_batches(
        emb, dirs["src"], order_cols=["vec_id"],
        n_files=_wire_fanout(spark),
    )
    wire = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = spark.readStream.schema(wire).json(dirs["src"])

    def process_batch(batch: DataFrame, _batch_id: int) -> None:
        ivf_assignments(batch, centroids).write.mode("append").parquet(
            dirs["out"]
        )

    with _replay_shuffle(spark, dirs["src"]):
        run_available_now(
            stream.writeStream.foreachBatch(process_batch), dirs["ckpt"]
        )
    return spark.read.parquet(dirs["out"]).select("vec_id", "cid")


# ---------------------------------------------------------------------------
# Streaming SCD2: incremental interval-history maintenance. Each
# micro-batch's runs merge into the versioned history; the final
# history must equal the batch gaps-and-islands build for ANY
# event-time-ordered split of the stream (6 range-batches here).
# ---------------------------------------------------------------------------


@query(
    "stream_scd2_history",
    """
    WITH e AS (SELECT user_id, event_type, ts, event_id FROM events),
    flagged AS (
        SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
                       WHEN lag(event_type) OVER w
                            IS NOT DISTINCT FROM event_type
                       THEN 0 ELSE 1 END AS chg
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS rid
        FROM flagged
    ),
    runs AS (
        SELECT user_id, rid, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from, COUNT(*) AS n_rows
        FROM numbered GROUP BY user_id, rid
    )
    SELECT user_id, event_type, valid_from, n_rows,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY rid)
               AS valid_to,
           CAST(rid AS INTEGER) AS version
    FROM runs
    """,
)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event dump through the incremental SCD2 maintainer
    (6 disjoint event-time-range micro-batches; the file source may
    deliver them in ANY order) and read the serving view: it must
    hash-match the batch gaps-and-islands build — the fragment log
    commutes under arrival order, and the read-time collapse merges
    runs spanning batch boundaries with accumulated row counts."""
    from nsp_bolt_pipeline_spark.streaming.scd2 import (
        close_intervals,
        run_scd2_history,
    )

    dirs = _workdir("stream_scd2")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    wire = encode_event_times(ev, ["ts"])
    dump_json_batches(
        wire, dirs["src"], order_cols=["ts", "event_id"], n_files=6
    )
    stream = (
        decode_event_times(
            read_wire_stream(
                spark, dirs["src"], EVENT_WIRE_SCHEMA,
                max_files_per_trigger=1,
            ),
            ["ts"],
        )
    )
    with _replay_shuffle(spark, dirs["src"], n_batches=6):
        latest = run_scd2_history(
            stream,
            history_root=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            key="user_id",
            attr="event_type",
        )
    hist = close_intervals(
        spark.read.parquet(latest), key="user_id", attr="event_type"
    )
    return hist.select(
        "user_id", "event_type", "valid_from", "n_rows",
        "valid_to", "version",
    )


# ---------------------------------------------------------------------------
# Streaming point-in-time enrichment: each event joined to the SCD2
# dimension version current at the EVENT'S timestamp — the
# leakage-free serving join, as a broadcast stream-static plan.
# ---------------------------------------------------------------------------


def _pit_enrich_oracle() -> str:
    from nsp_bolt_pipeline_spark.registry_temporal import _SCD2_BASE_CTES

    return f"""
    WITH {_SCD2_BASE_CTES}
    SELECT e.event_id, e.ts, e.user_id,
           h.o_orderpriority AS dim_priority,
           h.version AS dim_version
    FROM events e
    LEFT JOIN hist h
      ON h.o_custkey = e.user_id
     AND h.valid_from <= e.ts
     AND (h.valid_to IS NULL OR e.ts < h.valid_to)
    """


@query("stream_pit_enrich", _pit_enrich_oracle())
def q_stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the streaming PIT join: each event picks
    the SCD2 interval (customer priority regimes from orders)
    containing its own event time — events before a user's first
    regime keep nulls, exactly as the batch point-in-time join and
    the SQL replay define. The history is PUBLISHED to parquet before
    the stream starts (publish_dimension_snapshot): stream-static
    joins re-execute the static plan per micro-batch, so joining the
    live SCD2 lineage would rebuild the gaps-and-islands windows over
    orders every batch — the growth the sf8 sweep flagged — and the
    published snapshot's honest file stats let Catalyst broadcast
    only while the history actually fits (forced broadcast OOMed at
    sf16)."""
    from nsp_bolt_pipeline_spark.registry_temporal import _scd2_history
    from nsp_bolt_pipeline_spark.streaming.enrich import (
        enrich_stream_point_in_time,
        publish_dimension_snapshot,
        run_enrich,
    )

    dirs = _workdir("stream_pit")
    ev = read_table(spark, sf_dir, "events")
    _dump_events_df(ev, dirs["src"])
    hist = publish_dimension_snapshot(
        _scd2_history(spark, sf_dir).select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderpriority").alias("priority"),
            "valid_from",
            "valid_to",
            "version",
        ),
        dirs["dim"],
        spark=spark,
    )
    enriched = enrich_stream_point_in_time(
        _event_stream(spark, dirs["src"]).select(
            "event_id", "ts", "user_id"
        ),
        hist,
        key="user_id",
        event_ts="ts",
    )
    with _replay_shuffle(spark, dirs["src"]):
        run_enrich(
            enriched.select(
                "event_id", "ts", "user_id",
                F.col("dim_priority").alias("dim_priority"),
                F.col("dim_version").alias("dim_version"),
            ),
            out_dir=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
        )
    return spark.read.parquet(dirs["out"]).select(
        "event_id", "ts", "user_id", "dim_priority", "dim_version"
    )
