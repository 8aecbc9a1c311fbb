"""Trip-pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_redelivery --seed 1 --seconds 10 --trace 0

Builds nothing: it imports the package from the checkout it sits in,
starts one Spark session on ``local[<cores>]``, sets up (untimed warm
pass on its own input), runs whole rounds of the workload until
``--seconds`` of timed work have passed, checks the program's outputs
against results computed independently from the generator's records
(``expect.py``) and prints one JSON line:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see README.md). All files go under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import expect  # noqa: E402
import gen  # noqa: E402
import measure as tr  # noqa: E402
import workloads as W  # noqa: E402

MIB = 1 << 20


def _files(path: str, suffix: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix)]


def _write_batch(src: str, name: str, text: str, mtime: float) -> None:
    """Write one micro-batch file atomically, with an explicit mtime: the
    file source takes files in modification-time order."""
    os.makedirs(src, exist_ok=True)
    tmp = os.path.join(src, "." + name)
    with open(tmp, "w") as f:
        f.write(text)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(src, name))


def wire_schema():
    """Every wire field arrives as a JSON string (FIXTURES.md §1-2)."""
    from pyspark.sql import types as T  # noqa: PLC0415

    return T.StructType([T.StructField(c, T.StringType()) for c in gen.WIRE_FIELDS])


class Bench:
    """State shared by the workloads: session, dirs, measurement."""

    def __init__(self, spark, work: str, seed: int, trace: bool, progress):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.progress = progress
        self.spans = tr.Spans(spark, trace)
        self.setup_program_s = 0.0  # program calls during set-up
        self.windows: list[tuple[int, int]] = []  # timed intervals, epoch ms
        self.steal = tr.Steal()  # over the timed intervals
        self.mtime = time.time() - 86_400

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def next_mtime(self) -> float:
        self.mtime += 1.0
        return self.mtime

    def timed(self, fn, *args, **kwargs) -> float:
        t0 = time.time()
        with self.steal():
            p0 = time.perf_counter()
            fn(*args, **kwargs)
            dt = time.perf_counter() - p0
        self.windows.append((int(t0 * 1000), int(time.time() * 1000)))
        return dt

    def in_setup(self, fn, *args, **kwargs):
        p0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.setup_program_s += time.perf_counter() - p0


# ------------------------------------------------------------------ ingest


class Ingest:
    """``run_ingest`` over one stream: each round drops
    ``INGEST_BATCHES_PER_ROUND`` files into the source and runs the
    query to completion (one micro-batch per file); then one short
    stream whose first file is all malformed is attempted."""

    def __init__(self, b: Bench):
        self.b = b
        self.schema = wire_schema()
        self.wire = W.ingest_wire(b.seed)
        self.batches: list[gen.Batch] = []
        self.op_s: list[float] = []  # per timed run_ingest call
        self.events = 0
        self.rounds = 0
        self.failed_streams = 0
        self.main_id: str | None = None

    def _ingest(self, name: str) -> None:
        from nsp_bolt_pipeline_spark.streaming.ingest import read_wire_stream, run_ingest  # noqa: PLC0415

        b = self.b
        with b.spans("streaming.ingest.run_ingest"):
            with b.spans("streaming.ingest.read_wire_stream"):
                stream = read_wire_stream(
                    b.spark, b.dir(name, "src"), self.schema, max_files_per_trigger=1
                )
            run_ingest(
                stream,
                bronze_dir=b.dir(name, "bronze"),
                dlq_dir=b.dir(name, "dlq"),
                checkpoint_dir=b.dir(name, "ckpt"),
                required={
                    "trip_id": "string", "event_type": "string",
                    "event_datetime": "timestamp", "fare_amount": "double", "seq": "long",
                },
                dedup_keys=["trip_id", "event_type"],
                order_cols=["event_datetime", "seq"],
                partition_cols=["event_type"],
                dedup_ts_col="event_datetime",
                dedup_horizon_days=expect.HORIZON_DAYS,
            )

    def _failing_stream(self, name: str) -> bool:
        """The all-malformed-first stream; True when it ingests its good
        file correctly."""
        from pyspark.errors import StreamingQueryException  # noqa: PLC0415

        b = self.b
        for i, lines in enumerate(gen.all_malformed_then_good()):
            _write_batch(b.dir(name, "src"), f"f{i}.json", "".join(x + "\n" for x in lines), b.next_mtime())
        try:
            self._ingest(name)
        except StreamingQueryException:
            return False
        rows = expect.read_parquet_rows(b.dir(name, "bronze"))
        return sorted(r["trip_id"] for r in rows) == [f"g{i}" for i in range(5)]

    def setup(self) -> None:
        b = self.b
        warm = W.ingest_wire(b.seed + W.WARM_SEED_OFFSET, prefix="w")
        # two restarts of the stream, like the timed rounds: the first
        # micro-batches after a JVM start are 2-6x slower than later ones
        for call in range(2):
            for i in range(W.INGEST_WARM_FILES // 2):
                name = f"b{call}{i:04d}.json"
                _write_batch(b.dir("warm", "src"), name, warm.next_batch().text(), b.next_mtime())
            b.in_setup(self._ingest, "warm")

    def round(self) -> float:
        b = self.b
        for _ in range(W.INGEST_BATCHES_PER_ROUND):
            batch = self.wire.next_batch()
            self.batches.append(batch)
            self.events += len(batch.records)
            _write_batch(b.dir("main", "src"), f"b{batch.index:05d}.json", batch.text(), b.next_mtime())
        dt = b.timed(self._ingest, "main")
        self.op_s.append(dt)
        if self.main_id is None:
            self.main_id = tr.query_id(b.dir("main", "ckpt"))
        if not self._failing_stream(f"fail{self.rounds}"):
            self.failed_streams += 1
        self.rounds += 1
        return dt

    def finish(self) -> dict:
        b = self.b
        bronze = expect.read_parquet_rows(b.dir("main", "bronze"))
        dlq = expect.read_parquet_rows(b.dir("main", "dlq"))
        errors = expect.check_bronze(bronze, expect.bronze_winners(self.batches))
        errors += expect.check_dlq(dlq, expect.dlq_expected(self.batches))
        progress = b.progress.of({self.main_id})
        ops = self.rounds * W.INGEST_BATCHES_PER_ROUND
        if len(progress) != ops:
            errors.append(f"{len(progress)} micro-batches reported, {ops} expected")
        self.bronze_rows, self.dlq_rows, self.batch_progress = len(bronze), len(dlq), progress
        return {
            "errors": errors,
            "attempted": ops + self.rounds,
            "failed": self.failed_streams,
            "events": self.events,
            "work_s": sum(self.op_s),
            "op_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
        }

    def layers(self, log) -> dict:
        b, prog = self.b, self.batch_progress
        dur = [p["durationMs"] for p in prog]
        jobs = log.batch_jobs({self.main_id})
        probe = log.scan("size of files read", "/main/bronze", lambda d: self.main_id in d)
        valid = self.events - sum(1 for x in self.batches for r in x.records if r.malformed)
        return {
            "streaming.ingest.add_batch_s_p50": (tr.median(d.get("addBatch", 0) for d in dur) / 1000, "s"),
            "streaming.ingest.jobs_per_batch": (tr.median(jobs.values()), "count"),
            "streaming.ingest.probe_mib_p50": (tr.median(probe.values()) / MIB, "MiB"),
            "streaming.engine.commit_s_p50": (
                tr.median(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000, "s"),
            "sources.readers.get_batch_s_p50": (tr.median(d.get("getBatch", 0) for d in dur) / 1000, "s"),
            "functions.validation.rows_rejected": (self.dlq_rows, "count"),
            "operators.dedup.rows_out_per_in": (self.bronze_rows / max(1, valid), "ratio"),
            **sink_layers(b.dir("main", "bronze"), b.dir("main", "dlq")),
        }


def sink_layers(bronze: str, dlq: str | None) -> dict:
    files = _files(bronze, ".parquet")
    return {
        "sources.sinks.bronze_files": (len(files), "count"),
        "sources.sinks.bronze_mib": (sum(os.path.getsize(f) for f in files) / MIB, "MiB"),
        "sources.sinks.dlq_files": (len(_files(dlq, ".parquet")) if dlq else 0, "count"),
    }


# ------------------------------------------------------------------- gold


class Gold:
    """Full daily-KPI refreshes over a multi-day bronze table: scan ->
    ``trip_daily_kpis`` (dedup, completion join, KPI aggregate) ->
    ``write_daily_kpis``."""

    def __init__(self, b: Bench):
        self.b = b
        self.op_s: list[float] = []
        self.batches: list[gen.Batch] = []
        self.rows = 0

    def _write_table(self, name: str, wire: gen.TripWire, appends: int) -> list[gen.Batch]:
        import pandas as pd  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.sources.sinks import write_bronze  # noqa: PLC0415

        b = self.b
        batches = []
        for _ in range(appends):
            batch = wire.next_batch()
            batches.append(batch)
            ok = [r for r in batch.records if not r.malformed]
            pdf = pd.DataFrame({
                "trip_id": [r.trip_id for r in ok],
                "event_type": [r.kind for r in ok],
                "ts": pd.to_datetime([r.ts for r in ok]),
                "fare_amount": [r.fare_cents / 100 for r in ok],
                "seq": [r.seq for r in ok],
                "event_date": [r.ts.date().isoformat() for r in ok],
            })
            df = b.spark.createDataFrame(pdf)
            with b.spans("sources.sinks.write_bronze"):
                b.in_setup(write_bronze, df, b.dir(name, "bronze.parquet"))
        return batches

    def _refresh(self, name: str, out: str) -> None:
        from nsp_bolt_pipeline_spark.pipeline import trip_daily_kpis  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.sources.sinks import write_daily_kpis  # noqa: PLC0415

        b = self.b
        with b.spans("sources.readers.read_table"):
            starts, ends = self._streams(name)
        with b.spans("pipeline.trip_daily_kpis"):
            kpis = trip_daily_kpis(starts, ends)
        with b.spans("sources.sinks.write_daily_kpis"):
            write_daily_kpis(kpis, b.dir(out))

    def _streams(self, name: str):
        from nsp_bolt_pipeline_spark.sources.readers import read_table  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        bronze = read_table(self.b.spark, self.b.dir(name), "bronze")
        starts = bronze.filter(F.col("event_type") == "start").select(
            "trip_id", F.col("ts").alias("pickup_datetime"), F.col("seq").alias("start_event_id"))
        ends = bronze.filter(F.col("event_type") == "end").select(
            "trip_id", F.col("ts").alias("dropoff_datetime"), "fare_amount",
            F.col("seq").alias("end_event_id"))
        return starts, ends

    def setup(self) -> None:
        b = self.b
        warm = W.gold_wire(b.seed + W.WARM_SEED_OFFSET, prefix="w")
        self._write_table("warm", warm, 1)
        for _ in range(W.GOLD_WARM_REFRESHES):
            b.in_setup(self._refresh, "warm", "warm_kpi")
        self.batches = self._write_table("gold", W.gold_wire(b.seed), W.GOLD_APPENDS)
        self.rows = sum(1 for x in self.batches for r in x.records if not r.malformed)

    def round(self) -> float:
        b = self.b
        with b.spans(f"refresh {len(self.op_s)}"):
            dt = b.timed(self._refresh, "gold", "gold_kpi")
        self.op_s.append(dt)
        return dt

    def finish(self) -> dict:
        got = expect.read_kpi_json(self.b.dir("gold_kpi"))
        errors = expect.check_kpis(got, expect.kpis_expected(expect.trip_table(self.batches)))
        return {
            "errors": errors,
            "attempted": len(self.op_s),
            "failed": 0,
            "events": self.rows * len(self.op_s),
            "work_s": sum(self.op_s),
            "op_s": self.op_s,
        }

    def layer_pass(self) -> None:
        """Force each lazy layer on its own, on the same inputs: dedup,
        then the join over persisted winners, then the aggregate."""
        from nsp_bolt_pipeline_spark.operators.completion import completed_trips  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.operators.dedup import first_write_wins  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.operators.kpi import daily_kpis  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.sources.sinks import write_daily_kpis  # noqa: PLC0415

        b = self.b
        starts, ends = self._streams("gold")
        with b.spans("operators.dedup"):
            s = first_write_wins(starts, ["trip_id"], ["pickup_datetime", "start_event_id"]).persist()
            e = first_write_wins(ends, ["trip_id"], ["dropoff_datetime", "end_event_id"]).persist()
            s.count()
            e.count()
        with b.spans("operators.completion"):
            done = completed_trips(s, e).persist()
            self.completed_rows = done.count()
        with b.spans("operators.kpi"):
            k = daily_kpis(done).persist()
            k.count()
        with b.spans("sources.sinks.write_daily_kpis.persisted"):
            write_daily_kpis(k, b.dir("gold_kpi_layers"))
        for df in (k, done, e, s):
            df.unpersist()

    def layers(self, log) -> dict:
        b = self.b
        refresh = lambda d: d == "sources.sinks.write_daily_kpis"  # noqa: E731
        scan_ms = log.scan("scan time", "/gold/bronze.parquet", refresh)
        files = log.scan("number of files read", "/gold/bronze.parquet", refresh)

        def shuffle(name):
            return log.task_sum("shuffle_write", log.jobs_where(lambda d: d == name)) / MIB / W.GOLD_TRACED_REFRESHES

        med = lambda name: tr.median(b.spans.seconds(name))  # noqa: E731
        return {
            "sources.readers.scan_s": (tr.median(scan_ms.values()) / 1000, "s"),
            "sources.readers.scan_files": (tr.median(files.values()), "count"),
            "operators.dedup.s": (med("operators.dedup"), "s"),
            "operators.dedup.shuffle_mib": (shuffle("operators.dedup"), "MiB"),
            "operators.completion.s": (med("operators.completion"), "s"),
            "operators.completion.rows_out": (self.completed_rows, "count"),
            "operators.completion.shuffle_mib": (shuffle("operators.completion"), "MiB"),
            "operators.kpi.s": (med("operators.kpi"), "s"),
            "sources.sinks.kpi_write_s": (med("sources.sinks.write_daily_kpis.persisted"), "s"),
            **sink_layers(b.dir("gold", "bronze.parquet"), None),
        }


# ------------------------------------------------------------- trip state


class Lifecycle:
    """``track_trip_lifecycle`` over rounds of redelivered trip events;
    each round is a fresh stream of six files plus a watermark tick,
    and every trip of a round resolves within it."""

    def __init__(self, b: Bench):
        self.b = b
        self.schema = wire_schema()
        self.op_s: list[float] = []
        self.rounds: list[gen.LifecycleRound] = []
        self.ids: set[str] = set()
        self.errors: list[str] = []
        self.failed = 0

    def _run(self, name: str, rnd: gen.LifecycleRound) -> None:
        from nsp_bolt_pipeline_spark.functions.datetime import parse_wire_timestamp  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.streaming.ingest import read_wire_stream  # noqa: PLC0415
        from nsp_bolt_pipeline_spark.streaming.trip_state import track_trip_lifecycle  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        b = self.b
        for batch in rnd.batches:
            _write_batch(b.dir(name, "src"), f"b{batch.index}.json", batch.text(), b.next_mtime())
        with b.spans("streaming.trip_state.track_trip_lifecycle"):
            stream = read_wire_stream(b.spark, b.dir(name, "src"), self.schema, max_files_per_trigger=1)
            events = stream.select(
                "trip_id", "event_type",
                parse_wire_timestamp("event_datetime").alias("ts"),
                F.col("fare_amount").cast("double").alias("fare"),
            )
            out = track_trip_lifecycle(events, timeout_ms=int(gen.LIFECYCLE_TIMEOUT.total_seconds() * 1000))
            query = (
                out.writeStream.format("parquet")
                .option("path", b.dir(name, "out"))
                .option("checkpointLocation", b.dir(name, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()

    def setup(self) -> None:
        b = self.b
        # first and last file of a small round: data batches, the tick
        # and the timeout batch, without paying for four data batches
        warm = W.lifecycle_round(b.seed + W.WARM_SEED_OFFSET, 0, trips=W.LIFECYCLE_TRIPS // 4)
        warm.batches = [warm.batches[0], warm.batches[-1]]
        b.in_setup(self._run, "warm", warm)

    def round(self) -> float:
        b = self.b
        i = len(self.rounds)
        rnd = W.lifecycle_round(b.seed, i)
        self.rounds.append(rnd)
        name = f"round{i}"
        dt = b.timed(self._run, name, rnd)
        self.op_s.append(dt)
        self.ids.add(tr.query_id(b.dir(name, "ckpt")))
        rows = expect.read_parquet_rows(b.dir(name, "out"))
        errors, failed = expect.check_lifecycle(
            rows, expect.lifecycle_expected(rnd, gen.LIFECYCLE_TIMEOUT), rnd.fault_ids
        )
        self.errors += errors
        self.failed += failed
        return dt

    def finish(self) -> dict:
        progress = self.b.progress.of(self.ids)
        self.batch_progress = progress
        trips = sum(len(r.trips) for r in self.rounds)
        return {
            "errors": self.errors,
            "attempted": trips,
            "failed": self.failed,
            "events": sum(len(x.records) for r in self.rounds for x in r.batches),
            "work_s": sum(self.op_s),
            # the no-data batch that fires the round's timeouts reports
            # progress only now and then, so it is not an operation
            "op_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress if p["numInputRows"]],
        }

    def layers(self, log) -> dict:
        prog = self.batch_progress
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        keys = sum(len({r.trip_id for r in x.records}) for rnd in self.rounds for x in rnd.batches)
        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        return {
            "streaming.trip_state.add_batch_s_p50": (tr.median(add) / 1000, "s"),
            "streaming.trip_state.ms_per_key": (sum(add) / max(1, keys), "ms"),
            "streaming.trip_state.python_rows_in": (sum(p["numInputRows"] for p in prog), "count"),
            "streaming.state.rows_total": (max((s["numRowsTotal"] for s in state), default=0), "count"),
            "streaming.state.update_s": (sum(s.get("allUpdatesTimeMs", 0) for s in state) / 1000, "s"),
            "streaming.state.commit_s": (sum(s.get("commitTimeMs", 0) for s in state) / 1000, "s"),
            "streaming.state.rows_dropped_late": (sum(s.get("numRowsDroppedByWatermark", 0) for s in state), "count"),
            "streaming.state.memory_mib": (max((s.get("memoryUsedBytes", 0) for s in state), default=0) / MIB, "MiB"),
        }


WORKLOADS = {"ingest_redelivery": Ingest, "gold_daily_kpi": Gold, "trip_lifecycle_state": Lifecycle}


# -------------------------------------------------------------------- main


def session(work: str, trace: bool):
    """One Spark session on all cores, with every scratch path inside
    ``work``. Returns (spark, seconds it took)."""
    from nsp_bolt_pipeline_spark.session import get_spark  # noqa: PLC0415

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    cores = len(os.sched_getaffinity(0))
    p0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    return spark, time.perf_counter() - p0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to end."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM did not stop on its own
            proc.kill()
            proc.wait(timeout=30)


def note(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    work = str(ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    setup_steal = tr.Steal()
    try:
        with setup_steal():
            spark, start_s = session(work, bool(args.trace))
        progress = tr.ProgressLog()
        spark.streams.addListener(progress)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = tr.RssSampler(jvm_pid) if args.trace else contextlib.nullcontext()
        with rss:
            b = Bench(spark, work, args.seed, bool(args.trace), progress)
            wl = WORKLOADS[args.workload](b)
            with setup_steal():
                wl.setup()
            setup_s = start_s + b.setup_program_s
            note(f"session {start_s:.2f}s, set-up program calls {b.setup_program_s:.2f}s, "
                 f"steal {setup_steal.share:.1%}")
            elapsed = 0.0
            while elapsed < args.seconds:
                elapsed += wl.round()
                note(f"round {elapsed:.2f}s")
            res = wl.finish()
            timed_windows, timed_steal = list(b.windows), b.steal.share
            note(f"checked: {len(res['errors'])} errors; steal {timed_steal:.1%}; operations (s): "
                 + " ".join(f"{x:.2f}" for x in res["op_s"]))
            gold = None
            if args.trace and isinstance(wl, (Ingest, Gold)):
                # the gold refresh is not a timed workload of its own (see
                # README "Workloads"); the traced ingest run measures its
                # layers on a table of its own, checked like the rest
                gold = wl if isinstance(wl, Gold) else Gold(b)
                if gold is not wl:
                    gold.setup()
                    for _ in range(W.GOLD_TRACED_REFRESHES):
                        gold.round()
                    res["errors"] += gold.finish()["errors"]
                for _ in range(W.GOLD_TRACED_REFRESHES):
                    gold.layer_pass()
        # times count the CPU time the work had, not the time the
        # hypervisor gave to other guests (README "Noise control")
        kept = 1 - timed_steal
        metrics = {
            "events_per_s": (res["events"] / (res["work_s"] * kept), "1/s"),
            "op_s_p50": (statistics.median(res["op_s"]) * kept, "s"),
            "setup_s": (setup_s * (1 - setup_steal.share), "s"),
        }
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            stop(spark)
            spark = None
            logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            log = tr.EventLog(logs[0])
            layers = gold.layers(log) if gold is not None else {}
            layers.update(wl.layers(log))
            layers.update({
                "session.start_s": (start_s, "s"),
                "jvm.gc_s": (log.task_sum("gc_ms", windows=timed_windows) / 1000, "s"),
                "tasks.cpu_s": (log.task_sum("cpu_ns", windows=timed_windows) / 1e9, "s"),
                "process.peak_rss_mib": (rss.peak_kib / 1024, "MiB"),
                "tracing.events_per_s": metrics["events_per_s"],
            })
            b.spans.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
            # a layer this workload never enters did no work: report 0
            declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
            metrics = {m["name"]: layers.get(m["name"], (0, m["unit"])) for m in declared}
        for e in res["errors"][:5]:
            print("CHECK:", e, file=sys.stderr)
        return {
            "correct": not res["errors"],
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Trip-pipeline benchmark (see README.md).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import nsp_bolt_pipeline_spark  # noqa: PLC0415
    except ImportError as exc:
        print(f"perfbench: the package is not in this checkout ({exc})", file=sys.stderr)
        return 2
    if not Path(nsp_bolt_pipeline_spark.__file__).resolve().is_relative_to(ROOT):
        print("perfbench: the package imported is not the one in this checkout", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
