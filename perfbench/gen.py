"""Seeded trip-event generator for the benchmark.

Every input the program sees is made here from ``--seed``; the same
seed gives byte-identical files. Events follow the reference wire
shape (FIXTURES.md §1-2): every field is a JSON string, datetimes come
in both wire formats, and each record carries a producer sequence
number that breaks ties between events with equal times.

The generator also keeps, for each delivered record, the values a
correct pipeline must see (parsed time, fare in cents, batch index,
and whether it is malformed), so the checks in ``expect.py`` can
compute the expected results without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

#: event-time origin of every generated stream (naive UTC).
T0 = dt.datetime(2025, 7, 7)

ISO_FMT = "%Y-%m-%d %H:%M:%S"  # yyyy-MM-dd HH:mm:ss

WIRE_FIELDS = ("trip_id", "event_type", "event_datetime", "fare_amount", "seq")
MALFORMED_KINDS = ("bad_datetime", "bad_fare", "blank_trip_id", "truncated_json")


@dataclass(slots=True)
class Record:
    """One delivered wire record and what it should mean. The JSON line
    is rendered on demand: the gold table is written typed and never
    needs it."""

    batch: int
    trip_id: str | None
    kind: str | None  # "start" | "end"
    ts: dt.datetime | None  # the wire datetime as parsed
    fare_cents: int | None
    seq: int | None
    dmy: bool = False  # wire datetime in dd/MM/yyyy HH:mm
    malformed: str | None = None
    raw: str | None = None  # the line, when it is not the rendering

    @property
    def line(self) -> str:
        if self.raw is not None:
            return self.raw
        t = self.ts
        if self.dmy:
            text = f"{t.day:02d}/{t.month:02d}/{t.year:04d} {t.hour:02d}:{t.minute:02d}"
        else:
            text = t.strftime(ISO_FMT)
        c = self.fare_cents
        return (
            f'{{"trip_id": "{self.trip_id}", "event_type": "{self.kind}", '
            f'"event_datetime": "{text}", "fare_amount": "{c // 100}.{c % 100:02d}", '
            f'"seq": "{self.seq}"}}'
        )


@dataclass
class Trip:
    trip_id: str
    start: dt.datetime
    end: dt.datetime | None  # None: the trip never ends
    fare_cents: int
    est_fare_cents: int


@dataclass
class Batch:
    index: int
    records: list[Record] = field(default_factory=list)

    def text(self) -> str:
        return "".join(r.line + "\n" for r in self.records)


class Producer:
    """Turns trip events into delivered records: assigns sequence
    numbers in emission order, renders wire datetimes, replaces a share
    of events by malformed records and redelivers a share of the rest
    0-2 batches later (identical bytes, as an at-least-once queue
    would)."""

    def __init__(self, rng: random.Random, *, p_redeliver: float, p_malformed: float):
        self.rng = rng
        self.p_redeliver = p_redeliver
        self.p_malformed = p_malformed
        self.seq = 0

    def record(self, batch: int, trip: Trip, kind: str) -> Record:
        rng = self.rng
        self.seq += 1
        t = trip.start if kind == "start" else trip.end
        # even mix of the two wire formats; the parsed value is what a
        # parser reads back (dd/MM/yyyy HH:mm drops the seconds)
        dmy = rng.random() >= 0.5
        parsed = t.replace(second=0, microsecond=0) if dmy else t.replace(microsecond=0)
        cents = trip.est_fare_cents if kind == "start" else trip.fare_cents
        rec = Record(batch, trip.trip_id, kind, parsed, cents, self.seq, dmy)
        if self.p_malformed and rng.random() < self.p_malformed:
            self._spoil(rec, rng.choice(MALFORMED_KINDS))
        return rec

    @staticmethod
    def _spoil(rec: Record, how: str) -> None:
        payload = json.loads(rec.line)
        if how == "bad_datetime":
            payload["event_datetime"] = "2025-13-45 25:61:00"
        elif how == "bad_fare":
            payload["fare_amount"] = "n/a"
        elif how == "blank_trip_id":
            payload["trip_id"] = "  "
        line = json.dumps(payload)
        rec.raw = line[: len(line) // 2] if how == "truncated_json" else line
        rec.malformed = how

    def redelivery_lag(self) -> int | None:
        """None: no redelivery; else how many batches later the copy lands."""
        if self.rng.random() >= self.p_redeliver:
            return None
        return self.rng.randint(0, 2)


def _copy(rec: Record, batch: int) -> Record:
    return Record(
        batch, rec.trip_id, rec.kind, rec.ts, rec.fare_cents, rec.seq, rec.dmy,
        rec.malformed, raw=rec.raw,
    )


class TripWire:
    """An unbounded stream of micro-batch files for ingest and for the
    gold table: each batch window of ``span`` event time opens
    ``trips_per_batch`` trips (5-40 min long, ``p_no_end`` of them
    never end) and carries every event whose time falls in it, in
    event-time order, plus redelivered copies of earlier events."""

    def __init__(
        self,
        seed: int,
        *,
        trips_per_batch: int,
        span: dt.timedelta,
        p_redeliver: float,
        p_malformed: float,
        p_no_end: float,
        prefix: str,
    ):
        self.rng = random.Random(seed)
        self.producer = Producer(self.rng, p_redeliver=p_redeliver, p_malformed=p_malformed)
        self.trips_per_batch = trips_per_batch
        self.span = span
        self.p_no_end = p_no_end
        self.prefix = prefix
        self.index = 0
        self.n_trips = 0
        self.pending_ends: list[tuple[dt.datetime, Trip]] = []
        self.redeliveries: dict[int, list[Record]] = {}

    def next_batch(self) -> Batch:
        rng, b = self.rng, self.index
        lo = T0 + b * self.span
        hi = lo + self.span
        events: list[tuple[dt.datetime, str, Trip]] = []
        for _ in range(self.trips_per_batch):
            self.n_trips += 1
            start = lo + dt.timedelta(seconds=rng.uniform(0, self.span.total_seconds()))
            end = None
            if rng.random() >= self.p_no_end:
                end = start + dt.timedelta(seconds=rng.uniform(300, 2400))
            trip = Trip(
                f"{self.prefix}{self.n_trips:08d}", start, end,
                rng.randint(500, 12000), rng.randint(500, 12000),
            )
            events.append((start, "start", trip))
            if end is not None:
                self.pending_ends.append((end, trip))
        still = []
        for end, trip in self.pending_ends:
            if end < hi:
                events.append((end, "end", trip))
            else:
                still.append((end, trip))
        self.pending_ends = still
        events.sort(key=lambda e: (e[0], e[1] == "start", e[2].trip_id))
        batch = Batch(b)
        for _t, kind, trip in events:
            rec = self.producer.record(b, trip, kind)
            batch.records.append(rec)
            lag = None if rec.malformed else self.producer.redelivery_lag()
            if lag is not None:
                self.redeliveries.setdefault(b + lag, []).append(_copy(rec, b + lag))
        batch.records.extend(self.redeliveries.pop(b, []))
        self.index += 1
        return batch


@dataclass
class LifecycleRound:
    """One self-contained stream for ``track_trip_lifecycle``: every trip
    of the round resolves before the round ends."""

    batches: list[Batch]
    trips: list[Trip]
    fault_ids: set[str]  # trips whose start is redelivered after completion


#: trip-state stream shape (see README "Inputs").
LIFECYCLE_SPAN = dt.timedelta(minutes=10)
LIFECYCLE_BATCHES = 6
LIFECYCLE_TIMEOUT = dt.timedelta(minutes=30)
#: the tick is the last record of a round: an end event for no trip,
#: far enough ahead that the watermark passes every open trip's timeout.
TICK_TRIP_ID = "~tick"


def lifecycle_round(
    seed: int,
    rnd: int,
    *,
    trips: int,
    faulty: int,
    p_redeliver: float,
    p_no_end: float,
    p_late_end: float,
) -> LifecycleRound:
    """Make round ``rnd`` of the trip-state workload.

    The counts are fixed per round, the seed picks which trips: exactly
    ``round(trips * p_no_end)`` trips never end, ``round(trips *
    p_late_end)`` end after the timeout, and exactly ``faulty``
    completed trips have their start redelivered in a batch after the
    one that completed them (the redelivery whose handling is a known
    fault, see README). Other start redeliveries land no later than the
    trip's end, so the number of trips the fault touches is the same
    in every run and for every seed."""
    rng = random.Random(seed * 1_000_003 + rnd)
    producer = Producer(rng, p_redeliver=p_redeliver, p_malformed=0.0)
    base = T0 + rnd * dt.timedelta(days=1)
    n_open = round(trips * p_no_end)
    n_late = round(trips * p_late_end)
    roles = ["open"] * n_open + ["late"] * n_late + ["done"] * (trips - n_open - n_late)
    rng.shuffle(roles)
    span_s = LIFECYCLE_SPAN.total_seconds()
    trip_list: list[Trip] = []
    for i, role in enumerate(roles):
        if role == "late":
            # ends 32-35 min after a start that leaves 40 min of the
            # round: inside it, past the 30 min timeout even after
            # minute truncation
            start = base + dt.timedelta(seconds=rng.uniform(0, (LIFECYCLE_BATCHES - 4) * span_s))
            end = start + dt.timedelta(seconds=rng.uniform(1920, 2100))
        else:
            # starts leave 20 min of the round, so every end lands in it
            start = base + dt.timedelta(seconds=rng.uniform(0, (LIFECYCLE_BATCHES - 2) * span_s))
            end = None
            if role == "done":
                end = start + dt.timedelta(seconds=rng.uniform(300, 1200))
        trip_list.append(
            Trip(f"r{rnd:03d}-{i:06d}", start, end, rng.randint(500, 12000), rng.randint(500, 12000))
        )

    def batch_of(t: dt.datetime) -> int:
        return min(LIFECYCLE_BATCHES - 1, int((t - base).total_seconds() // span_s))

    events = [(t.start, "start", t) for t in trip_list]
    events += [(t.end, "end", t) for t in trip_list if t.end is not None]
    events.sort(key=lambda e: (e[0], e[1] == "start", e[2].trip_id))
    batches = [Batch(i) for i in range(LIFECYCLE_BATCHES)]
    end_batch = {t.trip_id: batch_of(t.end) for t in trip_list if t.end is not None}
    done = [t for t in trip_list if t.end is not None and t.end - t.start <= dt.timedelta(minutes=20)]
    fault_ids = {
        t.trip_id
        for t in rng.sample(
            [t for t in done if end_batch[t.trip_id] < LIFECYCLE_BATCHES - 1], faulty
        )
    }
    extra: dict[int, list[Record]] = {}
    for t, kind, trip in events:
        b = batch_of(t)
        rec = producer.record(b, trip, kind)
        batches[b].records.append(rec)
        if kind == "start" and trip.trip_id in fault_ids:
            late = end_batch[trip.trip_id] + 1
            extra.setdefault(late, []).append(_copy(rec, late))
            continue
        lag = producer.redelivery_lag()
        if lag is None:
            continue
        last = LIFECYCLE_BATCHES - 1
        if kind == "start" and trip.trip_id in end_batch and end_batch[trip.trip_id] < last:
            last = end_batch[trip.trip_id]
        to = min(b + lag, last)
        extra.setdefault(to, []).append(_copy(rec, to))
    for b, recs in extra.items():
        batches[b].records.extend(recs)
    tick_t = base + LIFECYCLE_BATCHES * LIFECYCLE_SPAN + dt.timedelta(hours=3)
    tick = Trip(TICK_TRIP_ID, tick_t, tick_t, 0, 0)
    batches[-1].records.append(producer.record(LIFECYCLE_BATCHES - 1, tick, "end"))
    return LifecycleRound(batches, trip_list, fault_ids)


#: the stream whose first file holds only malformed records; it does
#: not depend on the seed, so it fails the same way in every run.
def all_malformed_then_good() -> list[list[str]]:
    bad = [
        json.dumps({"trip_id": "x1", "event_type": "start",
                    "event_datetime": "not a date", "fare_amount": "1.00", "seq": "1"}),
        json.dumps({"trip_id": "x2", "event_type": "start",
                    "event_datetime": "2025-07-07 10:00:00", "fare_amount": "n/a", "seq": "2"}),
        '{"trip_id": "x3", "event_type": "st',
    ]
    good = [
        json.dumps({"trip_id": f"g{i}", "event_type": "start",
                    "event_datetime": f"2025-07-07 10:0{i}:00", "fare_amount": "9.50",
                    "seq": str(10 + i)})
        for i in range(5)
    ]
    return [bad, good]
