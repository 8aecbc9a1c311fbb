"""Input shapes of the workloads (README "Inputs").

Kept apart from ``run.py`` so that ``expect.py`` can rebuild the same
inputs from a seed without starting Spark.
"""

from __future__ import annotations

import datetime as dt

import gen

#: ingest: ~1,050 events per micro-batch file, 6 h of event time per
#: file (so streams cross event dates and the 1-day dedup horizon
#: prunes the bronze key probe), 10 % redelivered 0-2 batches later,
#: 0.5 % malformed, 3 % of trips never end.
INGEST_TRIPS_PER_BATCH = 500
INGEST_SPAN = dt.timedelta(hours=6)
P_REDELIVER = 0.10
P_MALFORMED = 0.005
P_NO_END = 0.03
#: micro-batches per ``run_ingest`` call; each run makes whole rounds
#: of this many batches plus one all-malformed-first stream. A round
#: takes longer than ``run_seconds`` on this box, so a run makes one.
INGEST_BATCHES_PER_ROUND = 6
#: files of the untimed warm-up stream.
INGEST_WARM_FILES = 2

#: gold: a 2-day bronze table written in 8 appends of ~6,400 rows.
GOLD_TRIPS_PER_BATCH = 3000
GOLD_SPAN = dt.timedelta(hours=6)
GOLD_APPENDS = 8
#: untimed refreshes of a one-append table before timing starts: the
#: first refresh in a fresh JVM is 3-5x slower than the fourth.
GOLD_WARM_REFRESHES = 3
#: refreshes, and layer-by-layer passes, in a traced run.
GOLD_TRACED_REFRESHES = 3

#: trip state: per round 2,000 trips over six 10-minute files (~720
#: events per file, 250-1,100), with a 30 min timeout; 5 % never end,
#: 5 % end after the timeout, 10 % of events are redelivered and 1 % of
#: trips get a start redelivered after their completion.
LIFECYCLE_TRIPS = 2000
LIFECYCLE_FAULTY = 20
LIFECYCLE_P_NO_END = 0.05
LIFECYCLE_P_LATE_END = 0.05

#: warm-up inputs are made from a seed the timed inputs never use.
WARM_SEED_OFFSET = 7_919


def _wire(seed: int, trips_per_batch: int, span: dt.timedelta, prefix: str) -> gen.TripWire:
    return gen.TripWire(
        seed, trips_per_batch=trips_per_batch, span=span, p_redeliver=P_REDELIVER,
        p_malformed=P_MALFORMED, p_no_end=P_NO_END, prefix=prefix,
    )


def ingest_wire(seed: int, prefix: str = "t") -> gen.TripWire:
    return _wire(seed, INGEST_TRIPS_PER_BATCH, INGEST_SPAN, prefix)


def gold_wire(seed: int, prefix: str = "g") -> gen.TripWire:
    return _wire(seed, GOLD_TRIPS_PER_BATCH, GOLD_SPAN, prefix)


def lifecycle_round(seed: int, rnd: int, trips: int = LIFECYCLE_TRIPS) -> gen.LifecycleRound:
    return gen.lifecycle_round(
        seed, rnd, trips=trips, faulty=LIFECYCLE_FAULTY * trips // LIFECYCLE_TRIPS,
        p_redeliver=P_REDELIVER, p_no_end=LIFECYCLE_P_NO_END, p_late_end=LIFECYCLE_P_LATE_END,
    )
