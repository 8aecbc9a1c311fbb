"""Structured Streaming layer (SURVEY.md §2.8).

Re-expresses the reference's real-time path — Kinesis consumption
(lambdas/TripStartProcessor/TripStartProcessor.py:78-82), per-event
validate + dedup + store (TripStartProcessor.py:60-122), DLQ routing
(README.md:84,95) — as Structured Streaming queries:

- ``replay``     : S2 producer side — deterministic JSON micro-batch
                   dumps (the simulator stand-in) + the Kafka wire shape
- ``ingest``     : S3/S4/S8 + D1/D2 — readStream -> validate/coerce ->
                   DLQ split -> first-write-wins dedup -> bronze append
- ``kpi``        : streaming tumbling 1-day window KPI aggregate
- ``completion`` : stream-stream completion join with watermarks +
                   time-range state bound (the README-claimed behavior,
                   README.md:79,92, that the reference never implemented)
- ``run``        : ``run_available_now`` — the one run path of every
                   engine query: checkpoint, availableNow trigger, start,
                   wait for termination

Every transform reuses the batch functions (pure DataFrame -> DataFrame),
so an ``availableNow`` run over a deterministic event dump reproduces
the batch results bit-for-bit — that is how the oracle gate verifies
the streaming layer.
"""
