"""Streaming EWMA user scores: the stateful twin of the batch
``t12_ewma_user_score`` entry (registry_temporal).

Semantics: the score folds over events in EVENT-TIME order
(s_1 = v_1, s_t = (s_{t-1} + v_t)/2 by (ts, event_id)), so arrival
order must not matter. The operator therefore buffers each user's
events in state and folds at emission time — exactness over
incrementality, the right trade for a replay/backfill path; a purely
incremental variant would fold in arrival order and drift under
out-of-order delivery. alpha = 1/2 keeps the fold bit-portable
(halving is exact in binary floating point; Python, the JVM, and
DuckDB produce the identical double).

Emission: event-time timeout. Each batch extends the user's timeout
to last_event + horizon; when the watermark passes it, the buffer is
sorted, folded, emitted once, and the state dropped. End-of-stream
replays flush via the far-future sentinel-event pattern
(streaming/sessions.py) — the sentinel key itself is filtered out of
the output.

Contract scope: WITHIN one emission window, arrival order cannot
change the fold (the buffer sorts by event time before folding).
Emission boundaries themselves are horizon-gap SEGMENTATION — if a
key goes quiet for longer than the horizon while the watermark
advances mid-stream, its history folds and emits per segment (one
row each), which is session semantics, not a single all-history
fold. The batch-oracle hash equality therefore holds for replays
whose per-key events land inside one emission window (the
single-batch sentinel-flush replays the registry runs); a dashboard
wanting lifetime scores over segmented emissions merges them
downstream.

Scale notes (100 TB): state is one (ts, id, value) triple per event
inside the horizon per ACTIVE user — bounded by horizon, not
history; keys shuffle once into the state store; Python runs per
key-group over Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    import pandas as pd

EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

#: buffered events: parallel arrays (ts_us, event_id, value).
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("event_ids", T.ArrayType(T.LongType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)

#: sentinel key (outside the real non-negative user id domain) whose
#: far-future event pushes the final watermark; never emitted.
SENTINEL_USER = -1


def _fold_sorted(ts_us: list, event_ids: list, values: list) -> tuple:
    order = sorted(range(len(values)), key=lambda i: (ts_us[i], event_ids[i]))
    s = float(values[order[0]])
    for i in order[1:]:
        s = s * 0.5 + float(values[i]) * 0.5
    return len(values), s


def track_user_ewma(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    horizon_ms: int = 3_600_000,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-user buffered EWMA with event-time-timeout emission."""

    def update(
        key: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            ts_us, event_ids, values = state.get
            state.remove()
            if user_id != SENTINEL_USER and values:
                n, s = _fold_sorted(ts_us, event_ids, values)
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "n_events": [n],
                        "ewma": [s],
                    }
                )
            return

        ts_us, event_ids, values = (
            state.get if state.exists else ([], [], [])
        )
        ts_us, event_ids, values = list(ts_us), list(event_ids), list(values)
        for pdf in pdfs:
            # vectorized batch ingest (guide §4.2): datetime64[ns] ->
            # epoch-micros via one array op, not a pd.Timestamp per row
            # (.value // 1000 row-at-a-time measured ~1-2 us/row — the
            # whole event stream passes through here)
            ts_us.extend(
                (
                    pdf[ts_col].to_numpy(dtype="datetime64[ns]")
                    .astype("int64")
                    // 1000
                ).tolist()
            )
            event_ids.extend(pdf["event_id"].astype("int64").tolist())
            values.extend(pdf["value"].astype("float64").tolist())
        state.update((ts_us, event_ids, values))
        if values:
            last_ms = max(ts_us) // 1000
            state.setTimeoutTimestamp(last_ms + horizon_ms)
        return
        yield  # pragma: no cover — makes `update` a generator

    watermarked = stream.withWatermark(ts_col, watermark_delay)
    return (
        watermarked.groupBy("user_id")
        .applyInPandasWithState(
            update,
            EWMA_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("user_id") != SENTINEL_USER)
    )


DEBOUNCE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

#: buffered (ts_us, event_id) pairs per (user, type) key.
_DEBOUNCE_STATE = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("event_ids", T.ArrayType(T.LongType())),
    ]
)


def track_debounce(
    stream: DataFrame,
    *,
    min_gap_s: int,
    ts_col: str = "ts",
    horizon_ms: int = 3_600_000,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.timeseries.debounce_events: the
    greedy keep-if->=gap-after-last-kept fold is sequential in EVENT
    TIME, so (exactly like the EWMA twin above) the operator buffers
    each key's events in state and folds once at event-time-timeout
    emission — within an emission window, arrival order cannot
    change the kept set, which the batch oracle's hash compare pins.
    The module-docstring segmentation caveat applies: a quiet gap
    longer than the horizon under a mid-stream watermark advance
    starts a fresh fold (whose first event is always kept), so the
    batch-equality contract is per emission window. State is
    (ts, id) pairs within the horizon per active key."""

    def update(
        key: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        user_id, event_type = key
        if state.hasTimedOut:
            ts_us, event_ids = state.get
            state.remove()
            if user_id != SENTINEL_USER and event_ids:
                import numpy as np

                pairs = sorted(zip(ts_us, event_ids))
                kept_t, kept_e = [], []
                last = None
                for t, e in pairs:
                    if last is None or t >= last + min_gap_s * 1_000_000:
                        kept_t.append(t)
                        kept_e.append(e)
                        last = t
                # typed numpy columns, not Python lists: the flush
                # batch runs this once per key, and pandas block
                # construction + dtype inference over lists measured
                # ~190 us/key vs ~95 us/key from ready ndarrays — the
                # greedy fold itself is ~3 us (guide §4.2; the emit
                # cost IS the flush batch at corpus key counts)
                n = len(kept_e)
                yield pd.DataFrame(
                    {
                        "user_id": np.full(n, user_id, dtype=np.int64),
                        "event_type": np.full(n, event_type, dtype=object),
                        "event_id": np.asarray(kept_e, dtype=np.int64),
                        "ts_us": np.asarray(kept_t, dtype=np.int64),
                    },
                    copy=False,
                )
            return

        ts_us, event_ids = state.get if state.exists else ([], [])
        ts_us, event_ids = list(ts_us), list(event_ids)
        for pdf in pdfs:
            # vectorized batch ingest — see track_user_ewma
            ts_us.extend(
                (
                    pdf[ts_col].to_numpy(dtype="datetime64[ns]")
                    .astype("int64")
                    // 1000
                ).tolist()
            )
            event_ids.extend(pdf["event_id"].astype("int64").tolist())
        state.update((ts_us, event_ids))
        if ts_us:
            # Clamp above the current watermark: a late batch for a key whose
            # horizon the watermark already passed would otherwise re-arm a
            # stale timeout and raise INVALID_TIMEOUT_TIMESTAMP, killing the
            # query.
            expiry_ms = max(ts_us) // 1000 + horizon_ms
            state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        return
        yield  # pragma: no cover — makes `update` a generator

    watermarked = stream.withWatermark(ts_col, watermark_delay)
    return (
        watermarked.groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            DEBOUNCE_SCHEMA,
            _DEBOUNCE_STATE,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("user_id") != SENTINEL_USER)
    )
