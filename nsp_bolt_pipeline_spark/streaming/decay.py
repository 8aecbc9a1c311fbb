"""Streaming EWMA user scores and debounce: the stateful twins of the
batch ``t12_ewma_user_score`` and ``t19_debounce_throttle`` entries
(registry_temporal).

EWMA semantics: the score folds over events in EVENT-TIME order
(s_1 = v_1, s_t = (s_{t-1} + v_t)/2 by (ts, event_id)), so arrival
order must not matter. The operator therefore buffers each user's
events in state and folds at emission time — exactness over
incrementality, the right trade for a replay/backfill path; a purely
incremental variant would fold in arrival order and drift under
out-of-order delivery. alpha = 1/2 keeps the fold bit-portable
(halving is exact in binary floating point; Python, the JVM, and
DuckDB produce the identical double).

EWMA emission: event-time timeout. Each batch extends the user's
timeout to last_event + horizon; when the watermark passes it, the
buffer is sorted, folded, emitted once, and the state dropped.
End-of-stream replays flush via the far-future sentinel-event pattern
(operators/sessions.py) — the sentinel key itself is filtered out of
the output.

EWMA contract scope: WITHIN one emission window, arrival order cannot
change the fold (the buffer sorts by event time before folding).
Emission boundaries themselves are horizon-gap SEGMENTATION — if a
key goes quiet for longer than the horizon while the watermark
advances mid-stream, its history folds and emits per segment (one
row each), which is session semantics, not a single all-history
fold. The batch-oracle hash equality therefore holds for replays
whose per-key events land inside one emission window (the
single-batch sentinel-flush replays the registry runs); a dashboard
wanting lifetime scores over segmented emissions merges them
downstream. EWMA state is one (ts, id, value) triple per event
inside the horizon per ACTIVE user; Python runs per key-group over
Arrow batches.

Debounce has no such caveat: it is a session-window aggregate whose
split is exact (see ``track_debounce``), so its kept set equals the
batch fold for any batching. Its state is the buffered (ts, id) pairs
of each key's OPEN session: a key that is never quiet for
``min_gap_s`` keeps growing its state.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nsp_bolt_pipeline_spark.operators.sessions import session_agg

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


def track_debounce(
    stream: DataFrame,
    *,
    min_gap_s: int,
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.timeseries.debounce_events: keep an
    event iff it is >= ``min_gap_s`` after the last KEPT event of its
    (user, type) key. A quiet gap of more than ``min_gap_s`` puts the
    next event past every earlier one, so the greedy fold always keeps
    it: splitting each key into session windows of gap ``min_gap_s``
    and folding per session gives exactly the whole-history kept set,
    for any batching and any arrival order within the watermark delay
    (older rows, and rows with a null ``ts``, are dropped; they open
    no session). The fold runs when a session
    closes, over its events sorted by (ts, event_id), as a
    higher-order ``aggregate`` — built-in operators only. Each kept
    event copies the kept array, so a session costs O(events + kept^2);
    kept events per session are at most its span / ``min_gap_s`` + 1."""
    gap_us = min_gap_s * 1_000_000
    sessions = session_agg(
        stream.withWatermark(ts_col, watermark_delay),
        keys=["user_id", "event_type"],
        ts_col=ts_col,
        gap=f"{min_gap_s} seconds",
        measures={
            "seq": F.array_sort(
                F.collect_list(
                    F.struct(F.unix_micros(ts_col).alias("ts_us"), "event_id")
                )
            )
        },
    )
    first = F.element_at("seq", 1)
    kept = F.aggregate(
        F.slice("seq", 2, F.size("seq") - 1),
        F.struct(first["ts_us"].alias("last"), F.array(first).alias("kept")),
        lambda acc, e: F.when(
            e["ts_us"] >= acc["last"] + gap_us,
            F.struct(
                e["ts_us"].alias("last"),
                F.array_append(acc["kept"], e).alias("kept"),
            ),
        ).otherwise(acc),
        lambda acc: acc["kept"],
    )
    return sessions.select(
        "user_id", "event_type", F.explode(kept).alias("k")
    ).select("user_id", "event_type", "k.event_id", "k.ts_us")
