"""Streaming bounded bottom-k-by-hash sampling: a deterministic
fixed-size daily sample maintained incrementally over the event
stream — the streaming twin of the batch ``l6_bottomk_sample``
(registry_sampling).

Semantics: for each event day, keep the k events whose
``md5(event_id)`` hashes are smallest (ties by event_id). Min-k is a
commutative, idempotent fold — arrival order and micro-batch
boundaries cannot change the result, and re-delivered events merge
into the same sample — so the streaming output is bit-identical to
the batch rule by construction, which is exactly what the oracle
hash-compare pins.

Implementation: ``applyInPandasWithState`` keyed by day. Unlike the
EWMA buffer (streaming/decay.py), state here is BOUNDED BY k, not by
the horizon: each batch merges its rows into the current top-k and
truncates, so a day's state is k (hash, event_id) pairs no matter how
many billions of events the day saw. Emission is event-time timeout
(watermark passes day end + horizon), one batch of k rows per day;
end-of-stream replays flush via the far-future sentinel-event pattern
(operators/sessions.py).

Scale notes (100 TB): the hash is computed JVM-side (``F.md5``)
before the stateful shuffle, so Python touches only candidate rows;
state store size = days x k rows; day keys are few — for extreme
per-day volume the same operator composes with a (day, shard) key
plus a tiny batch top-k merge of the per-shard samples.
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

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("h", T.StringType()),
    ]
)

#: bounded state: the current k smallest (hash, event_id) pairs.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hashes", T.ArrayType(T.StringType())),
        T.StructField("event_ids", T.ArrayType(T.LongType())),
    ]
)

#: sentinel event id (outside the real non-negative domain); its
#: far-future event pushes the final watermark and is never emitted.
SENTINEL_EVENT = -1


def track_daily_bottomk(
    stream: DataFrame,
    *,
    k: int = 20,
    ts_col: str = "ts",
    horizon_ms: int = 3_600_000,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-day bounded bottom-k-by-hash sample with event-time-timeout
    emission. ``stream`` needs (ts, event_id) columns."""

    def update(
        key: tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (day,) = key
        if state.hasTimedOut:
            hashes, event_ids = state.get
            state.remove()
            pairs = sorted(zip(hashes, event_ids))
            if pairs and pairs[0][1] != SENTINEL_EVENT:
                yield pd.DataFrame(
                    {
                        "day": [day] * len(pairs),
                        "event_id": [e for _, e in pairs],
                        "h": [h for h, _ in pairs],
                    }
                )
            return

        hashes, event_ids = state.get if state.exists else ([], [])
        pairs = list(zip(hashes, event_ids))
        last_us = 0
        for pdf in pdfs:
            # vectorized batch ingest (guide §4.2): one array op for
            # the epoch-micros max instead of a pd.Timestamp per row —
            # the whole day's events pass through this loop
            pairs.extend(
                zip(pdf["h"].tolist(), pdf["event_id"].astype("int64").tolist())
            )
            last_us = max(
                last_us,
                int(
                    pdf[ts_col].to_numpy(dtype="datetime64[ns]")
                    .astype("int64")
                    .max()
                    // 1000
                ),
            )
        # the bounded merge: sort, dedup (at-least-once redelivery
        # lands on identical pairs), truncate to k
        pairs = sorted(set(pairs))[:k]
        state.update(([h for h, _ in pairs], [e for _, e in pairs]))
        # Clamp above the current watermark: late rows for a day whose horizon
        # the watermark already passed would otherwise re-arm a stale timeout
        # and raise INVALID_TIMEOUT_TIMESTAMP, killing the query.
        expiry_ms = last_us // 1000 + horizon_ms
        state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        return
        yield  # pragma: no cover — makes `update` a generator

    prepped = (
        stream.withWatermark(ts_col, watermark_delay)
        .withColumn("h", F.md5(F.col("event_id").cast("string")))
        .withColumn("day", F.to_date(F.col(ts_col)))
    )
    return (
        prepped.groupBy("day")
        .applyInPandasWithState(
            update,
            SAMPLE_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("event_id") != SENTINEL_EVENT)
    )
