"""Sessionization (scale extension): native session windows.

Groups each key's events into sessions separated by inactivity gaps —
the standard unit for user-behavior and training-log analysis. Spark's
``session_window`` is a first-class stateful window: in batch it
compiles to a sort + merge per key (no pair-wise self-join), and the
identical expression runs in Structured Streaming on a watermarked
frame, where Spark keeps one state row per open session and closes it
once the watermark passes last_event + gap. Batch and stream share
this one function, so the batch oracle verifies the streaming run
bit-for-bit.

Semantics (and what the oracle replays as a gaps-and-islands window):
an event extends the current session if its timestamp is at most
``gap`` after the previous event — the merge is INCLUSIVE, an event
landing exactly on the previous session's end still merges (verified
against Spark's behavior); a session's window is
[first_event, last_event + gap).

Streaming emission (append mode): a session row is emitted only when
the watermark passes its end. At end-of-stream the watermark rests
``delay`` behind the max event time, which would strand every session
newer than ``gap + delay``; replays that need the complete answer
append a single far-future *flush sentinel* event, under a key outside
the real key domain and later than max(ts) + gap + delay, whose only
job is to push the final watermark past every real session's end —
the availableNow no-data final batch then flushes all remaining state.
The sentinel's own session never closes and is never emitted.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def session_agg(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    gap: str,
    measures: Mapping[str, Column],
) -> DataFrame:
    """Aggregate per (keys, session) with sessions split on ``gap``
    inactivity. Emits ``session_start`` (first event) and
    ``session_end`` (last event + gap, Spark's session_window end).
    Pass a watermarked stream to run it as a streaming aggregate."""
    grouped = df.groupBy(*keys, F.session_window(F.col(ts_col), gap).alias("w"))
    return grouped.agg(*[m.alias(name) for name, m in measures.items()]).select(
        *keys,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *measures.keys(),
    )
