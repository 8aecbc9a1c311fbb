"""Streaming session windows: the stateful form of
``operators.sessions.session_agg``.

The reference has no sessionization, but its streaming model (SURVEY
§2.8 — watermarked state, late-data tolerance) is exactly what session
windows need: Spark keeps one state row per open session and merges /
extends it as events arrive, closing the session once the event-time
watermark passes ``last_event + gap``. The batch and streaming
expressions are IDENTICAL (``F.session_window``) — only the watermark
and the sink differ, so the batch oracle verifies the streaming run
bit-for-bit.

Emission semantics (append mode): a session row is emitted only when
the watermark passes its end. At end-of-stream the watermark rests
``delay`` behind the max event time, which would strand every session
newer than ``gap + delay``; replays that need the complete answer
append a single far-future *flush sentinel* event under a key outside
the real key domain (see ``flush_sentinel_ts``) whose only job is to
push the final watermark past every real session's end — the
availableNow no-data final batch then flushes all remaining state.
The sentinel's own session never closes and is never emitted.

Scale notes (100 TB): state is one row per OPEN session per key —
bounded by active keys, not history; the shuffle partitions the
stream by key once (state-store partitioning), and output is
append-only parquet partitionable by session_start date.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def streaming_session_agg(
    stream: DataFrame,
    *,
    key: str,
    ts_col: str,
    gap: str,
    measures: Mapping[str, Column],
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked per-(key, session) aggregate — the streaming twin of
    ``session_agg`` (same expression, same output contract)."""
    grouped = stream.withWatermark(ts_col, watermark_delay).groupBy(
        key, F.session_window(F.col(ts_col), gap).alias("w")
    )
    return grouped.agg(*[m.alias(name) for name, m in measures.items()]).select(
        key,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *measures.keys(),
    )


def flush_sentinel_ts(df: DataFrame, ts_col: str, *, margin: str) -> Column:
    """Timestamp for the flush sentinel: ``max(ts) + margin`` where
    ``margin`` must exceed ``gap + watermark_delay`` so the final
    watermark (sentinel_ts - delay) clears every real session end
    (max_real_ts + gap). Driver-side scalar via an aggregate row —
    callers attach it with a crossJoin of the 1-row frame."""
    return F.max(F.col(ts_col)) + F.expr(f"INTERVAL {margin}")


def run_session_agg(
    sessions: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the session aggregate to completion: append-mode parquet
    sink, availableNow trigger. Closed sessions land exactly once."""
    run_available_now(
        sessions.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
    )
