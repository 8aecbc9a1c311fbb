"""Constant-column annotation + sort-key synthesis (operators P6, P7).

The reference tags rows with ``status='raw'``, ``event_type``,
``source`` (TripStartProcessor.py:106-113, TripEndProcessor.py:127-134)
and synthesizes a DynamoDB sort key
``sk = "RAW#<kind>#<event datetime>"`` (TripStartProcessor.py:96,
TripEndProcessor.py:117). The sk exists only to emulate an index in a
key-value store; in Spark the same information is real columns, but we
can derive the sk for output fidelity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sort_key(event_type: Column | str, event_ts: Column | str) -> Column:
    """P7: ``RAW#start#2024-07-11 14:00:00`` style composite key."""
    et = F.col(event_type) if isinstance(event_type, str) else event_type
    ts = F.col(event_ts) if isinstance(event_ts, str) else event_ts
    return F.concat(
        F.lit("RAW#"), et, F.lit("#"), F.date_format(ts, "yyyy-MM-dd HH:mm:ss")
    )


def with_bookkeeping(
    df: DataFrame, *, event_type: str, source: str, status: str = "raw"
) -> DataFrame:
    """P6: constant bookkeeping columns."""
    return (
        df.withColumn("status", F.lit(status))
        .withColumn("event_type", F.lit(event_type))
        .withColumn("source", F.lit(source))
    )
