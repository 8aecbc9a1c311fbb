"""Sinks (operators S4, S7, S8, L2).

Reference: conditional DynamoDB put (S4), daily KPI JSON to S3
partitioned by date with ``coalesce(1)`` (glue_jobs/
KPI-Aggregator.py:117-125), SQS DLQ for failed events (README.md:84).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bronze(
    df: DataFrame,
    path: str,
    *,
    partition_cols: tuple[str, ...] = ("event_type", "event_date"),
    mode: str = "append",
) -> None:
    """S4: the bronze event table. Partitioned by event kind + date so
    the aggregator's scan (S5) prunes partitions instead of filtering
    rows — the Spark equivalent of the DynamoDB sk-prefix server-side
    filter. At 100 TB, date partitioning also bounds each daily run's
    input."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_daily_kpis(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """S7 + L2: date-partitioned JSON KPI output.

    ``single_file=True`` reproduces the reference's ``coalesce(1)``
    (KPI-Aggregator.py:118) — fine for a few hundred KPI rows, wrong at
    scale; the default lets each date partition write in parallel."""
    out = df.coalesce(1) if single_file else df.repartition("date")
    out.write.mode("overwrite").partitionBy("date").json(path)


def write_rejects(df: DataFrame, path: str) -> None:
    """S8: dead-letter sink — keep the full raw row for replay."""
    df.write.mode("append").parquet(path)


def write_bronze_bucketed(
    df: DataFrame,
    table_name: str,
    *,
    buckets: int,
    key: str = "trip_id",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S4 variant for the 100 TB path: bucket the bronze table by the
    join key so the completion join (J1) is shuffle-free.

    Two tables bucketed by ``trip_id`` with the same bucket count
    sort-merge-join without any Exchange — at scale that removes the
    single largest data movement in the pipeline (both full event
    tables). The bucket count is a table property fixed at write time;
    size it to the target corpus (buckets ~ table_bytes / 1 GiB), not
    to the test machine. Requires a catalog table (bucketing metadata
    lives in the metastore), hence ``saveAsTable``.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
