"""Stream-static enrichment join (§2.8 companion operator).

The reference enriches nothing in flight — each Lambda sees only its
own event's payload. The standard streaming-warehouse need is the
opposite: every event joined against a slowly-changing dimension
(user segment, device registry, geo table) AS IT ARRIVES.

Spark-first: a streaming DataFrame joins a *static* DataFrame
natively — no state store involved; the static side is planned like
any batch relation (broadcast when small, which is the 100 TB play:
the dimension ships once per executor, the stream never shuffles).
The static side is re-planned per micro-batch, so swapping the
dimension file between batches picks up dimension updates — the
cheap, eventually-consistent cousin of a stream-stream SCD join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def publish_dimension_snapshot(
    dim: DataFrame, path: str, *, spark: SparkSession | None = None
) -> DataFrame:
    """Materialize a dimension build to parquet and return the
    read-back frame for the stream-static join's static side.

    Stream-static joins re-plan AND re-execute the static plan every
    micro-batch, so handing the join a live lineage (window functions
    over the source table, an SCD2 gaps-and-islands build, ...) pays
    the whole build per batch — the cost the sf8 sweep measured
    growing with the dimension. Publishing the snapshot first turns
    the per-batch price into a scan of a small parquet, and is the
    production contract anyway: the dimension pipeline publishes, the
    serving join reads the latest published snapshot, and republishing
    between batches is how dimension updates reach the stream."""
    dim.write.mode("overwrite").parquet(path)
    ss = spark if spark is not None else dim.sparkSession
    return ss.read.parquet(path)


def publish_dimension_snapshot_bucketed(
    dim: DataFrame,
    table: str,
    *,
    bucket_by: str,
    n_buckets: int = 64,
    database: str | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Bucketed variant of :func:`publish_dimension_snapshot` for a
    dimension too large to broadcast: `saveAsTable` with
    ``bucketBy(bucket_by)`` + ``sortBy`` publishes the snapshot
    pre-hash-partitioned AND pre-sorted on the join key, so the
    serving join's sort-merge plan reads the buckets directly — no
    Exchange and no Sort above the dimension scan, in batch or in
    every micro-batch of a stream-static join. The per-batch price
    collapses to shuffling the (bounded) micro-batch; the dimension,
    however large, is never re-shuffled or re-sorted after publish.
    This is the 100 TB serving-join layout: the sf32 sweep measured
    the flat snapshot paying a full static-side shuffle per batch
    once the history outgrew the broadcast threshold.

    ``n_buckets`` should divide evenly into the cluster's shuffle
    width (submit_profile's partition count) so the stream side's
    exchange matches bucket granularity.

    Unlike the path-scoped flat publisher, this writes a MANAGED
    metastore table under ``mode=overwrite`` — the table name is a
    single-writer contract: two pipelines sharing one warehouse and
    one name silently clobber each other. Pass ``database`` to
    namespace the snapshot per pipeline (created if absent), the
    table-name analogue of the flat publisher's path scoping."""
    ss = spark if spark is not None else dim.sparkSession
    if database is not None:
        ss.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        table = f"{database}.{table}"
    (
        dim.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_by)
        .sortBy(bucket_by)
        .saveAsTable(table)
    )
    return ss.table(table)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: Sequence[str],
    broadcast_dim: bool | None = None,
) -> DataFrame:
    """Left-join a static dimension onto a streaming frame. The
    default (``broadcast_dim=None``) leaves the plan choice to
    Catalyst: pass the dimension through
    :func:`publish_dimension_snapshot` so the static side carries
    honest parquet file stats, and it broadcasts exactly while it
    fits ``autoBroadcastJoinThreshold`` (the stream never shuffles),
    degrading to a shuffle join on the bounded micro-batch when the
    dimension outgrows the heap. ``True`` forces the broadcast hint
    (only for un-published lineage whose stats Catalyst can't see);
    ``False`` pins a MERGE hint — without it Catalyst would still
    auto-broadcast a dimension under ``autoBroadcastJoinThreshold``,
    so a mere absence of the hint cannot express "large bucketed dim:
    ride the bucket layout, never the broadcast"."""
    if broadcast_dim:
        right = F.broadcast(dim)
    elif broadcast_dim is False:
        right = dim.hint("MERGE")
    else:
        right = dim
    return stream.join(right, list(on), "left")


def run_enrich(
    enriched: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Append-mode availableNow run of the enrichment (stateless, so
    every input row lands exactly once regardless of watermarks)."""
    run_available_now(
        enriched.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
    )


def enrich_stream_point_in_time(
    stream: DataFrame,
    history: DataFrame,
    *,
    key: str,
    event_ts: str,
    broadcast_dim: bool | None = None,
) -> DataFrame:
    """PIT variant of :func:`enrich_stream`: each streaming event is
    left-joined to the SCD2 dimension VERSION current at the event's
    own timestamp (operators.scd.point_in_time_join semantics) — the
    leakage-free feature join on the serving path. Stream-static
    joins re-plan the static side per micro-batch, so republishing
    the history between batches serves updated intervals.

    Broadcast is stats-driven by default (``broadcast_dim=None``):
    pass the history through :func:`publish_dimension_snapshot` and
    the static side carries honest parquet file stats, so Catalyst
    broadcasts exactly when it fits ``autoBroadcastJoinThreshold``
    (the stream never shuffles) and falls back to a shuffle join on
    the bounded micro-batch when it doesn't — a forced hint OOMed the
    6 GiB sweep JVM at sf16 where the history outgrew the heap.
    ``True`` forces the hint (un-published lineage whose stats
    Catalyst can't see); ``False`` pins a MERGE hint (a bucketed
    history must ride its layout — absent the hint Catalyst would
    still auto-broadcast under the threshold)."""
    from nsp_bolt_pipeline_spark.operators.scd import point_in_time_join

    if broadcast_dim:
        dim = F.broadcast(history)
    elif broadcast_dim is False:
        dim = history.hint("MERGE")
    else:
        dim = history
    return point_in_time_join(stream, dim, key=key, fact_ts=event_ts)
