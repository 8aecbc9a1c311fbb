"""Streaming SCD Type-2 history maintenance (merge-on-read).

The batch operator (operators.scd.scd2_intervals) collapses a FULL
fact table into per-key attribute-run intervals; a live pipeline needs
the same history kept current as events arrive. This module maintains
it incrementally in ``foreachBatch``: each micro-batch is collapsed to
its own run fragments (gaps-and-islands at event grain, one window
over batch rows), and the fragments are APPENDED to the versioned run
log. The serving view (:func:`close_intervals`) re-collapses the log —
fragments sort by (valid_from, first_id) per key, adjacent equal-
attribute fragments merge with their row counts summed — and derives
valid_to/version.

Why merge-on-read and not merge-on-write: a cross-batch EAGER merge is
only correct if micro-batches arrive in event-time order. When batch
[t2,t3) lands before [t1,t2) (a file source breaks listing ties by
modification time, Kafka gives order only per partition), eagerly
fusing the [t0,t1) and [t2,t3) fragments of one attribute run is an
over-merge that cannot be split when the middle range shows up with a
different value — observed exactly this way under the range-file
replay. Appending fragments commutes: ANY arrival order of the
disjoint event-time chunks yields the same log contents, and the
read-time collapse (a sort per key over fragments) reconstructs the
exact batch history — this is the write-optimized-log /
merge-on-read split every table format makes. A compaction that
eagerly collapses a PREFIX of contiguous arrived ranges is safe once
no earlier range is outstanding; :func:`_collapse_runs` is that
compaction step (pytest pins it equal to the one-shot collapse for
in-order fragments).

Cost bound: a batch adds at most one boundary fragment per key it
touches beyond the true run count, so the log holds <= true_runs +
batches_per_key fragments — read-time collapse stays run-scale, not
event-scale. Versions are idempotent under at-least-once delivery:
``v=N`` is rewritten deterministically as ``v=N-1 UNION fragments(N)``.

Reference parity: the reference keeps only latest state per key
(lambdas/TripStartProcessor/TripStartProcessor.py:60-72); the history
dimension is part of the warehouse extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nsp_bolt_pipeline_spark.operators.scd import number_runs
from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def _list_versions(spark, history_root: str) -> list[int]:
    """List the ``v=<n>`` version numbers present under history_root
    (non-integer suffixes — compaction scratch dirs — are ignored)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(history_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def _collapse_runs(runs: DataFrame, *, key: str, attr: str) -> DataFrame:
    """Merge adjacent equal-``attr`` fragments per key, ordered by
    (valid_from, first_id) — the compaction / read-time merge. Schema
    in/out: (key, attr, valid_from, first_id, n_rows). Shares the
    run numbering with the batch build (operators.scd.number_runs)."""
    numbered = number_runs(
        runs, key=key, attr=attr, order_cols=["valid_from", "first_id"]
    )
    ordk = F.struct(F.col("valid_from"), F.col("first_id"))
    return (
        numbered.groupBy(key, "_rid")
        .agg(
            F.min(attr).alias(attr),
            F.min("valid_from").alias("valid_from"),
            F.min_by("first_id", ordk).alias("first_id"),
            F.sum("n_rows").alias("n_rows"),
        )
        .drop("_rid")
    )


def batch_to_runs(
    batch: DataFrame, *, key: str, attr: str, ts_col: str, id_col: str
) -> DataFrame:
    """Collapse event-grain rows into run fragments: one row per (key,
    consecutive equal-``attr`` stretch in (ts, id) order). Shares the
    run numbering with the batch build (operators.scd.number_runs)."""
    numbered = number_runs(
        batch, key=key, attr=attr, order_cols=[ts_col, id_col]
    )
    ordk = F.struct(F.col(ts_col), F.col(id_col))
    return (
        numbered.groupBy(key, "_rid")
        .agg(
            F.min(attr).alias(attr),
            F.min(ts_col).alias("valid_from"),
            F.min_by(id_col, ordk).alias("first_id"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .drop("_rid")
    )


def close_intervals(runs: DataFrame, *, key: str, attr: str) -> DataFrame:
    """The serving view: collapse the fragment log, then derive
    valid_to (next run's start, NULL while current) and the 1-based
    version number."""
    merged = _collapse_runs(runs, key=key, attr=attr)
    w = W.partitionBy(key).orderBy("valid_from", "first_id")
    return merged.select(
        key,
        *[c for c in merged.columns if c not in (key, "first_id")],
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("int").alias("version"),
    )


def run_scd2_history(
    stream: DataFrame,
    *,
    history_root: str,
    checkpoint_dir: str,
    key: str,
    attr: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """Maintain the SCD2 fragment log under ``history_root/v=<batch>``
    from an event stream; returns the newest version's path. See the
    module docstring for the merge-on-read contract."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_runs = batch_to_runs(
            batch.select(key, attr, ts_col, id_col),
            key=key,
            attr=attr,
            ts_col=ts_col,
            id_col=id_col,
        )
        # Build on the LATEST existing version, not blindly batch_id-1:
        # a batch-id gap (skipped empty trigger) or a prior run that
        # failed after checkpoint commit would otherwise silently drop
        # all accumulated history and serve a truncated log.
        prior = [v for v in _list_versions(spark, history_root) if v < batch_id]
        if prior:
            combined = spark.read.parquet(
                f"{history_root}/v={max(prior)}"
            ).unionByName(new_runs)
        else:
            combined = new_runs
        combined.write.mode("overwrite").parquet(
            f"{history_root}/v={batch_id}"
        )

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )

    spark = stream.sparkSession
    versions = _list_versions(spark, history_root)
    if not versions:
        raise ValueError(
            f"no micro-batches were delivered; {history_root} holds no "
            "history version (empty source, or all files already "
            "committed in this checkpoint)"
        )
    return f"{history_root}/v={max(versions)}"


def compact_history(
    spark,
    history_root: str,
    *,
    key: str,
    attr: str,
    keep_versions: int = 1,
) -> str:
    """Compact the fragment log: rewrite the newest version with
    adjacent equal-attribute fragments merged (:func:`_collapse_runs`)
    and drop superseded version directories beyond ``keep_versions``.

    This is the maintenance job every merge-on-read layout schedules
    (Delta OPTIMIZE / Iceberg rewrite_data_files analogue): safe once
    no earlier event-time range is outstanding, because collapse of
    in-order fragments equals the one-shot batch collapse (pinned by
    pytest). Serving via :func:`close_intervals` is identical before
    and after — only fragment count and file count shrink. Returns
    the compacted version's path.

    The compacted rewrite KEEPS the newest version number: ingest
    builds each batch on the latest version with id < batch_id, so a
    renumbering above the newest batch id could collide with (and be
    invisible to) the next micro-batch. The swap goes through a
    scratch dir (ignored by the version listing): a crash before the
    first rename leaves the old copy live; a crash BETWEEN the renames
    leaves only ``old_v<N>`` — which entry detects and auto-restores
    (rename back to ``v=<N>``) before compacting, so the next
    micro-batch never silently builds on an older version's truncated
    history. Run it like any table-format OPTIMIZE: while ingest is
    quiesced."""
    jvm0 = spark._jvm
    hp0 = jvm0.org.apache.hadoop.fs.Path
    fs0 = hp0(history_root).getFileSystem(spark._jsc.hadoopConfiguration())
    if fs0.exists(hp0(history_root)):
        for st in fs0.listStatus(hp0(history_root)):
            name = st.getPath().getName()
            if name.startswith("old_v"):
                v = name[len("old_v"):]
                if not fs0.exists(hp0(f"{history_root}/v={v}")):
                    # crash between the two renames of a previous run:
                    # the saved copy is the only live v=<N> — restore
                    fs0.rename(st.getPath(), hp0(f"{history_root}/v={v}"))
                else:
                    # crash after the swap completed but before the
                    # cleanup delete: v=<N> is authoritative
                    fs0.delete(st.getPath(), True)
        # a stale scratch dir is never authoritative — drop it
        fs0.delete(hp0(f"{history_root}/compact_tmp"), True)
    versions = sorted(_list_versions(spark, history_root))
    if not versions:
        raise ValueError(f"{history_root} holds no history version")
    newest = versions[-1]
    compacted = _collapse_runs(
        spark.read.parquet(f"{history_root}/v={newest}"), key=key, attr=attr
    )
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path
    fs = hp(history_root).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = f"{history_root}/compact_tmp"
    compacted.write.mode("overwrite").parquet(tmp)
    old = f"{history_root}/old_v{newest}"
    fs.delete(hp(old), True)
    fs.rename(hp(f"{history_root}/v={newest}"), hp(old))
    fs.rename(hp(tmp), hp(f"{history_root}/v={newest}"))
    fs.delete(hp(old), True)
    # prune superseded versions beyond keep_versions (newest included)
    for v in sorted(versions, reverse=True)[keep_versions:]:
        fs.delete(hp(f"{history_root}/v={v}"), True)
    return f"{history_root}/v={newest}"
