"""Streaming data-quality gate: evaluate the declarative expectation
suite (operators/expectations) on EVERY micro-batch inside
``foreachBatch`` and route the batch whole — good batches append to
the published table, failing batches land in quarantine with their
metrics. The contract-testing layer moved to the hot path: a bad
upstream deploy poisons one quarantined batch, never the published
table, and replaying the quarantine after a fix is the DLQ-replay
pattern the S8 path already established.

Scale notes: the expectation evaluation is one aggregation over the
micro-batch (conditional sums, map-side partial agg); the gate adds
no shuffle beyond it. Batch granularity = quarantine granularity —
size micro-batches (maxFilesPerTrigger / maxOffsetsPerTrigger) to
the blast radius you are willing to re-ingest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from nsp_bolt_pipeline_spark.operators.expectations import run_expectations
from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def run_dq_gated_ingest(
    stream: DataFrame,
    suite: Sequence[dict],
    *,
    good_dir: str,
    quarantine_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the gated ingest to completion."""

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the expectation aggregation and the publish write
        # are two actions over the same micro-batch — without this the
        # source is scanned (and upstream transforms recomputed) twice
        batch_df.persist()
        try:
            metrics = run_expectations(batch_df, suite)
            rows = metrics.collect()  # k expectation rows, never data
            ok = all(r["passed"] for r in rows)
            spark = batch_df.sparkSession
            mdf = spark.createDataFrame(
                [
                    (batch_id, r["expectation"], float(r["metric"]),
                     float(r["threshold"]), bool(r["passed"]))
                    for r in rows
                ],
                "batch_id long, expectation string, metric double,"
                " threshold double, passed boolean",
            )
            # batch-scoped OVERWRITE subdirectories make at-least-once
            # foreachBatch delivery idempotent: a retried batch rewrites
            # exactly its own partition instead of double-appending into
            # the published table (the silver-versioning lesson). The
            # b= partition column surfaces on read; readers select the
            # payload columns.
            mdf.write.mode("overwrite").parquet(
                f"{metrics_dir}/b={batch_id}"
            )
            target = good_dir if ok else quarantine_dir
            batch_df.write.mode("overwrite").parquet(
                f"{target}/b={batch_id}"
            )
        finally:
            batch_df.unpersist()

    run_available_now(stream.writeStream.foreachBatch(gate), checkpoint_dir)
