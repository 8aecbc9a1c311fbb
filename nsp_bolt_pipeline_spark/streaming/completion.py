"""Stream-stream completion join — the README-claimed behavior.

The reference README says the end-processor "matches with start events
to detect trip completion" (README.md:79,92) but the Lambda never does
(SURVEY.md §1.4); completion actually happens in the nightly batch
join. This module implements the *claimed* semantics properly: a
watermarked stream-stream inner join on the trip key with a time-range
bound, emitting a completed trip the moment both events have arrived.

Scale notes (100 TB): the time-range condition is what makes this safe
— without it, join state for unmatched starts grows forever (exactly
the unbounded-DynamoDB problem the reference concedes at
README.md:413-414). With watermarks on both sides plus
``dropoff BETWEEN pickup AND pickup + within``, Spark evicts a start
row once the watermark passes ``pickup + within``: state is bounded by
(ingest rate x (within + delay)), independent of table history. Hot
trip keys cannot occur upstream of dedup; AQE skew handling covers the
batch variant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def streaming_completed_trips(
    starts: DataFrame,
    ends: DataFrame,
    *,
    key: str = "trip_id",
    start_ts: str = "pickup_datetime",
    end_ts: str = "dropoff_datetime",
    within: str = "4 hours",
    watermark_delay: str = "1 hour",
    assume_watermarked: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: a trip completes when its
    end event arrives within ``within`` of its start event. Matches are
    emitted as they occur (append mode); the watermark + range bound
    exist to evict state, not to delay output.

    ``how="left_outer"`` additionally emits each UNMATCHED start (end
    columns null) at the moment the watermark passes
    ``pickup + within`` and its state is evicted — the abandoned-trip
    detector the reference cannot express (its README.md:413-414
    concedes unmatched DynamoDB rows just accumulate). Outer rows thus
    arrive late by construction; end-of-stream replays must push the
    final watermark past the horizon (sentinel events, see
    operators/sessions.py) to flush the tail.

    ``assume_watermarked=True`` skips the withWatermark calls — for
    inputs that already carry one (e.g. downstream of a watermarked
    dedup), where redefining the watermark is disallowed under
    multi-stateful chaining.

    **Hot-key output regime (known, by construction):** a raw
    stream-stream join emits the CROSS PRODUCT of same-key rows inside
    the time bound — a key with m starts and n ends within ``within``
    emits m*n matches. State stays bounded (eviction is unaffected)
    and per-match cost is flat, but OUTPUT cardinality is quadratic in
    the hot key's rate: the sf32 sweep's planted hot user mandated a
    ~2e9-row result that no sink should be asked to absorb
    (``sweeps/sweep_sf32.0_stream_r7.log`` — join time itself grew
    sub-output-linearly at 1.88x per 2x). Any upstream at-least-once
    wire (Kinesis/Kafka redelivery, simulator replays) produces
    duplicate keys, so the PRODUCTION composition is
    :func:`deduped_completion_stream` (registry
    ``stream_chained_dedup_join``): watermarked first-write-wins dedup
    on each side caps the per-key cross product at 1x1 before the join
    ever sees it. Use the raw form only on keys guaranteed unique per
    side (e.g. downstream of a keyed-table sink)."""
    if assume_watermarked:
        s, e = starts.alias("s"), ends.alias("e")
    else:
        s = starts.withWatermark(start_ts, watermark_delay).alias("s")
        e = ends.withWatermark(end_ts, watermark_delay).alias("e")
    cond = (
        (F.col(f"s.{key}") == F.col(f"e.{key}"))
        & (F.col(f"e.{end_ts}") >= F.col(f"s.{start_ts}"))
        & (
            F.col(f"e.{end_ts}")
            <= F.col(f"s.{start_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    joined = s.join(e, cond, how)
    start_cols = [c for c in starts.columns if c != key]
    # a column present on both sides (e.g. _corrupt_record from the
    # wire reader) would yield a duplicate output name and break any
    # later name-based reference; disambiguate the end side. The
    # rename target must be checked against EVERY name already taken
    # (not just start columns): with starts=[x] and ends=[x, end_x],
    # renaming x -> end_x would itself collide with the passthrough
    # end_x — keep prefixing until the name is free.
    taken = {key, *start_cols, *[c for c in ends.columns if c != key]}
    end_alias = {}
    for c in ends.columns:
        if c == key:
            continue
        out = c
        while out in end_alias.values() or (out != c and out in taken) or (
            out == c and c in start_cols
        ):
            out = f"end_{out}"
        end_alias[c] = out
    return joined.select(
        F.col(f"s.{key}").alias(key),
        *[F.col(f"s.{c}") for c in start_cols],
        *[F.col(f"e.{c}").alias(out) for c, out in end_alias.items()],
    )


def deduped_completion_stream(
    starts: DataFrame,
    ends: DataFrame,
    *,
    key: str = "trip_id",
    start_ts: str = "pickup_datetime",
    end_ts: str = "dropoff_datetime",
    within: str = "4 hours",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Chained stateful operators in one streaming query: watermarked
    first-write-wins dedup on each side, then the stream-stream
    completion join — the full Lambda-pipeline semantics (D1/D2 + the
    claimed completion matching) as a single incremental query. Spark
    supports this multi-stateful chaining natively (two dedup state
    stores feeding the join's two sides); each operator's state stays
    individually watermark-bounded.

    Within-batch survivor choice in ``dropDuplicatesWithinWatermark``
    is arrival-order (nondeterministic under shuffle), so
    oracle-verified runs feed pre-deduped or identical-payload
    duplicates; the cross-batch drop behavior is deterministic.
    """
    from nsp_bolt_pipeline_spark.streaming.ingest import (  # noqa: PLC0415
        stream_first_write_wins,
    )

    s = stream_first_write_wins(
        starts, [key], ts_col=start_ts, delay=watermark_delay
    )
    e = stream_first_write_wins(
        ends, [key], ts_col=end_ts, delay=watermark_delay
    )
    return streaming_completed_trips(
        s,
        e,
        key=key,
        start_ts=start_ts,
        end_ts=end_ts,
        within=within,
        watermark_delay=watermark_delay,
        assume_watermarked=True,  # the dedup stage already set them
    )


def run_capped_completion_log(
    wire: DataFrame,
    *,
    state_root: str,
    checkpoint_dir: str,
    key: str = "trip_id",
    side_col: str = "side",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    max_rows_per_key: int,
) -> None:
    """Streaming side of the emit-capped completion twin
    (``operators.completion.completed_trips_capped``): fold the wire
    into a KEEPER STATE of at most ``max_rows_per_key`` rows per
    (side, key) — the first rows by ``order_cols`` seen so far — via
    ``foreachBatch``. The serving view then runs the BATCH capped
    join over the keeper state (:func:`read_keeper_state` +
    ``completed_trips_capped``), so streaming and batch converge on
    the same operator by construction.

    Why merge-on-read and not a native stateful cap feeding the
    stream-stream join (round-8 verdict item #6's first choice; both
    probes pinned by ``tests/test_streaming.py``):

    - ``applyInPandasWithState`` -> stream-stream join is rejected by
      Spark's correctness checker, and rightly so: an exact
      event-time rank can only be emitted once the watermark passes a
      row's timestamp, i.e. the capped rows leave the operator ALREADY
      LATE for the downstream join's watermark, which would discard
      them. (``dropDuplicatesWithinWatermark`` chains legally because
      it forwards rows at arrival time — a luxury an N-rank cap does
      not have.)
    - ``transformWithStateInPandas`` (which relaxes the chaining
      rules) is environment-blocked here: its driver worker dies with
      ``ImportError: cannot import name 'descriptor' from
      'google.protobuf'`` (probed 2026-08-16; re-probe if the sandbox
      ever gains a working protobuf).

    The merge-on-read shape needs neither, because top-N per key is a
    SEMILATTICE: topN(A ∪ B) = topN(topN(A) ∪ B), so folding batches
    in ANY arrival order converges to the batch answer — no watermark,
    no sealing, state bounded by the cap itself (<= cap rows per side
    per key, independent of time or rate). Eager per-batch MATCH
    emission is deliberately not offered: a late-arriving earlier row
    can displace a keeper and would retract its already-emitted
    matches, which an append sink cannot express — the same
    over-merge argument behind streaming/scd2.py's merge-on-read.

    Idempotence under at-least-once delivery: the fold drops
    duplicate (side, key, *order_cols) rows — which assumes
    ``order_cols`` (default ``(ts, event_id)``) uniquely identifies a
    physical wire row, i.e. a redelivery is byte-identical. A wire
    that can deliver two DIFFERENT payloads under the same
    (side, key, ts, event_id) would fold to an arbitrary survivor
    here while the shared capped-join oracle ranks every physical
    row; callers with such a wire must widen ``order_cols`` (or
    pre-assign a unique event_id, as the repo's generators do).
    Each batch writes
    the full keeper state to ``state_root/v=<batch_id>`` derived
    deterministically from the latest version BELOW batch_id (a
    retried batch rewrites its own version from the same inputs —
    the scd2 version discipline). Versions older than the previous
    one are pruned: structured streaming only ever retries the last
    uncommitted batch.
    """
    from nsp_bolt_pipeline_spark.streaming.scd2 import (  # noqa: PLC0415
        _list_versions,
    )

    cols = list(wire.columns)
    dedup_keys = [side_col, key, *order_cols]

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        versions = sorted(
            v for v in _list_versions(spark, state_root) if v < batch_id
        )
        cur = batch.select(*cols).dropDuplicates(dedup_keys)
        if versions:
            prev = spark.read.parquet(
                os.path.join(state_root, f"v={versions[-1]}")
            )
            cur = cur.unionByName(prev).dropDuplicates(dedup_keys)
        rn = F.row_number().over(
            Window.partitionBy(side_col, key).orderBy(
                *[F.col(c) for c in order_cols]
            )
        )
        keep = (
            cur.withColumn("_rn", rn)
            .filter(F.col("_rn") <= max_rows_per_key)
            .drop("_rn")
        )
        keep.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v={batch_id}")
        )
        # prune all but the immediately-previous version (crash-retry
        # of THIS batch re-reads it; older ones are unreachable)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(state_root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for v in versions[:-1]:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    os.path.join(state_root, f"v={v}")
                ),
                True,
            )

    run_available_now(wire.writeStream.foreachBatch(fold), checkpoint_dir)


def read_keeper_state(spark, state_root: str) -> DataFrame:
    """Latest committed keeper state written by
    :func:`run_capped_completion_log` (raises if no version exists —
    the stream has not run)."""
    from nsp_bolt_pipeline_spark.streaming.scd2 import (  # noqa: PLC0415
        _list_versions,
    )

    versions = _list_versions(spark, state_root)
    if not versions:
        raise FileNotFoundError(f"no keeper state under {state_root}")
    return spark.read.parquet(
        os.path.join(state_root, f"v={max(versions)}")
    )


def run_completion_join(
    completed: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Run the join to completion (availableNow), appending matches to
    ``out_dir``. The emitted match set is order-independent, so the
    result is deterministic and oracle-comparable."""
    run_available_now(
        completed.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
    )
