"""Streaming ingest: validate -> DLQ split -> dedup -> bronze append
(operators S3, S4, S8 + D1/D2 in their native streaming form).

Reference semantics, per event (lambdas/TripStartProcessor/
TripStartProcessor.py:74-134, lambdas/TripEndProcessor/
TripEndProcessor.py:94-155):

1. decode the Kinesis payload (base64 + JSON),
2. validate/coerce fields, skipping bad records (-> DLQ, README.md:84),
3. first-write-wins dedup per (trip_id, event kind) via a DynamoDB
   point query (check-then-put),
4. store the validated item.

Spark-first: one streaming query. The per-event O(1) dedup lookup
becomes per-micro-batch set logic — ``first_write_wins`` inside the
batch plus an anti-join against the bronze key set across batches.
That pair is the idempotent-sink pattern (what Delta's
``MERGE WHEN NOT MATCHED`` does natively); unlike the reference's
non-atomic check-then-put (which can double-insert under concurrent
Lambda invocations, SURVEY.md §2.8) it is atomic per micro-batch.

Scale notes (100 TB):
- The anti-join re-reads bronze *keys* each micro-batch — a column-
  pruned parquet scan (only the key columns), but still O(bronze) per
  batch. At large scale swap the sink for Delta/Iceberg MERGE (file-
  skipping on the key) or use :func:`stream_first_write_wins`
  (``dropDuplicatesWithinWatermark``) whose state is bounded by the
  watermark horizon instead of table history. Both are provided.
- State-store / shuffle partition count is fixed at the first
  checkpoint write; size ``spark.sql.shuffle.partitions`` for the
  target throughput *before* the first run (session.py).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.functions.validation import (
    coerce_typed,
    split_valid_rejects,
)
from nsp_bolt_pipeline_spark.operators.dedup import first_write_wins
from nsp_bolt_pipeline_spark.sources.readers import with_corrupt_record
from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def read_wire_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S3: file-source JSON readStream with a declared schema — the
    Kinesis/Kafka consumer stand-in (swap ``format("json")`` for
    ``format("kafka")`` + ``from_json`` in production; semantics
    downstream are identical). PERMISSIVE mode lands undecodable
    payloads in ``_corrupt_record`` for the DLQ split, mirroring the
    Lambda decode-failure path (TripStartProcessor.py:128-134)."""
    reader = (
        spark.readStream.schema(with_corrupt_record(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(source_dir)


def stream_first_write_wins(
    stream: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """D1/D2, pure streaming API: watermark-bounded first-write-wins.

    ``dropDuplicatesWithinWatermark`` keeps the first *arrival* per key
    and evicts key state once the watermark passes — the reference's
    semantics with bounded memory (the reference's DynamoDB state grows
    forever; README.md:413-414 concedes a cleanup process is needed).
    Within a micro-batch the surviving row is arrival-order
    nondeterministic under shuffle, so oracle-verified pipelines use
    :func:`run_ingest` (min_by + anti-join) instead; this operator is
    the scale path where per-key arrival order is already the producer
    guarantee.
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dir_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works for any supported scheme, not
    just local paths). Used for the first-batch bronze read: probing
    instead of catching PATH_NOT_FOUND keeps Spark's FileStreamSink
    metadata check from logging a FileNotFoundException stack trace at
    WARN — which made every clean availableNow run look like a crash
    in captured bench output."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


#: bronze partition column carrying the event date when a dedup
#: horizon is configured (see :func:`run_ingest`).
EVENT_DATE_COL = "event_date"


def seen_keys(
    spark: SparkSession,
    bronze_dir: str,
    key_schema: T.StructType,
    *,
    min_event_date=None,
) -> DataFrame:
    """The cross-batch dedup probe: the key tuples already in bronze,
    the build side of a left-anti join, which needs no distinct pass.
    With ``min_event_date`` set (a ``date`` value), the scan is
    pruned to ``event_date`` partitions at or after it — a partition-
    pruned read (PartitionFilters in the scan node), so per-batch cost
    is bounded by the horizon, not by total table age.

    The read schema is pinned to ``key_schema`` (plus ``event_date``
    when pruning), never inferred: a bronze directory whose only
    append so far was an empty batch holds no data file to infer
    from, and must read as zero keys. Partition columns among the keys
    are still filled from the directory names."""
    schema = key_schema
    if min_event_date is not None:
        schema = T.StructType(
            list(key_schema.fields)
            + [T.StructField(EVENT_DATE_COL, T.DateType())]
        )
    seen = spark.read.schema(schema).parquet(bronze_dir)
    if min_event_date is not None:
        seen = seen.filter(F.col(EVENT_DATE_COL) >= F.lit(min_event_date))
    return seen.select(*key_schema.names)


def _effective_salt(
    n_dates: int, dom_frac: float, files_per_partition: int
) -> int:
    """Width of the key-hash write salt for one micro-batch.

    Production-cadence batches (1-2 event dates) keep the full salt so
    a hot date spreads over ``files_per_partition`` write tasks; a
    replay/backfill spanning many dates already parallelizes on the
    date dimension, so the salt would only multiply small files. The
    dominant-share clause keeps the salt when one date carries most of
    the batch REGARDLESS of how many stray dates ride along —
    date-count alone mislabels that shape (e.g. a hot date plus a few
    stragglers or epoch-garbage-but-parseable timestamps) as a
    backfill and serializes the hot date into a single task."""
    if n_dates <= 2 or dom_frac >= 0.5:
        return max(1, files_per_partition)
    return 1


def run_ingest(
    stream: DataFrame,
    *,
    bronze_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    required: Mapping[str, str],
    optional: Mapping[str, str] | None = None,
    dedup_keys: Sequence[str],
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    dedup_ts_col: str | None = None,
    dedup_horizon_days: int | None = None,
    files_per_partition: int = 2,
) -> None:
    """The full ingest query, run to completion by
    :func:`~nsp_bolt_pipeline_spark.streaming.run.run_available_now`
    (the reference's daily-batch cadence, O1, without giving up
    streaming semantics — restart with the same checkpoint and it
    resumes incrementally).

    Per micro-batch: coerce/validate (P2/P3) -> rejects to the DLQ
    (S8) -> first-write-wins within the batch (D1/D2, deterministic
    ``min_by`` on ``order_cols``) -> anti-join against bronze keys
    (cross-batch dedup) -> append to partitioned bronze (S4).

    Cross-batch dedup scan bound: with ``dedup_ts_col`` +
    ``dedup_horizon_days`` set, bronze is additionally partitioned by
    ``event_date = to_date(dedup_ts_col)`` and the per-batch key
    anti-join reads ONLY partitions within the horizon of the batch's
    oldest event (:func:`seen_keys` with ``min_event_date``). This is
    the dedup-watermark contract (same as
    ``dropDuplicatesWithinWatermark``): a duplicate is guaranteed to be
    suppressed only if its event time is within ``horizon`` days of the
    original's. In exchange, per-trigger cost is O(horizon), constant
    in table age — without the bound, the key scan is O(bronze) per
    trigger and grows forever, the classic streaming-ingest scale
    killer. Without the two params the behavior is the unbounded exact
    scan (column-pruned to the keys).
    """
    horizon_on = dedup_ts_col is not None and dedup_horizon_days is not None
    bronze_parts = list(partition_cols) + (
        [EVENT_DATE_COL] if horizon_on else []
    )

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            coerced = coerce_typed(batch, required, optional)
            valid, rejects = split_valid_rejects(coerced)
            # overwrite a per-batch partition, not blind append:
            # foreachBatch is at-least-once, so a retried batch must
            # replace its own rejects, never duplicate them
            rejects.write.mode("overwrite").parquet(
                f"{dlq_dir}/batch={batch_id}"
            )
            winners = first_write_wins(valid, dedup_keys, order_cols)
            if horizon_on:
                winners = winners.withColumn(
                    EVENT_DATE_COL, F.to_date(F.col(dedup_ts_col))
                )
            # One bookkeeping aggregate per batch, row counts per
            # (event date, partition tuple), sizes the write and
            # anchors the horizon. It counts VALID rows, not `winners`:
            # that would re-run the dedup shuffle, while `valid` is
            # map-side work over the persisted batch. Winners are a
            # subset of valid, so valid's min date is a safe lower
            # bound, and corrupt timestamps stay out of the salt
            # decision.
            per_date: dict = {}
            ptuples = set()
            if bronze_parts:
                by = [F.to_date(F.col(dedup_ts_col))] if horizon_on else []
                for *key, n in (
                    valid.groupBy(*by, *partition_cols).count().collect()
                ):
                    if horizon_on:
                        d, *key = key
                        if d is not None:
                            per_date[d] = per_date.get(d, 0) + n
                    if None not in key:
                        ptuples.add(tuple(key))
            # an all-null/empty batch leaves the key scan unbounded
            min_event_date = (
                min(per_date) - _dt.timedelta(days=dedup_horizon_days)
                if per_date
                else None
            )
            # existence probe, not try/except PATH_NOT_FOUND: reading
            # a nonexistent dir makes FileStreamSink log a spurious
            # WARN stack trace even when the exception is caught
            if dir_exists(spark, bronze_dir):
                seen = seen_keys(
                    spark,
                    bronze_dir,
                    T.StructType([winners.schema[k] for k in dedup_keys]),
                    min_event_date=min_event_date,
                )
                winners = winners.join(seen, list(dedup_keys), "left_anti")
            if bronze_parts:
                # co-locate each output partition before the dynamic-
                # partition write: without this every shuffle task
                # writes a file into every partition dir it touches
                # (tasks x partitions small files per batch — the
                # classic dynamic-partitioning file explosion). The
                # key-hash salt keeps one hot date from serializing
                # into a single task; files per dir per batch is
                # bounded by the salt width instead. The width ADAPTS
                # to the batch's date spread (counted above): a
                # production-cadence trigger touches 1-2 dates and
                # keeps the full salt, while a replay/backfill batch
                # spanning many dates already gets its write
                # parallelism from the date dimension — per-dir volume
                # shrinks as 1/n_dates, so the salt would only
                # multiply small files and commit renames
                # (measured: ~30% of the availableNow whole-month
                # replay's wall-time at sf0.1).
                n_dates = max(1, len(per_date))
                # the dominant date's share keeps the salt on a hot
                # date that carries a few stray dates along
                dom_frac = (
                    max(per_date.values()) / sum(per_date.values())
                    if per_date
                    else 1.0
                )
                eff_salt = _effective_salt(
                    n_dates, dom_frac, files_per_partition
                )
                salt = F.pmod(
                    F.xxhash64(*[F.col(k) for k in dedup_keys]),
                    F.lit(eff_salt),
                )
                # explicit partition count (the number of useful write
                # tasks = date-spread x salt): without it AQE is free
                # to coalesce the shuffle below the salt width on
                # small batches, silently serializing the hot date —
                # the exact behavior the salt exists to prevent
                # max (not product) of the two spread dimensions:
                # the product over-counts on a backfill touching many
                # (date x tenant) combos and would multiply small
                # files; with max, a task holds a few partition tuples
                # and still writes one file per dir it owns. Caller
                # partition columns count too: n_dates alone would
                # squeeze a many-tenant batch into eff_salt tasks.
                winners = winners.repartition(
                    max(n_dates, len(ptuples)) * eff_salt,
                    *[F.col(c) for c in bronze_parts],
                    salt,
                )
            writer = winners.write.mode("append")
            if bronze_parts:
                writer = writer.partitionBy(*bronze_parts)
            writer.parquet(bronze_dir)
        finally:
            batch.unpersist()

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )


def run_silver_upsert(
    stream: DataFrame,
    *,
    silver_root: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> str:
    """Streaming SCD Type-1: per micro-batch, latest-wins merge of the
    batch into a silver dimension (the serving twin of run_ingest's
    first-write-wins bronze).

    The winner per key is the maximum over ``order_cols`` across the
    previous silver version AND the batch — by EVENT order, not
    arrival order. That makes the final table independent of how the
    stream was split into micro-batches and of file-listing order
    (same-mtime source files tie nondeterministically), and it makes a
    stale out-of-order update a no-op instead of a regression — the
    CDC semantics a serving dimension needs. (merge_upsert's
    replace-on-match is the right call for curated batch updates;
    arrival order is NOT a guarantee a stream can offer.)

    Silver lives in VERSIONED directories (``v=<batch_id>``), the
    plain-parquet expression of a table-format transaction log: batch
    N merges into version N-1 and writes version N. Replaying batch N
    after a crash rewrites exactly version N from the same inputs
    (deterministic merge), so at-least-once foreachBatch delivery
    yields an idempotent table — and the read side never observes a
    half-written overwrite, because a version directory is only
    referenced by later batches after it is complete. With Delta or
    Iceberg the same process_batch body compiles to a real MERGE.

    Returns the path of the newest version after the run."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prev = f"{silver_root}/v={batch_id - 1}"
        if batch_id > 0 and dir_exists(spark, prev):
            target = spark.read.parquet(prev).select(*batch.columns)
        else:
            target = batch.limit(0)
        combined = target.unionByName(batch)
        ordk = F.struct(*[F.col(c) for c in order_cols])
        merged = (
            combined.groupBy(*keys)
            .agg(F.max_by(F.struct(*combined.columns), ordk).alias("_w"))
            .select("_w.*")
        )
        merged.write.mode("overwrite").parquet(
            f"{silver_root}/v={batch_id}"
        )

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )

    spark = stream.sparkSession
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(silver_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    versions = [
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("v=")
    ]
    return f"{silver_root}/v={max(versions)}"


#: broadcast the merged sidecar only while its DENSE capacity stays
#: under this many packed words (2^21 words = 16 MiB worst case);
#: larger filters probe via a plain shuffle equi-join on ``word``
#: (each fp probes k words — an index lookup shape, never a scan)
_BLOOM_BCAST_WORDS = 1 << 21


def _bloom_sidecar_meta(
    spark: SparkSession, sidecar_dir: str
) -> tuple[int, int] | None:
    """(bits, k) the existing sidecar was built with, or None if the
    sidecar doesn't exist. Segments carry the sizing as constant
    columns; probing with ANY other sizing would manufacture false
    negatives (missed dups), so an existing sidecar's sizing always
    wins over requested parameters. Pre-sizing-era segments (no
    bits/k columns) report the legacy constants."""
    from nsp_bolt_pipeline_spark.operators.sketches import BLOOM_BITS, BLOOM_K

    if not dir_exists(spark, sidecar_dir):
        return None
    # mergeSchema: a mixed-era sidecar (legacy segments without
    # bits/k + sized segments with them — which the legacy-constants
    # upgrade path itself creates) must not depend on WHICH file Spark
    # samples the schema from; and legacy rows then surface bits/k as
    # NULL, which coalesce to the legacy constants (correct by
    # construction: an existing sidecar's sizing always wins, so every
    # sized segment in a mixed dir carries exactly those constants)
    seg = spark.read.option("mergeSchema", "true").parquet(sidecar_dir)
    if "bits" not in seg.columns:
        return BLOOM_BITS, BLOOM_K
    # Exactly ONE distinct non-null (bits, k) sizing may exist: taking
    # max(bits)/max(k) independently could silently combine bits from
    # one era with k from another if a config change ever landed
    # without compaction, and a Bloom probe with a franken-sizing
    # manufactures false negatives (missed dups). Fail loudly instead
    # — a mixed sidecar needs compaction, not a guess. (round-6
    # advice; the legacy-NULL rows still coalesce to the constants.)
    sizings = (
        seg.filter(F.col("bits").isNotNull() | F.col("k").isNotNull())
        .select("bits", "k")
        .distinct()
        .collect()
    )
    if len(sizings) > 1:
        raise ValueError(
            f"Bloom sidecar at {sidecar_dir} holds {len(sizings)} distinct "
            f"(bits, k) sizings {sorted((r['bits'], r['k']) for r in sizings)}; "
            "compact the sidecar to one sizing before probing"
        )
    if not sizings:
        return BLOOM_BITS, BLOOM_K
    row = sizings[0]
    return (
        int(row["bits"]) if row["bits"] is not None else BLOOM_BITS,
        int(row["k"]) if row["k"] is not None else BLOOM_K,
    )


def run_corpus_ingest(
    stream: DataFrame,
    *,
    bronze_dir: str,
    checkpoint_dir: str,
    bloom_sidecar_dir: str | None = None,
    stats_dir: str | None = None,
    expected_fingerprints: int = 1_000_000,
    fp_rate: float = 0.01,
    bloom_bits: int | None = None,
    bloom_k: int | None = None,
) -> None:
    """Streaming corpus intake — the documents-firehose twin of
    :func:`run_ingest`: per micro-batch, apply the Gopher-style
    repetition/shape filter (operators.corpus.repetition_passes), drop
    failing docs, exact-dedup by normalized-content fingerprint, and
    append the keepers. Dedup semantics: WITHIN a micro-batch the
    smallest doc_id wins (deterministic ``min_by``); ACROSS batches
    the earliest-arriving batch wins (bronze fingerprint anti-join) —
    arrival order, exactly like the reference's conditional put. A
    corpus-wide smallest-id guarantee would need a global shuffle per
    batch; run the batch ``exact_dedup_docs`` for that semantic.

    Same scale structure as the event path: the filter is a stateless
    projection, the per-batch dedup is one partial-agg shuffle on the
    fingerprint, and the cross-batch state is the bronze fingerprint
    column itself (no separate state store to size). Unlike the event
    path, fingerprints carry no event time, so the anti-join scan has
    no horizon to prune on — the scan bound here is the **Bloom
    sidecar** (``bloom_sidecar_dir``): every batch appends a partial
    Bloom segment over the fingerprints it wrote (bit_or merges on
    read, the CMS-segment pattern), and the next batch probes the
    merged filter FIRST. Bloom-negative fingerprints are guaranteed
    absent from bronze (no false negatives) and insert without
    touching it; only the bloom-positive slice — true dups plus the
    configured FP rate — pays the exact anti-join, and when a batch
    has no positives the bronze scan is skipped entirely. Dedup
    semantics are bit-identical to the unbounded path (the sidecar
    only routes; positives are still exactly verified), which is why
    the same oracle hash-matches either way. ``stats_dir`` records one
    row per batch (n_winners, n_maybe_dup, bronze_scanned) so the
    routing is auditable and testable.

    Sidecar sizing: the filter is sized ONCE, from
    ``expected_fingerprints`` × ``fp_rate`` (``bloom_size``: ~10
    bits/key at 1%), or explicitly via ``bloom_bits``/``bloom_k``.
    Size for the cardinality the corpus will REACH — oversizing is
    nearly free (segments store only touched (word, bits32) rows, so
    a sparse filter costs O(inserted × k) rows regardless of bits),
    while undersizing saturates the filter and silently reverts every
    batch to the full bronze scan. Segments persist their (bits, k)
    as constant columns and an existing sidecar's sizing always wins
    over the parameters: probing with mismatched sizing would create
    false negatives, i.e. missed duplicates. Filters too large to
    broadcast densely probe via a shuffle equi-join on the packed
    word index — the same plan shape, shuffling only the k probe
    words per fingerprint, never the corpus.

    Replay safety (foreachBatch is at-least-once): the sidecar
    segment is written BEFORE the bronze append. Bits-without-rows
    (crash between the two writes) only produces false POSITIVES,
    which the exact verify resolves; the reverse order would let a
    replayed batch's rows sit in bronze with no bits covering them —
    bloom-negative forever, re-inserted as permanent duplicates.
    Enabling the sidecar on a PRE-EXISTING bronze table bootstraps
    the first segment from bronze's own fp column (one scan), so
    historical fingerprints are covered from the first probe.
    """
    from nsp_bolt_pipeline_spark.operators.corpus import repetition_passes
    from nsp_bolt_pipeline_spark.operators.sketches import (
        bloom_bit,
        bloom_build,
        bloom_size,
    )
    from nsp_bolt_pipeline_spark.operators.text import fingerprint

    bits = k = None
    if bloom_sidecar_dir is not None:
        if bloom_bits is not None:
            bits = bloom_bits
            k = bloom_k if bloom_k is not None else 3
        else:
            bits, k = bloom_size(expected_fingerprints, fp_rate)
            if bloom_k is not None:
                k = bloom_k
        # an existing sidecar's sizing is a contract, not a preference
        existing = _bloom_sidecar_meta(stream.sparkSession, bloom_sidecar_dir)
        if existing is not None:
            bits, k = existing

    def write_segment(fps: DataFrame) -> None:
        """Append a partial Bloom segment covering ``fps``; bit_or
        merges on read, so re-appending the same bits (at-least-once
        redelivery) is a no-op."""
        bloom_build(
            fps.select(F.lit("all").alias("g"), "fp"), "g", F.col("fp"), k, bits
        ).drop("grp").select(
            "word",
            "bits32",
            F.lit(bits).alias("bits"),
            F.lit(k).alias("k"),
        ).write.mode("append").parquet(bloom_sidecar_dir)

    def bloom_probe(winners: DataFrame, spark: SparkSession) -> DataFrame:
        """Split winners on the merged sidecar: returns winners with a
        boolean ``_maybe`` column (True = all k bits set -> must be
        exactly verified against bronze)."""
        side = (
            spark.read.parquet(bloom_sidecar_dir)
            .groupBy("word")
            .agg(F.bit_or("bits32").alias("bits32"))
        )
        if bits // 32 <= _BLOOM_BCAST_WORDS:
            side = F.broadcast(side)
        probes = winners.select(
            "fp",
            F.explode(
                F.array(*[bloom_bit(F.col("fp"), j, bits) for j in range(k)])
            ).alias("bit_idx"),
        ).select(
            "fp",
            (F.col("bit_idx") / 32).cast("int").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bit_idx % 32 AS INT))"
            ).alias("mask"),
        )
        hit = (
            probes.join(side, "word", "left")
            .groupBy("fp")
            .agg(
                F.min(
                    (
                        F.coalesce(F.col("bits32"), F.lit(0))
                        .bitwiseAND(F.col("mask"))
                        != 0
                    ).cast("int")
                ).alias("_all_set")
            )
            .select("fp", (F.col("_all_set") == 1).alias("_maybe"))
        )
        return winners.join(hit, "fp")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # per-row column expression, not repetition_stats + re-join:
        # the filter stays a stateless shuffle-free projection, and a
        # replayed batch with a repeated doc_id cannot fan out
        passing = batch.filter(repetition_passes("text")).withColumn(
            "fp", fingerprint("text")
        )
        winners = (
            passing.groupBy("fp")
            .agg(F.min_by(F.struct(*passing.columns), F.col("doc_id")).alias("w"))
            .select("w.*")
        )

        bronze_present = dir_exists(spark, bronze_dir)
        bloom_on = bloom_sidecar_dir is not None
        if bloom_on and bronze_present and not dir_exists(
            spark, bloom_sidecar_dir
        ):
            # sidecar enabled on a pre-existing bronze: bootstrap the
            # filter from bronze itself, otherwise every historical
            # fingerprint would be bloom-negative forever and its
            # future duplicates would bypass exact verification
            write_segment(spark.read.parquet(bronze_dir).select("fp"))
        scanned = False
        n_winners = n_maybe = -1
        routed = None
        try:
            if bloom_on and bronze_present:
                routed = bloom_probe(winners, spark).persist()
                n_winners = routed.count()
                maybe = routed.filter(F.col("_maybe")).drop("_maybe")
                n_maybe = maybe.count()
                fresh = routed.filter(~F.col("_maybe")).drop("_maybe")
                if n_maybe:
                    scanned = True
                    seen = (
                        spark.read.parquet(bronze_dir)
                        .select("fp")
                        .dropDuplicates()
                    )
                    winners = fresh.unionByName(
                        maybe.join(seen, "fp", "left_anti")
                    )
                else:
                    winners = fresh
            elif bronze_present:
                scanned = True
                seen = (
                    spark.read.parquet(bronze_dir).select("fp").dropDuplicates()
                )
                winners = winners.join(seen, "fp", "left_anti")
            # pin the final keeper set ONCE, with the lineage cut —
            # localCheckpoint, not persist: the plan reads the sidecar
            # path, so the segment append below would invalidate a
            # path-based cache entry and the bronze write would
            # recompute winners against the just-written bits (its own
            # fingerprints probe positive -> `fresh` evaluates empty
            # -> zero rows reach bronze). The eager checkpoint frees
            # the plan from both paths, so segment and bronze cover
            # the same rows by construction. (Cluster note: swap for
            # df.checkpoint() if executor loss during the two writes
            # must be survivable.)
            winners = winners.localCheckpoint(eager=True)
            if bloom_on:
                # segment BEFORE bronze (see docstring: bits-without-
                # rows is safe, rows-without-bits is not)
                write_segment(winners)
            winners.write.mode("append").parquet(bronze_dir)
            if stats_dir is not None:
                spark.createDataFrame(
                    [(batch_id, n_winners, n_maybe, scanned)],
                    "batch_id long, n_winners long, n_maybe long, "
                    "bronze_scanned boolean",
                ).write.mode("overwrite").parquet(f"{stats_dir}/b={batch_id}")
        finally:
            if routed is not None:
                routed.unpersist()

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )


def compact_bloom_sidecar(spark: SparkSession, sidecar_dir: str) -> int:
    """Maintenance OPTIMIZE for the Bloom sidecar: rewrite the
    accumulated per-batch segments as ONE merged segment (bit_or per
    word — the same merge the per-batch read does), so probe-side
    merge cost stays O(touched words) instead of O(segments × words).
    Run like any compaction: while ingest is quiesced. Crash-safe via
    the scratch-dir + rename swap (a leftover ``old`` copy from a
    previous crash is restored before compacting, mirroring
    streaming/scd2.compact_history). Returns the merged word count."""
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path
    fs = hp(sidecar_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp, old = f"{sidecar_dir}__compact_tmp", f"{sidecar_dir}__old"
    if fs.exists(hp(old)) and not fs.exists(hp(sidecar_dir)):
        # crash between the two renames of a previous compaction:
        # restore the saved copy before doing anything else
        fs.rename(hp(old), hp(sidecar_dir))
    from nsp_bolt_pipeline_spark.operators.sketches import BLOOM_BITS, BLOOM_K

    # mergeSchema + null-coalesce: see _bloom_sidecar_meta — a
    # mixed-era sidecar reads legacy rows' bits/k as NULL, and
    # first(ignorenulls=False) could write a null-sized merged
    # segment. Compaction also UPGRADES a legacy-only sidecar by
    # writing the constants explicitly.
    seg = spark.read.option("mergeSchema", "true").parquet(sidecar_dir)
    meta_cols = (
        [
            F.coalesce(
                F.first("bits", ignorenulls=True), F.lit(BLOOM_BITS)
            ).alias("bits"),
            F.coalesce(
                F.first("k", ignorenulls=True), F.lit(BLOOM_K)
            ).alias("k"),
        ]
        if "bits" in seg.columns
        else [
            F.lit(BLOOM_BITS).alias("bits"),
            F.lit(BLOOM_K).alias("k"),
        ]
    )
    merged = seg.groupBy("word").agg(
        F.bit_or("bits32").alias("bits32"), *meta_cols
    )
    n = merged.count()
    merged.write.mode("overwrite").parquet(tmp)
    fs.delete(hp(old), True)
    fs.rename(hp(sidecar_dir), hp(old))
    fs.rename(hp(tmp), hp(sidecar_dir))
    fs.delete(hp(old), True)
    return n


def run_cms_ingest(
    stream: DataFrame,
    *,
    sketch_dir: str,
    checkpoint_dir: str,
    depth: int | None = None,
    width: int | None = None,
) -> None:
    """Streaming Count-Min maintenance: each micro-batch writes its
    OWN partial sketch (an immutable <= depth*width-row parquet
    segment); the live sketch is the per-(row, bucket) SUM over
    segments. Counts are associative, so the merged sketch is
    bit-identical to the batch-built one regardless of how the stream
    was chopped into batches — which is exactly what the oracle
    compare proves. Append-only segments avoid the read-modify-write
    race of updating a sketch table in place; at 100 TB this is the
    standard segment-plus-compaction layout (compaction = the same
    groupBy sum, run whenever segment count grows)."""
    from nsp_bolt_pipeline_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_build,
    )

    d = depth if depth is not None else CMS_DEPTH
    w = width if width is not None else CMS_WIDTH

    def process_batch(batch: DataFrame, _batch_id: int) -> None:
        part = cms_build(batch, text_col="text", depth=d, width=w)
        part.write.mode("append").parquet(sketch_dir)

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )


def run_boilerplate_ingest(
    stream: DataFrame,
    boiler: DataFrame,
    *,
    bronze_dir: str,
    checkpoint_dir: str,
    seg_words: int = 4,
) -> None:
    """Streaming corpus intake with boilerplate stripping: every
    micro-batch is scrubbed against a PRE-TRAINED boilerplate segment
    set (operators.corpus.boilerplate_strip's count pass, run over a
    reference corpus offline) and the cleaned docs append to bronze.

    Structure: the boiler set is a static broadcast side (the
    stream-static enrich shape); segment explode + anti-join +
    reassembly run per micro-batch inside foreachBatch — documents
    never span batches, so the per-doc groupBy is batch-local state,
    not a store. Cleaning is deterministic per doc, so at-least-once
    redelivery rewrites identical rows."""
    from nsp_bolt_pipeline_spark.operators.corpus import strip_segments

    def process_batch(batch: DataFrame, _batch_id: int) -> None:
        cleaned = strip_segments(batch, boiler, seg_words=seg_words)
        cleaned.write.mode("append").parquet(bronze_dir)

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )
