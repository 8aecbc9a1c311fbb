"""Optional Delta Lake backend for the mutable-table surface.

The reference's mutable keyed store is DynamoDB (README.md:80;
conditional put in lambdas/TripStartProcessor/TripStartProcessor.py:
60-72). This engine's DEFAULT answer is plain parquet with explicit
transaction discipline — versioned-directory merge
(streaming/ingest.py:run_silver_upsert), fragment-log SCD2 with a
crash-safe compaction swap (streaming/scd2.py) — because it runs on
any Hadoop-compatible filesystem with zero dependencies, and every
one of those code paths is oracle-verified.

When the ``delta-spark`` package IS importable, this module hosts the
same three operations on Delta's transaction log behind the same
semantics, which is what a production deployment at 100 TB would
reach for (real MERGE file-skipping on the key columns, OPTIMIZE
instead of the rename-swap compaction, idempotent foreachBatch
commits via txnAppId/txnVersion instead of deterministic-rewrite
versioning):

- :func:`merge_upsert_delta`  ≡ operators.dedup.merge_upsert
- :func:`run_silver_upsert_delta` ≡ streaming.ingest.run_silver_upsert
- :func:`run_scd2_history_delta` + :func:`compact_history_delta`
  ≡ streaming.scd2.run_scd2_history / compact_history

Parity story: the plain-parquet twins are pinned by the DuckDB oracle
(registry entries ``d3_merge_upsert``, ``stream_scd2_history``, the
silver upsert inside ``stream_*`` ingest entries); the functions here
are pinned EQUAL to those twins by :func:`parity_check`, so the same
oracles transitively cover both layers. ``parity_check`` needs a JVM
whose session was BUILT with the Delta SQL extension — extensions
cannot be added to a live SparkContext — so the pytest wrapper
(tests/test_delta_backend.py) shells it into a fresh interpreter and
skips cleanly when ``delta-spark`` is absent (as in this sandbox,
where the module has therefore never executed against a real Delta
runtime — the API surface follows the published delta-spark Python
docs).

Install attempts (documented per round): round 5 — no package, no
broker. Round 6 — ``pip install delta-spark`` and ``pip download``
both fail at DNS (no network route to any index), the bundled Spark
distribution at /opt/spark-4.1.2-bin-hadoop3/jars ships no
delta/kafka jars to side-load, and no Kafka binaries exist on the
box. The parity harness remains the first thing to run in any CI
environment that has either; until then this layer stays EXPERIMENTAL
and the plain-parquet twins are the supported path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.streaming.run import run_available_now


def delta_available() -> bool:
    """True when the delta-spark Python package is importable."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def delta_session(app_name: str = "nsp_delta") -> SparkSession:
    """Build a SparkSession with the Delta SQL extension and catalog
    installed. Must be the FIRST session in the JVM — Spark ignores
    ``spark.sql.extensions`` on an already-running context, so calling
    this after ``get_spark`` in the same process yields a session that
    cannot run MERGE. Raises ImportError when delta-spark is absent."""
    from delta import configure_spark_with_delta_pip

    from nsp_bolt_pipeline_spark.session import _SCALE_CONF

    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    for key, val in _SCALE_CONF.items():
        builder = builder.config(key, val)
    return configure_spark_with_delta_pip(builder).getOrCreate()


def _newer_cond(order_cols: Sequence[str], upd: str, tgt: str) -> str:
    """Lexicographic '`upd` is strictly newer than `tgt`' over
    ``order_cols`` as a MERGE condition string (Delta's condition
    language has no struct comparison)."""
    clauses = []
    for i, c in enumerate(order_cols):
        eqs = " AND ".join(f"{upd}.{p} = {tgt}.{p}" for p in order_cols[:i])
        gt = f"{upd}.{c} > {tgt}.{c}"
        clauses.append(f"({eqs + ' AND ' if eqs else ''}{gt})")
    return " OR ".join(clauses)


def merge_upsert_delta(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    *,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> None:
    """operators.dedup.merge_upsert on a Delta table: collapse the
    updates to one winner per key (same max_by), then one MERGE —
    matched target rows are replaced, unmatched winners insert. The
    file-skipping on ``keys`` is what the plain-parquet twin's
    left-anti join pays a shuffle for."""
    from delta.tables import DeltaTable

    cols = spark.read.format("delta").load(target_path).columns
    ordk = F.struct(*[F.col(c) for c in order_cols])
    latest = (
        updates.groupBy(*keys)
        .agg(F.max_by(F.struct(*[F.col(c) for c in cols]), ordk).alias("_r"))
        .select("_r.*")
    )
    cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, target_path)
        .alias("t")
        .merge(latest.alias("u"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def run_silver_upsert_delta(
    stream: DataFrame,
    *,
    silver_path: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> str:
    """streaming.ingest.run_silver_upsert on Delta: per micro-batch,
    latest-wins MERGE by EVENT order (not arrival order) — a stale
    out-of-order update is a no-op via the strictly-newer matched
    condition, exactly the versioned-directory runner's max_by over
    previous-version ∪ batch. Idempotent under at-least-once delivery
    because replaying a batch re-applies rows that are never strictly
    newer than what they already wrote. Returns ``silver_path``."""
    from delta.tables import DeltaTable

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ordk = F.struct(*[F.col(c) for c in order_cols])
        latest = (
            batch.groupBy(*keys)
            .agg(
                F.max_by(F.struct(*[F.col(c) for c in batch.columns]), ordk)
                .alias("_r")
            )
            .select("_r.*")
        )
        if not DeltaTable.isDeltaTable(spark, silver_path):
            latest.write.format("delta").mode("overwrite").save(silver_path)
            return
        cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
        (
            DeltaTable.forPath(spark, silver_path)
            .alias("t")
            .merge(latest.alias("u"), cond)
            .whenMatchedUpdateAll(condition=_newer_cond(order_cols, "u", "t"))
            .whenNotMatchedInsertAll()
            .execute()
        )

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )
    return silver_path


def run_scd2_history_delta(
    stream: DataFrame,
    *,
    table_path: str,
    checkpoint_dir: str,
    key: str,
    attr: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    app_id: str = "nsp_scd2_history",
) -> str:
    """streaming.scd2.run_scd2_history on Delta: the fragment log is
    ONE Delta table instead of versioned directories — each batch
    APPENDS its run fragments in a transaction stamped with
    (txnAppId, txnVersion=batch_id), which is Delta's idempotent-
    foreachBatch contract (a replayed batch's append is skipped by the
    log, replacing the deterministic-rewrite versioning of the plain
    runner). Serving is unchanged: ``close_intervals`` over the table
    read. Returns ``table_path``."""
    from nsp_bolt_pipeline_spark.streaming.scd2 import batch_to_runs

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        new_runs = batch_to_runs(
            batch.select(key, attr, ts_col, id_col),
            key=key,
            attr=attr,
            ts_col=ts_col,
            id_col=id_col,
        )
        (
            new_runs.write.format("delta")
            .mode("append")
            .option("txnAppId", app_id)
            .option("txnVersion", batch_id)
            .save(table_path)
        )

    run_available_now(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir
    )
    return table_path


def compact_history_delta(
    spark: SparkSession, table_path: str, *, key: str, attr: str
) -> None:
    """streaming.scd2.compact_history on Delta: collapse adjacent
    equal-attribute fragments and OVERWRITE in one transaction — the
    log makes the rename-swap dance (and its crash-window recovery)
    unnecessary; readers see the old or the new snapshot, never a
    half-state. VACUUM/OPTIMIZE scheduling is left to the table's
    maintenance policy."""
    from nsp_bolt_pipeline_spark.streaming.scd2 import _collapse_runs

    compacted = _collapse_runs(
        spark.read.format("delta").load(table_path), key=key, attr=attr
    )
    # self-referential overwrite: Delta reads the snapshot it plans
    # from, so this is safe in one transaction (unlike plain parquet)
    compacted.write.format("delta").mode("overwrite").save(table_path)


# ---------------------------------------------------------------------------
# Parity harness: run in a FRESH interpreter (see module docstring).
# ---------------------------------------------------------------------------


def parity_check(workdir: str) -> list[str]:
    """Prove the Delta layer equal to the oracle-pinned plain-parquet
    twins on a deterministic fixture. Returns the list of passed
    check names; raises AssertionError on any divergence."""
    import os

    from nsp_bolt_pipeline_spark.operators.dedup import merge_upsert
    from nsp_bolt_pipeline_spark.streaming.ingest import run_silver_upsert
    from nsp_bolt_pipeline_spark.streaming.scd2 import (
        close_intervals,
        run_scd2_history,
    )

    spark = delta_session("nsp_delta_parity")
    passed: list[str] = []

    def rows(df: DataFrame) -> list[tuple]:
        return sorted(map(tuple, df.collect()))

    # --- merge_upsert parity -------------------------------------------
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["k", "v", "ord"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 30), (2, "b1", 25), (3, "c", 5)], ["k", "v", "ord"]
    )
    plain = merge_upsert(target, updates, keys=["k"], order_cols=["ord"])
    dpath = os.path.join(workdir, "merge_tbl")
    target.write.format("delta").save(dpath)
    merge_upsert_delta(spark, dpath, updates, keys=["k"], order_cols=["ord"])
    assert rows(spark.read.format("delta").load(dpath)) == rows(plain)
    passed.append("merge_upsert")

    # --- silver upsert parity (two sequential availableNow runs) -------
    src = os.path.join(workdir, "silver_src")
    os.makedirs(src)
    import json

    for name, batch in (
        ("b0.json", [(1, "x", 3), (2, "y", 1)]),
        ("b1.json", [(1, "stale", 2), (2, "y2", 4)]),
    ):
        with open(os.path.join(src, name), "w") as f:
            for k, v, o in batch:
                f.write(json.dumps({"k": k, "v": v, "ord": o}) + "\n")

    def reader():
        return spark.readStream.schema("k long, v string, ord long").json(src)

    plain_out = run_silver_upsert(
        reader(),
        silver_root=os.path.join(workdir, "silver_plain"),
        checkpoint_dir=os.path.join(workdir, "silver_plain_ck"),
        keys=["k"],
        order_cols=["ord"],
    )
    delta_out = run_silver_upsert_delta(
        reader(),
        silver_path=os.path.join(workdir, "silver_delta"),
        checkpoint_dir=os.path.join(workdir, "silver_delta_ck"),
        keys=["k"],
        order_cols=["ord"],
    )
    assert rows(spark.read.format("delta").load(delta_out)) == rows(
        spark.read.parquet(plain_out)
    )
    passed.append("silver_upsert")

    # --- scd2 history parity (fragment log + serving view) -------------
    esrc = os.path.join(workdir, "scd2_src")
    os.makedirs(esrc)
    t0 = 1_700_000_000_000_000
    hour = 3_600_000_000
    attrs = "AABBA"
    for b, rng in enumerate((range(0, 3), range(3, 5))):
        with open(os.path.join(esrc, f"b{b}.json"), "w") as f:
            for i in rng:
                f.write(
                    json.dumps(
                        {
                            "event_id": i,
                            "ts": t0 + i * hour,
                            "k": 7,
                            "attr": attrs[i],
                        }
                    )
                    + "\n"
                )

    def ereader():
        return spark.readStream.schema(
            "event_id long, ts long, k long, attr string"
        ).json(esrc)

    plain_hist = run_scd2_history(
        ereader(),
        history_root=os.path.join(workdir, "hist_plain"),
        checkpoint_dir=os.path.join(workdir, "hist_plain_ck"),
        key="k",
        attr="attr",
        ts_col="ts",
        id_col="event_id",
    )
    delta_hist = run_scd2_history_delta(
        ereader(),
        table_path=os.path.join(workdir, "hist_delta"),
        checkpoint_dir=os.path.join(workdir, "hist_delta_ck"),
        key="k",
        attr="attr",
        ts_col="ts",
        id_col="event_id",
    )
    serve_plain = close_intervals(
        spark.read.parquet(plain_hist), key="k", attr="attr"
    )
    delta_log = spark.read.format("delta").load(delta_hist)
    serve_delta = close_intervals(delta_log, key="k", attr="attr")
    assert rows(serve_delta) == rows(serve_plain)
    passed.append("scd2_history")

    # compaction preserves serving and shrinks the fragment count
    n_before = delta_log.count()
    compact_history_delta(spark, delta_hist, key="k", attr="attr")
    after = spark.read.format("delta").load(delta_hist)
    assert after.count() <= n_before
    assert rows(close_intervals(after, key="k", attr="attr")) == rows(
        serve_plain
    )
    passed.append("scd2_compaction")
    return passed


if __name__ == "__main__":
    import sys
    import tempfile

    wd = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    names = parity_check(wd)
    print("PARITY-OK " + " ".join(names))
