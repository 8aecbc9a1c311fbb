"""Reader-side tests (S3 JSON/base64 decode) and the
bucketed-bronze shuffle-free join (the J1 scale path)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nsp_bolt_pipeline_spark.operators.completion import completed_trips
from nsp_bolt_pipeline_spark.sources.readers import (
    decode_base64_payload,
    parse_json_column,
)
from nsp_bolt_pipeline_spark.sources.sinks import write_bronze_bucketed

def test_base64_then_json_decode_path(spark):
    df = spark.createDataFrame([('{"trip_id": "t9", "fare": 3.5}',)], ["raw"])
    wired = df.select(F.base64(F.col("raw").cast("binary")).alias("payload"))
    decoded = decode_base64_payload(wired, "payload")
    schema = T.StructType(
        [
            T.StructField("trip_id", T.StringType()),
            T.StructField("fare", T.DoubleType()),
        ]
    )
    parsed = parse_json_column(decoded, "payload", schema)
    row = parsed.select("_parsed.*").first()
    assert (row["trip_id"], row["fare"]) == ("t9", 3.5)


def test_bucketed_bronze_joins_without_shuffle(spark, tmp_path):
    starts = spark.createDataFrame(
        [(f"t{i}", float(i)) for i in range(50)], ["trip_id", "est_fare"]
    )
    ends = spark.createDataFrame(
        [(f"t{i}", float(i) * 2) for i in range(0, 50, 2)],
        ["trip_id", "fare_amount"],
    )
    write_bronze_bucketed(
        starts, "bronze_starts", buckets=4, path=str(tmp_path / "s")
    )
    write_bronze_bucketed(
        ends, "bronze_ends", buckets=4, path=str(tmp_path / "e")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the test proves bucketing (not a tiny-
        # table broadcast) is what removes the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = completed_trips(
            spark.table("bronze_starts"), spark.table("bronze_ends")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 25
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bronze_starts")
        spark.sql("DROP TABLE IF EXISTS bronze_ends")


class TestSchemaEvolution:
    def test_merge_schema_across_parquet_generations(self, spark, tmp_path):
        """S-capability: bronze written before/after a schema change
        (added column) reads back as ONE unified frame — old rows get
        nulls for the new column, nothing is silently dropped."""
        v1 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, payload string"
        )
        v2 = spark.createDataFrame(
            [(3, "c", 9.5)], "id long, payload string, score double"
        )
        out = str(tmp_path / "bronze")
        v1.write.mode("append").parquet(out)
        v2.write.mode("append").parquet(out)
        got = spark.read.option("mergeSchema", True).parquet(out)
        assert set(got.columns) == {"id", "payload", "score"}
        rows = {r.id: r for r in got.collect()}
        assert rows[1].score is None
        assert rows[3].score == 9.5
        assert len(rows) == 3


def test_spread_small_scan_spreads_and_noops(spark):
    from nsp_bolt_pipeline_spark.sources.readers import spread_small_scan

    one = spark.range(100).coalesce(1)
    spread = spread_small_scan(one, min_parts=4)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == 100

    wide = spark.range(100).repartition(8)
    # already at/above target: identical plan, no extra exchange
    assert spread_small_scan(wide, min_parts=4) is wide


def test_spread_small_scan_streaming_passthrough(spark):
    from nsp_bolt_pipeline_spark.sources.readers import spread_small_scan

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert spread_small_scan(stream, min_parts=64) is stream
