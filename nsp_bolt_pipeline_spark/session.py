"""SparkSession construction with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same configs apply (AQE, skew-join handling, partition sizing) — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs that matter at 100 TB as much as on a laptop: adaptive
#: execution re-plans joins/partitions at runtime from observed stats,
#: skew-join splitting protects the completion join from hot trip keys,
#: Arrow makes the (rare) pandas-UDF path batch-vectorized.
_SCALE_CONF = {
    # local mode: one JVM is driver AND executor, but spark.driver.memory
    # defaults to 1g — a 179-entry battery in one session exhausts it at
    # the first deep AQE broadcast (observed: graph_triangles failing
    # "Not enough memory to build and broadcast" after ~170 green
    # queries). Only effective when WE launch the JVM (tests, bench,
    # verify tools); a driver-owned session sizes itself.
    "spark.driver.memory": "6g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime Bloom-filter pushdown: a selective join's build side
    # injects a Bloom filter into the probe side's scan, cutting the
    # shuffled volume before the join — free row-group skipping for
    # the q3/q5/q18-shape selective fact joins at 100 TB
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # bound how long superseded localCheckpoint/broadcast blocks from
    # iterative operators (connected_components) linger before the
    # ContextCleaner reclaims them — the 30 min default lets them pile
    # up in a long-lived driver
    "spark.cleaner.periodicGC.interval": "5min",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB scan splits
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.showConsoleProgress": "false",
    # The synthetic events table carries parquet TIMESTAMP(NANOS);
    # read as long + convert (see sources.readers.read_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "nsp_bolt_pipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — the
    reference's Glue job inherited Spark's 200 default, which is wrong
    in both directions (over-parallelized locally, under- at 100 TB);
    on a cluster pass an explicit value sized to data volume, or rely
    on AQE coalescing from a higher initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in _SCALE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
