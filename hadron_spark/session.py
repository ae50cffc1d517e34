"""SparkSession factory tuned for both local testing and cluster scale.

The reference tunes physical knobs by hand (mroNumMap/mroNumReduce,
compression codecs — reference src/Hadron/Types.hs:71-91); here the
same intent is expressed once as session configuration and AQE does
the runtime re-planning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "hadron_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults chosen for the 100 TB design target:
    - AQE on (runtime partition coalescing, skew-join splitting) so a
      statically chosen shuffle-partition count never becomes the
      bottleneck at 1000 executors.
    - Arrow on for every Python<->JVM exchange (Pandas UDF hot paths).
    - UTC session timezone so timestamp semantics are engine-portable.
    - broadcast threshold left at default 10MB; small dims (region,
      nation) broadcast automatically, big joins stay sort-merge.
    """
    par = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{par}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written event data) is
        # rejected by the vectorized reader; surface it as bigint nanos
        # and let taps/queries normalize to micros timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # delete a reliable pin's rdd-N checkpoint dir once its frame is
        # garbage (ops.pin); read from the context's conf when the
        # checkpoint is written, so it must be set before the context
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
