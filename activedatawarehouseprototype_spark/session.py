"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle numbers.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it to ~2-3x total cores and let AQE coalesce.
- UTC session timezone so window bucketing / epoch math is engine- and
  host-independent (the DuckDB oracle treats naive timestamps as UTC).
- Arrow enabled: every pandas_udf / mapInPandas hop is columnar.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.
  enabled=false``): PySpark 4.1 otherwise records the Python call site
  on every ``F.*``/DataFrame call, about six extra JVM round trips per
  call. A micro-batch builds its rule plan from thousands of such calls
  (one 23-rule grouped plan: 4,675 round trips with it, 1,505
  without), so the capture was most of the plan-build cost. The price:
  DataFrame error messages no longer name the Python line that built
  the failing expression; the JVM stack trace is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "adw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows_df(spark: SparkSession, rows, schema):
    """Single-partition DataFrame for CONTROL-PLANE tables (rule sets,
    centroids, meta rows, constraint summaries).

    ``spark.createDataFrame(list, schema)`` parallelizes even a 16-row
    list across ``defaultParallelism`` Python-RDD partitions; any
    single-task consumer (``coalesce(1)`` write, broadcast build) then
    executes those Python partitions serially — measured ~4 s per tiny
    table at local[32], pure fixed overhead, multiplied by every
    micro-batch that rebuilds a rules table. One explicit slice makes
    it one Python worker round-trip (~0.3 s) and is also the right
    shape on a cluster: control-plane rows never need distribution.
    """
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
