"""SparkSession factory.

Local-mode defaults tuned for the harness (local[N], one JVM), but every
setting here is chosen to also be the right *shape* at cluster scale:
AQE on (runtime skew-join + partition coalescing), shuffle partitions
sized to parallelism, Arrow enabled for the pandas-UDF paths, session
timezone pinned to UTC so timestamps compare exactly against external
oracles.

Partition directories are listed on the driver
(``PARTITION_LISTING_SERIAL_MAX``). Spark lists the leaf directories of
a partitioned read with a distributed job of one task per directory
once there are more than 32 of them — 64 tasks to list one 64-bucket
state table, once per table per micro-batch in the ingest daemon
(streaming.ParquetStateStore). The stores this program writes are on
the local file system (their existence checks and ledgers use ``os``)
and hold 8-64 buckets: listing them on the driver takes milliseconds,
while a listing job pays a task launch per directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# InferFiltersFromGenerate wraps every explode(expr) in size(expr)>0 AND
# isnotnull(expr) pre-filters. Its cost model does not treat higher-order
# functions (transform/filter lambdas — CodegenFallback, interpreted) as
# expensive, and predicate pushdown then sinks those filters below
# exchanges — so e.g. a shingling expression gets re-evaluated 4x per row
# single-threaded at the scan. Measured 10.8s -> 0.65s at sf0.1 on the
# MinHash signature query. The inferred filter only skips empty arrays,
# which explode skips anyway — excluding the rule is semantically free.
EXCLUDED_OPTIMIZER_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

# spark.sql.sources.parallelPartitionDiscovery.threshold: above this many
# directories a read lists them with a Spark job. Well above any bucket
# count the state stores use (8-64), see the module docstring.
PARTITION_LISTING_SERIAL_MAX = 1024


def get_spark(app_name: str = "maillog2db_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(PARTITION_LISTING_SERIAL_MAX))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/sparklog_warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session
    (the driver hands us one in ``__spark_entry__.entry``). The
    correctness-critical subset lives in io.ensure_session_conf (the
    single list, also self-applied by every query at its load
    chokepoint); this adds the perf-only extras."""
    from . import io

    io.ensure_session_conf(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
