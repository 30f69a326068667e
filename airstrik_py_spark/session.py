"""SparkSession factory tuned for the test harness and for scale.

Local runs use local[N] with shuffle partitions ~= cores: N is
SPARK_GRAFT_CPUS when set, else the CPUs this process may run on (what
`nproc` reports).  On a real cluster the same session settings (AQE,
skew-join handling, Arrow) are the ones that matter at 100 TB — partition
counts are left to AQE coalescing.

DataFrame debugging (`spark.python.sql.dataFrameDebugging.enabled`) is
off.  With it on, every pyspark Column call captures a Python stack and
sends it to the JVM, several py4j round trips each; that was most of the
time `run` spent building each micro-batch's alarm plan.  It is a static
conf, so it is set here at launch.  What a user loses: an analysis
error's query context no longer names the Python call site that built
the failing Column.  `bench.py`, `tools/check.py` and the other tools
also go through get_spark, so their timings shift with it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "airstrik_py_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session(spark: SparkSession) -> SparkSession:
    """Pin runtime confs we rely on for oracle comparison on a session we did
    not create (the driver passes its own session into ``queries()``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver fixtures store TIMESTAMP(NANOS) which vanilla Spark rejects
    # (PARQUET_TYPE_ILLEGAL); read as long and convert in sources/tables.py
    # exactly the way DuckDB does (floor to micros).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def shuffle_partitions(spark: SparkSession, default: int = 32) -> int:
    """Shuffle-partition count as an int for explicit repartition() calls.
    On some platforms the conf is non-numeric (e.g. 'auto' under
    auto-optimized shuffle), so fall back to the cluster's default
    parallelism rather than crashing at plan-build time (ADVICE r8)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
