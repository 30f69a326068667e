"""AQE's runtime skew-join handling on a deliberately skewed key."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew-join handling must kick in on a hot key when the
    split thresholds are reachable — the zero-code-change path for hot
    join keys at 100 TB."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, F.lit("hot"))
            .otherwise(((F.col("id") % 49) + 1).cast("string"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(50).select(
            F.when(F.col("id") == 0, F.lit("hot"))
            .otherwise(F.col("id").cast("string"))
            .alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        j = big.join(dim, "k")
        # collect() drives THIS DataFrame's query execution, so the adaptive
        # plan below is the final one (count() would spawn a separate QE)
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
