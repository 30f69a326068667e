"""Bucketed-table co-location: pay the key shuffle ONCE at write time, then
join and aggregate on that key forever with ZERO exchanges.

This is the 100 TB pattern for the hot `hex` key (SCALE.md): land the
observation store bucketed by hex, and every per-plane pipeline stage —
sessionize, trip fold, enrichment join — reads pre-partitioned data.  The
demo query (registry/extras_q.py::join_bucketed_coloc) proves the property:
with broadcast disabled, groupBy + join over two bucketed tables executes
with 0 Exchange nodes (pinned by tests/test_bucketing.py).

Reference parity note: the reference's Mongo layout keyed collections by
plane (dbread.py:41-57) for the same access pattern; bucketing is the
columnar-store equivalent with planner-visible co-location.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# z-order: bits per dimension and the file-bucket shift (2^32 interleaved
# keys -> 2^10 = 1024 file buckets)
ZORDER_BITS = 16
ZORDER_FILE_SHIFT = 22


def zorder_interleave_sql(a: str, b: str, bits: int = ZORDER_BITS, dialect: str = "spark") -> str:
    """Bit-interleave expression for two `bits`-wide non-negative ints: bit i
    of `a` lands at position 2i, bit i of `b` at 2i+1.  Generated per
    dialect (Spark SQL spells shifts as functions, DuckDB as operators);
    the sum of disjoint power-of-two terms is integer-exact on both."""
    terms = []
    for i in range(bits):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_plan(events: DataFrame) -> DataFrame:
    """Z-order (Morton-curve) layout plan over the two hottest filter axes
    of the event stream — time and key: each dimension is min-max scaled to
    16 bits INTEGER-ONLY (`(x - min) * 65535 div span` on BIGINT — doubles
    would lose exactness at micro-timestamp magnitudes), the bits are
    interleaved into a 32-bit Morton key, and `file_id = zkey >> 22`
    assigns one of 1024 write buckets.

    Why it matters at 100 TB: a table range-partitioned on the Morton key
    keeps rows that are close in BOTH ts and user_id in the same files, so
    parquet min/max stats prune scans for time-range AND key-range
    predicates simultaneously — the standard multi-dimensional clustering
    trick (Delta/Iceberg OPTIMIZE ZORDER) expressed as a plain query.
    Cost shape: one tiny min/max aggregate broadcast back onto a pure map
    stage; the only shuffle a writer would add is repartitionByRange(zkey).
    """
    bounds = events.agg(
        F.min(F.unix_micros("ts")).alias("ts_min"),
        F.max(F.unix_micros("ts")).alias("ts_max"),
        F.min("user_id").alias("uid_min"),
        F.max("user_id").alias("uid_max"),
    )
    d = events.join(F.broadcast(bounds)).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("user_id").cast("long").alias("uid"),
        "ts_min",
        "ts_max",
        "uid_min",
        "uid_max",
    )
    scale = (1 << ZORDER_BITS) - 1
    d = d.select(
        "event_id",
        F.expr(
            f"CASE WHEN ts_max > ts_min THEN ((ts_us - ts_min) * {scale}) div (ts_max - ts_min) ELSE CAST(0 AS BIGINT) END"
        ).alias("ts_bin"),
        F.expr(
            f"CASE WHEN uid_max > uid_min THEN ((uid - uid_min) * {scale}) div (uid_max - uid_min) ELSE CAST(0 AS BIGINT) END"
        ).alias("uid_bin"),
    )
    zkey = F.expr(zorder_interleave_sql("ts_bin", "uid_bin", dialect="spark"))
    return d.select(
        "event_id",
        "ts_bin",
        "uid_bin",
        zkey.alias("zkey"),
        F.expr(
            zorder_interleave_sql("ts_bin", "uid_bin", dialect="spark")
            + f" div {1 << ZORDER_FILE_SHIFT}"
        ).alias("file_id"),
    )


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 8,
    path: str | None = None,
) -> DataFrame:
    """Write `df` as a parquet table bucketed (and sorted) by `key` and
    return the catalog-backed read.  Idempotent: drops and overwrites, so
    repeated driver runs in one session are safe.  The bucket count is the
    write-time parallelism contract — at 100 TB pick buckets ~= cluster
    cores so one bucket ~= one task."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="airstrik_bucketed_"), name)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )
    return spark.table(name)
