"""Sink adapters — SURVEY §2.1 S3-S9.

The reference writes row-at-a-time to Mongo collections and a Kafka producer
(airstrik.py:543, 584-626, 318-368, 668-691; csvdump.py; dbread dump).  Here
every sink is a DataFrame writer:

  * trip/decimated/stats stores -> parquet under `--out`; nested documents
    map to parquet structs losslessly;
  * Kafka alert/warning -> to_json payload + topic column for
    format("kafka") (or collected for print fallback when no broker is
    configured, matching the reference's empty-address behavior);
  * CSV/JSON exports -> native DataFrame writers with the reference's
    headers/projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def trip_documents(assembled: DataFrame, cfg) -> DataFrame:
    """The EXACT nested flight_records document shape (SURVEY §1.3,
    FIXTURES.md A3; assembled doc at airstrik.py:498-543): per-attribute
    `struct<value, ts>` pairs, `extras struct<start_time, end_time>`,
    `filters map<string, struct<dist, alt>>`, `flight_id`.

    Input: sessions.trips output (+ trip_name).  Parquet stores this
    losslessly."""
    pair = lambda v, t: F.when(  # noqa: E731
        v.isNotNull(), F.struct(v.alias("value"), t.alias("ts"))
    )
    filter_entries = F.filter(
        F.array(
            *[
                F.when(
                    (F.col("asof_dist") <= F.lit(gf.max_dist_km))
                    & (
                        F.col("asof_alt").isNull()
                        | (F.col("asof_alt") <= F.lit(gf.max_alt_m))
                    ),
                    F.struct(
                        F.lit(gf.name).alias("key"),
                        F.struct(
                            F.lit(gf.max_dist_km).alias("dist"),
                            F.lit(gf.max_alt_m).alias("alt"),
                        ).alias("value"),
                    ),
                )
                for gf in cfg.filters
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return assembled.select(
        F.col("flight_id"),
        # each pair is (value, ts-of-that-entry): the reference writes the
        # matched history entry verbatim (airstrik.py:505-508).  DEVIATION:
        # the reference stamps predicted names and extras.end_time with the
        # CLOSURE snapshot time a_json['now'] (airstrik.py:515, 523) — the
        # first feed tick > end + remember; this writer uses end_sec (last
        # observation) because the batch/fixture path has no feed ticks to
        # read a closure time from, and the session's own timestamps keep
        # the document self-contained.  Offset = whatever real-feed silence
        # preceded closure (>= remember).
        F.array(
            pair(F.col("trip_name"), F.coalesce(F.col("asof_flight_sec"), F.col("end_sec")))
        ).alias("flight_name_id"),
        pair(F.col("asof_lat"), F.col("asof_lat_sec")).alias("lat"),
        pair(F.col("asof_lon"), F.col("asof_lon_sec")).alias("lon"),
        pair(F.col("asof_alt"), F.col("asof_alt_sec")).alias("alt_geom"),
        pair(F.col("asof_dist"), F.col("asof_dist_sec")).alias("distance"),
        F.struct(
            F.col("start_sec").alias("start_time"),
            F.col("end_sec").alias("end_time"),
        ).alias("extras"),
        F.map_from_entries(filter_entries).alias("filters"),
        # legacy commentary rides top-level, where dbread.py:48 reads it
        # ("Trip N: <commentary>"); absent in non-legacy assemblies
        *(
            [F.col("commentary")]
            if "commentary" in assembled.columns
            else []
        ),
    )


def read_store(spark, path: str) -> DataFrame:
    """Read a document store written across schema epochs: mergeSchema
    unions the per-file schemas (e.g. a legacy epoch carrying the
    `commentary` column next to a newer epoch without it — exactly how
    dbread.py tolerates both store layouts), with NULLs where a file
    lacks a column.  Schema-on-read like the Mongo original; the default
    parquet read would pin the first footer's schema and silently drop
    later columns."""
    return spark.read.option("mergeSchema", True).parquet(path)


def kafka_records(payload_df: DataFrame) -> DataFrame:
    """S5 — serialize alert/warning payloads to Kafka records: key =
    plane_hex, value = JSON of all payload fields, topic column routes
    alert vs warning (airstrik.py:345-368; message contract README.md:57-68).
    Missing altitude stringifies as 'unknown' at this edge (README.md:63).
    `eta` is a WARNING-ONLY key (README.md:66; the alert dict at
    airstrik.py:355-363 never carries it) — alert records null it out and
    to_json's null-omission drops the key, so alert value bytes match the
    reference's message exactly."""
    value_cols = [c for c in payload_df.columns if c != "topic"]
    edge = payload_df.withColumn(
        "altitude",
        F.coalesce(F.col("altitude").cast("string"), F.lit("unknown")),
    )
    if "eta" in value_cols:
        # eta is WARNING-ONLY: the unmatched-when() branch yields NULL, so
        # a NULL or unrecognized topic nulls eta exactly like an alert does
        # (ADVICE r9 — the former comment claimed the payload survived).
        # That is the intended contract: only 'airstrik-warning' carries
        # eta on the wire (README.md:66), and the only producer (alarm.py)
        # guarantees topic is one of the two literals, so nothing else is
        # ever routed here.
        edge = edge.withColumn(
            "eta",
            F.when(F.col("topic") == "airstrik-warning", F.col("eta")),
        )
    return edge.select(
        F.col("plane_hex").alias("key"),
        F.to_json(F.struct(*value_cols)).alias("value"),
        "topic",
    )


def write_kafka(payload_df: DataFrame, bootstrap: str) -> None:
    """Kafka write when a broker is configured; empty address -> caller
    should print instead (reference behavior, airstrik.py:345-368)."""
    (
        kafka_records(payload_df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .save()
    )


def write_csv(df: DataFrame, out_dir: str) -> None:
    """S8 — header CSV export (csvdump.py:39-101).

    Legacy `commentary` never reaches CSV: csvdump.py:89 skips the field
    explicitly ("commentary for legacy db" — it is a string among
    epoch-valued extras and would crash the datetime conversion there);
    the skip is mirrored at this sink boundary so every CSV path shares
    it."""
    df.drop("commentary").write.option("header", True).mode("overwrite").csv(
        out_dir
    )


def write_json(df: DataFrame, out_dir: str) -> None:
    """S9 — JSON dump of matched planes (dbread.py:125-154)."""
    df.write.mode("overwrite").json(out_dir)
