"""S1/S2 — the live ADS-B snapshot source (SURVEY §2.1).

The reference busy-polls dump1090's aircraft.json until `now` advances and
flattens `aircraft[]` row-at-a-time (load_aircraft_json, airstrik.py:189-208,
695-697); the decoder subprocess is spawned and watched by a daemon thread
(run_dump1090/start, airstrik.py:61-126).

Spark-first equivalents:
  * the poll-until-new loop IS a micro-batch trigger: a file-source
    readStream on the snapshot landing directory picks up each new snapshot
    exactly once — no polling code at all;
  * the `aircraft[]` flatten is explode() on the parsed struct;
  * the decoder is a producer outside the engine (S2): it runs under its
    own supervisor and writes snapshots into the landing dir, and `run`
    reads only that dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# aircraft.json shape (airstrik.py:481-482, 551-577; SURVEY §1.1)
SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("now", T.DoubleType()),
        T.StructField(
            "aircraft",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("hex", T.StringType()),
                        T.StructField("flight", T.StringType()),
                        T.StructField("lat", T.DoubleType()),
                        T.StructField("lon", T.DoubleType()),
                        T.StructField("nav_heading", T.DoubleType()),
                        T.StructField("alt_geom", T.DoubleType()),
                        T.StructField("seen", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def flatten_snapshots(snap: DataFrame) -> DataFrame:
    """Snapshot docs -> one observation row per aircraft (the reference's
    per-aircraft loop at airstrik.py:481): explode + struct expansion, with
    the snapshot `now` stamped as event time."""
    return (
        snap.select(
            F.col("now"),
            F.input_file_name().alias("_src"),
            F.posexplode("aircraft").alias("_pos", "a"),
        )
        .select(
            F.col("a.hex").alias("hex"),
            F.timestamp_seconds(F.col("now")).alias("ts"),
            F.col("now").alias("ts_sec"),
            F.col("a.flight").alias("flight"),
            F.col("a.lat").alias("lat"),
            F.col("a.lon").alias("lon"),
            F.col("a.nav_heading").alias("nav_heading"),
            F.col("a.alt_geom").alias("alt_geom"),
            F.col("a.seen").alias("seen"),
            # deterministic tie-break surrogate (monotonically_increasing_id
            # is unsupported on streams and differs between replays), salted
            # with the source file + array position so true duplicate
            # (hex, ts) rows keep a TOTAL order under streaming replay
            F.xxhash64("a.hex", "now", "_src", "_pos").alias("event_id"),
        )
    )


def read_snapshot_batch(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Batch read of a snapshot directory (replay/backfill path)."""
    return flatten_snapshots(
        spark.read.schema(SNAPSHOT_SCHEMA).json(landing_dir)
    )


def read_snapshot_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """S1 streaming form: each new snapshot file becomes (part of) a
    micro-batch — the `now`-change poll with zero polling code."""
    return flatten_snapshots(
        spark.readStream.schema(SNAPSHOT_SCHEMA).json(landing_dir)
    )


# PERMISSIVE + corrupt-record capture: the plain schema'd read turns a
# malformed snapshot into an all-NULL row whose NULL aircraft array then
# vanishes in posexplode — silent data loss at ingest.  (The reference is
# WORSE: json.load raises and the poll loop dies, airstrik.py:195-208.)
# Max malformed-file rows materialized on the driver by the quarantine
# path; ~1 KiB/row -> ~10 MiB worst case.  Past this we raise rather
# than risk driver memory during exactly the incident that triggers it.
QUARANTINE_DRIVER_CAP = 10_000

QUARANTINE_SCHEMA = T.StructType(
    list(SNAPSHOT_SCHEMA.fields)
    + [T.StructField("_corrupt_record", T.StringType())]
)


def read_snapshot_batch_quarantined(
    spark: SparkSession, landing_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Batch snapshot read with corrupt-payload quarantine: returns
    (observations from well-formed snapshots, quarantine frame carrying
    each malformed file's raw payload + source path).  The quarantine
    side is what an ingest pipeline counts/alerts on and replays after a
    producer fix — never silently dropped, never engine-fatal."""
    def raw() -> DataFrame:
        # NOT cached: input_file_name() is only defined during the scan
        # (a cached relation returns ''), and both branches need it — the
        # landing dir re-scan is tiny next to losing file provenance
        return (
            spark.read.schema(QUARANTINE_SCHEMA)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(landing_dir)
        )

    good = flatten_snapshots(raw().filter(F.col("_corrupt_record").isNull()))
    # Spark refuses a query that reads ONLY _corrupt_record from a raw
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented form is a
    # materialized projection that still carries data columns; src_file
    # is captured inside the projection so input_file_name() evaluates
    # during the scan.  The quarantine rows are collected to the driver
    # and rebuilt as a local DataFrame: self-contained for the session
    # lifetime, independent of later calls (the r6 cache-eviction scheme
    # invalidated PRIOR frames, ADVICE r7), no module-global state,
    # thread-safe — and unlike localCheckpoint (whose executor-local
    # blocks die with a decommissioned executor and have no lineage to
    # recompute from), it survives executor loss on a real cluster.
    # The projection must reference the FULL data schema (now AND
    # aircraft), not just enough columns to make the scan legal: the JSON
    # parser only parses — and therefore only corruption-flags — the
    # columns the query references, so a pruned {now, _corrupt_record}
    # scan would miss records whose corruption is confined to the
    # aircraft array (e.g. a string where lat should be a double): the
    # good branch's full-schema scan nulls them out while the quarantine
    # scan sees them as clean — vanishing from BOTH outputs.  The filter
    # stays in-plan so only malformed rows are collected (aircraft is
    # NULL on a corrupt record, so the collected rows carry just
    # src_file + payload in practice).  Driver-side size is bounded by
    # MALFORMED files — a large quarantine is an upstream incident, not
    # a data path — and hard-capped below (ADVICE r8): past the cap we
    # fail loudly instead of OOMing the driver mid-incident; the caller
    # should then replay the landing dir through a distributed sink.
    rows = (
        raw()
        .select(
            F.input_file_name().alias("src_file"),
            F.col("now"),
            F.col("aircraft"),
            F.col("_corrupt_record").alias("raw_payload"),
        )
        .filter(F.col("raw_payload").isNotNull())
        .limit(QUARANTINE_DRIVER_CAP + 1)
        .collect()
    )
    if len(rows) > QUARANTINE_DRIVER_CAP:
        raise RuntimeError(
            f"quarantine exceeds {QUARANTINE_DRIVER_CAP} malformed files - "
            "upstream incident; replay the landing dir through a "
            "distributed quarantine sink instead of the in-session frame"
        )
    quarantine = spark.createDataFrame(
        [(r.src_file, r.raw_payload) for r in rows],
        "src_file string, raw_payload string",
    )
    return good, quarantine

