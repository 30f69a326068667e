"""t2 queries for sink-side projections and scans: S3 trip docs, F4/S4
decimation, S5 kafka routing, S7 catalog scan, F7/S8 CSV flatten, S9 JSON
dump, S10 DDL (static-oracle lifecycle since r4) — SURVEY §2.1/§2.2."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.config import REFERENCE, TESTDATA
from airstrik_py_spark.operators import alarm as AL
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.operators.decimation import decimate
from airstrik_py_spark.operators.search import search_planes
from airstrik_py_spark.oracle.exprs import (
    asof_ctes,
    dead_reckoning_ctes,
    kin_ctes,
    session_ctes,
)
from airstrik_py_spark.registry.kinematics_q import TS_FMT_DUCK, TS_FMT_SPARK
from airstrik_py_spark.registry.search_q import PREDICATES
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import TABLES, load_table, observations

CFG = TESTDATA
_CTES = session_ctes(CFG.remember_s)
# the kafka-alert oracle pairs with REFERENCE-profile Spark queries, so it
# uses the full-precision home origin
_KIN = kin_ctes(home_lat=REFERENCE.home_lat, home_lon=REFERENCE.home_lon)
_WIN = "PARTITION BY hex ORDER BY ts_sec, event_id"


def _fmt_sec_spark(col: F.Column) -> F.Column:
    """Epoch-seconds double -> 'yyyy-MM-dd HH:mm:ss' string; round-trips the
    micros exactly (round before cast kills the 1-ulp-under case)."""
    return F.date_format(
        F.timestamp_micros(F.round(col * 1000000.0, 0).cast("long")), TS_FMT_SPARK
    )


def _fmt_sec_duck(expr: str) -> str:
    return (
        f"strftime(make_timestamp(CAST(round(({expr}) * 1000000.0, 0) AS BIGINT)), "
        f"'{TS_FMT_DUCK}')"
    )


def _assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    t = S.trips_from_obs(observations(spark, sf_dir), CFG)
    return S.enrich_icao(t, spark, sf_dir, name_col="asof_flight")


def q_sink_mongo_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — the closed-trip document as inserted into `flight_records`
    (airstrik.py:498-543); `_id` = (flight_id, session) makes the write
    idempotent under replay (exactly-once upgrade, SURVEY §2.8)."""
    t = _assembled(spark, sf_dir)
    return t.select(
        F.concat_ws("_", "flight_id", "session_id").alias("_id"),
        "flight_id",
        F.col("trip_name").alias("flight_name"),
        F.round("asof_lat", 6).alias("lat_value"),
        F.round("asof_lon", 6).alias("lon_value"),
        F.round("asof_alt", 6).alias("alt_value"),
        # write['distance'] is the as-of entry (value, its own ts) — the
        # reference's reversed scan stores the oldest pair <= closest_time
        # (airstrik.py:505-508), and the filter re-match uses that value
        # (airstrik.py:524-535)
        F.col("asof_dist").alias("distance_value"),
        F.round("asof_dist_sec", 6).alias("distance_sec"),
        F.round("start_sec", 6).alias("extras_start"),
        F.round("end_sec", 6).alias("extras_end"),
        AL.matched_filters(F.col("asof_dist"), F.col("asof_alt"), CFG).alias(
            "filters"
        ),
    )


def q_filter_decimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — pass every Nth changed update per key (airstrik.py:584-626)."""
    pin_session(spark)
    d = decimate(observations(spark, sf_dir), CFG)
    return d.select(
        "hex",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        "update_seq",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )


def q_sink_mongo_decimated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — the decimated live-sample doc (airstrik.py:601-624)."""
    pin_session(spark)
    d = decimate(observations(spark, sf_dir), CFG)
    return d.select(
        F.col("hex").alias("flight_id"),
        F.round("lat", 6).alias("lat_value"),
        F.round("lat_sec", 6).alias("lat_sec"),
        F.round("lon", 6).alias("lon_value"),
        F.round("lon_sec", 6).alias("lon_sec"),
    )


def q_sink_kafka_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — alert/warning topic routing summary (raise_alarm, airstrik.py:
    318-368): events and distinct planes per Kafka topic.  The JSON value
    serialization itself is to_json at the writeStream edge (sinks/)."""
    pin_session(spark)
    state = AL.dead_reckoning(
        AL.latest_fix(observations(spark, sf_dir), REFERENCE), REFERENCE
    )
    pay = AL.alarm_payload(state, REFERENCE)
    return pay.groupBy("topic").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("plane_hex").alias("n_planes"),
    )


def q_scan_mongo_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — enumerate stores with row counts (list_command, dbread.py:15-58)."""
    pin_session(spark)
    parts = [
        load_table(spark, sf_dir, t)
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in TABLES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_project_flatten_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — trip doc -> flat CSV row: pair values unpacked, epoch->datetime
    strings, filters map stringified 'name (d, a)' (csvdump.py:62-101)."""
    t = _assembled(spark, sf_dir)
    m_close = (F.col("asof_dist") <= 10.0) & (
        F.col("asof_alt").isNull() | (F.col("asof_alt") <= 1000.0)
    )
    m_too = (F.col("asof_dist") <= 5.0) & (
        F.col("asof_alt").isNull() | (F.col("asof_alt") <= 1000.0)
    )
    return t.select(
        "flight_id",
        F.col("trip_name").alias("flight_name"),
        F.round("asof_lat", 6).alias("lat"),
        F.round("asof_lon", 6).alias("lon"),
        F.round("asof_alt", 6).alias("alt_geom"),
        F.col("asof_dist").alias("distance"),
        _fmt_sec_spark(F.col("start_sec")).alias("start_time"),
        _fmt_sec_spark(F.col("end_sec")).alias("end_time"),
        F.concat_ws(
            ", ",
            F.when(m_close, F.lit("close (10.0, 1000.0)")),
            F.when(m_too, F.lit("tooclose (5.0, 1000.0)")),
        ).alias("filters"),
    )


def q_sink_csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — the stats-mode CSV export (csvdump.py:39-67): day rows with the
    four counters, date column formatted."""
    from airstrik_py_spark.operators import stats as ST

    pin_session(spark)
    trips = S.trips_from_obs(observations(spark, sf_dir), CFG)
    return ST.daily_stats(trips, CFG).select(
        F.col("day").alias("date"),
        "unique_planes",
        "total_trips",
        "unique_alarm_planes",
        F.col("total_alarm_trips").cast("long").alias("total_alarm_trips"),
    )


def q_sink_json_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — dump the planes matched by the last search with their latest
    state (dump_command, dbread.py:125-154)."""
    pin_session(spark)
    obs = observations(spark, sf_dir)
    matched = search_planes(obs, PREDICATES)
    latest = K.latest_per_key(obs, ["lat", "lon", "alt_geom", "flight"])
    return matched.join(latest, "hex").select(
        "hex",
        "flight",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.round("alt_geom", 6).alias("alt_geom"),
    )


DDL_PROBE_OBJECTS = (
    "airstrik_ddl_trips",
    "airstrik_ddl_decimated",
    "airstrik_ddl_stats",
)


def q_ddl_drop_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — drop/reset catalog objects with confirmation left to the shell
    (drop_command/reset_command, dbread.py:62-76, 157-169).  Mirrors
    reset_command's whole-store sweep: create the three collection analogs
    (trips / decimated / stats), verify they list, drop ALL of them, verify
    the post-drop catalog.  Exercises real temp-view DDL on the live
    session, and the lifecycle outcome is deterministic — so unlike the
    old single-probe rows-only form this has a static hash-verifiable
    oracle (every row must come back created=true, verified_gone=true)."""
    pin_session(spark)
    for n in DDL_PROBE_OBJECTS:
        spark.range(1).createOrReplaceTempView(n)
    listed = {t.name for t in spark.catalog.listTables()}
    created = {n: n in listed for n in DDL_PROBE_OBJECTS}
    for n in DDL_PROBE_OBJECTS:
        spark.catalog.dropTempView(n)
    after = {t.name for t in spark.catalog.listTables()}
    rows = [
        (n, bool(created[n]), n not in after) for n in DDL_PROBE_OBJECTS
    ]
    return spark.createDataFrame(
        rows, "object string, created boolean, verified_gone boolean"
    )


QUERIES = {
    "sink_mongo_trip": q_sink_mongo_trip,
    "filter_decimation": q_filter_decimation,
    "sink_mongo_decimated": q_sink_mongo_decimated,
    "sink_kafka_alert": q_sink_kafka_alert,
    "scan_mongo_collections": q_scan_mongo_collections,
    "project_flatten_csv": q_project_flatten_csv,
    "sink_csv_export": q_sink_csv_export,
    "sink_json_dump": q_sink_json_dump,
    "ddl_drop_reset": q_ddl_drop_reset,
}

# OLDEST-wins as-of (shared lean formulation, oracle/exprs.py::asof_ctes
# — mirrors operators/sessions.py::_asof_struct_before, reference scan
# quirk airstrik.py:505-508; see asof_ctes' docstring for why the
# min(struct_pack) form was retired in r8).
_ASOF = asof_ctes().lstrip("\n") + """,
assembled AS (
  SELECT t.*, a.asof_lat, a.asof_lon, a.asof_alt, a.asof_dist, a.asof_dist_sec,
         coalesce(a.asof_flight, n.n_name || ' (p)') AS trip_name
  FROM trips t
  JOIN asof_state a ON t.flight_id = a.hex AND t.session_id = a.session_id
  LEFT JOIN nation n ON CAST(t.flight_id AS INTEGER) % 25 = n.n_nationkey
  WHERE t.end_sec - t.start_sec >= 3600.0
)"""

def _decim_closed_ctes(n: int, force_new: bool) -> str:
    """Closed-form write cadence as SQL — the same derivation as
    operators/decimation.py::decimate's module docstring (writes at
    S' + k*N, S' = E0 + N*ceil((F - E0)/N) (+1 when force_new), E0/F the
    first packets with n_lat>=2 / both>=2).  Replaced the per-packet
    RECURSIVE fold as the registered oracle in r10 (VERDICT r9 #4): the
    fold's depth = longest trip, and the 200k-row hot hex in the
    adversarial skew fixture blew the 900 s budget, while this form is
    three window passes like the engine's.  The fold remains the
    independent packet-by-packet derivation in
    tests/test_decimation_oracle.py, pinned equal to this form at small sf.

    Builds on session_ctes' runstate: lat_fix/lon_fix and the running
    n_lat_fix/n_lon_fix there mirror the fold's lat_new/n_lat exactly
    (non-null and different from the previous non-null head)."""
    win = "PARTITION BY hex, session_id ORDER BY ts_sec, event_id"
    run = f"{win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    if n == 0:
        # factor 0 = closest-only mode: no per-update samples pass
        # (config.yaml:7); schema-stable empty, like the engine's
        # filter(false) branch
        return """
counted AS (
  SELECT hex, session_id, CAST(NULL AS INTEGER) AS update_seq,
         ts, ts_sec, event_id,
         lat, CAST(NULL AS DOUBLE) AS lat_sec,
         lon, CAST(NULL AS DOUBLE) AS lon_sec
  FROM runstate WHERE false)
"""
    bump = " + 1" if force_new else ""
    return f"""
dstate AS (
  SELECT hex, session_id, ts, ts_sec, event_id,
         CAST(row_number() OVER ({win}) AS INTEGER) AS i,
         n_lat_fix, n_lon_fix,
         last_value(lat IGNORE NULLS) OVER ({run}) AS head_la,
         last_value(lon IGNORE NULLS) OVER ({run}) AS head_lo,
         last_value(CASE WHEN lat_fix = 1 THEN ts_sec END IGNORE NULLS) OVER ({run}) AS head_la_t,
         last_value(CASE WHEN lon_fix = 1 THEN ts_sec END IGNORE NULLS) OVER ({run}) AS head_lo_t
  FROM runstate),
danchor AS (
  SELECT *,
         min(CASE WHEN n_lat_fix >= 2 THEN i END) OVER (PARTITION BY hex, session_id) AS e0,
         min(CASE WHEN n_lat_fix >= 2 AND n_lon_fix >= 2 THEN i END) OVER (PARTITION BY hex, session_id) AS f0
  FROM dstate),
counted AS (
  SELECT hex, session_id, i AS update_seq, ts, ts_sec, event_id,
         head_la AS lat, head_la_t AS lat_sec, head_lo AS lon, head_lo_t AS lon_sec
  FROM (SELECT *, e0 + {n} * CAST(ceil((f0 - e0) / {n}) AS INTEGER){bump} AS s1
        FROM danchor)
  WHERE f0 IS NOT NULL AND i >= s1 AND (i - s1) % {n} = 0)
"""


ORACLES = {
    "sink_mongo_trip": f"""
WITH {_CTES},
{_ASOF}
SELECT flight_id || '_' || CAST(session_id AS VARCHAR) AS _id,
       flight_id, trip_name AS flight_name,
       round(asof_lat, 6) AS lat_value, round(asof_lon, 6) AS lon_value,
       round(asof_alt, 6) AS alt_value,
       asof_dist AS distance_value, round(asof_dist_sec, 6) AS distance_sec,
       round(start_sec, 6) AS extras_start, round(end_sec, 6) AS extras_end,
       concat_ws(',',
         CASE WHEN asof_dist <= 10.0 AND (asof_alt IS NULL OR asof_alt <= 1000.0) THEN 'close' END,
         CASE WHEN asof_dist <= 5.0 AND (asof_alt IS NULL OR asof_alt <= 1000.0) THEN 'tooclose' END
       ) AS filters
FROM assembled
""",
    "filter_decimation": f"""
WITH {_CTES},
{_decim_closed_ctes(CFG.decimation_factor, CFG.decimation_force_new_data)}
SELECT hex, strftime(ts, '{TS_FMT_DUCK}') AS ts_str, update_seq,
       round(lat, 6) AS lat, round(lon, 6) AS lon
FROM counted
""",
    "sink_mongo_decimated": f"""
WITH {_CTES},
{_decim_closed_ctes(CFG.decimation_factor, CFG.decimation_force_new_data)}
SELECT hex AS flight_id, round(lat, 6) AS lat_value, round(lat_sec, 6) AS lat_sec,
       round(lon, 6) AS lon_value, round(lon_sec, 6) AS lon_sec
FROM counted
""",
    "sink_kafka_alert": f"""
WITH {_KIN},
{dead_reckoning_ctes(home_lat=REFERENCE.home_lat, home_lon=REFERENCE.home_lon)}
SELECT CASE WHEN distance <= 10.0 THEN 'airstrik-alert' ELSE 'airstrik-warning' END AS topic,
       count(*) AS n_events,
       count(DISTINCT hex) AS n_planes
FROM reckoned
WHERE distance <= 10.0 OR (alarm_time > -1 AND alarm_time < 60)
GROUP BY 1
""",
    "scan_mongo_collections": "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in TABLES
    ),
    "project_flatten_csv": f"""
WITH {_CTES},
{_ASOF}
SELECT flight_id, trip_name AS flight_name,
       round(asof_lat, 6) AS lat, round(asof_lon, 6) AS lon,
       round(asof_alt, 6) AS alt_geom, asof_dist AS distance,
       {_fmt_sec_duck('start_sec')} AS start_time,
       {_fmt_sec_duck('end_sec')} AS end_time,
       concat_ws(', ',
         CASE WHEN asof_dist <= 10.0 AND (asof_alt IS NULL OR asof_alt <= 1000.0) THEN 'close (10.0, 1000.0)' END,
         CASE WHEN asof_dist <= 5.0 AND (asof_alt IS NULL OR asof_alt <= 1000.0) THEN 'tooclose (5.0, 1000.0)' END
       ) AS filters
FROM assembled
""",
    "sink_csv_export": f"""
WITH {_CTES}
SELECT strftime(DATE '1970-01-01' + CAST(floor((end_sec + -14400.0) / 86400.0) AS INTEGER), '%Y-%m-%d') AS date,
       count(DISTINCT flight_id) AS unique_planes,
       count(*) AS total_trips,
       count(DISTINCT CASE WHEN alarmed THEN flight_id END) AS unique_alarm_planes,
       CAST(sum(CASE WHEN alarmed THEN 1 ELSE 0 END) AS BIGINT) AS total_alarm_trips
FROM trips
WHERE end_sec - start_sec >= 3600.0
GROUP BY 1
""",
    "sink_json_dump": f"""
WITH {_CTES},
leg1 AS (SELECT hex, ts_sec, event_id FROM obs WHERE lat > 35.727),
leg2 AS (SELECT hex, ts_sec, event_id FROM obs WHERE alt_geom < 1000.0),
conj AS (SELECT * FROM leg1 INTERSECT SELECT * FROM leg2),
matched AS (SELECT DISTINCT hex FROM conj),
latest AS (
  SELECT hex, lat, lon, alt_geom, flight FROM obs
  QUALIFY row_number() OVER (PARTITION BY hex ORDER BY ts_sec DESC, event_id DESC) = 1)
SELECT m.hex, l.flight, round(l.lat, 6) AS lat, round(l.lon, 6) AS lon,
       round(l.alt_geom, 6) AS alt_geom
FROM matched m JOIN latest l USING (hex)
""",
    # ddl_drop_reset's lifecycle outcome is deterministic (create 3 temp
    # views -> reset-style drop-all -> verify gone), so the oracle is the
    # static expected catalog state — this turns the one historical
    # `err: no_oracle` row into a hash-verifiable one (VERDICT r3 #3).
    "ddl_drop_reset": """
SELECT 'airstrik_ddl_trips' AS object, true AS created, true AS verified_gone
UNION ALL
SELECT 'airstrik_ddl_decimated', true, true
UNION ALL
SELECT 'airstrik_ddl_stats', true, true
""",
}
