"""t2 queries for the sessionization core: W5 session trips, F3 min length,
A2 argmin closest, J2 as-of, A3 trip assembly, A4 first callsign, J1 icao
enrichment, F2 geofence match, W6 alarm transitions, F8 first pair."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.config import TESTDATA
from airstrik_py_spark.operators import alarm as AL
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.oracle.exprs import asof_ctes, session_ctes
from airstrik_py_spark.registry.kinematics_q import TS_FMT_DUCK, TS_FMT_SPARK
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import observations

CFG = TESTDATA
_CTES = session_ctes(CFG.remember_s)
_WIN = "PARTITION BY hex ORDER BY ts_sec, event_id"


def _sessioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    obs = observations(spark, sf_dir)
    return S.with_session_id(K.with_distance_home(obs, CFG), CFG)


def _trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.trips(_sessioned(spark, sf_dir), CFG)


def q_window_session_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — sessionize per key with gap > remember (airstrik.py:482, 551)."""
    return _trips(spark, sf_dir).select(
        F.col("flight_id").alias("hex"),
        "session_id",
        F.round("start_sec", 6).alias("start_sec"),
        F.round("end_sec", 6).alias("end_sec"),
        "n_obs",
    )


def q_filter_min_trip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — drop sessions shorter than min_trip_length (airstrik.py:487-490)."""
    t = S.filter_min_trip_length(_trips(spark, sf_dir), CFG)
    return t.select(
        F.col("flight_id").alias("hex"),
        "session_id",
        F.round(F.col("end_sec") - F.col("start_sec"), 6).alias("duration_s"),
        "n_obs",
    )


def q_agg_argmin_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — (closest_dist, closest_time) per trip, first-wins ties
    (airstrik.py:492-497)."""
    return _trips(spark, sf_dir).select(
        F.col("flight_id").alias("hex"),
        "session_id",
        "closest_dist",
        F.round("closest_sec", 6).alias("closest_sec"),
    )


def q_join_asof_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — full aircraft state as of the closest approach: the OLDEST
    history entry with ts <= closest_time per attribute (the reference's
    reversed scan with no break, airstrik.py:505-508, lets the oldest match
    win)."""
    return _trips(spark, sf_dir).select(
        F.col("flight_id").alias("hex"),
        "session_id",
        F.round("closest_sec", 6).alias("closest_sec"),
        F.round("asof_lat", 6).alias("asof_lat"),
        F.round("asof_lon", 6).alias("asof_lon"),
        F.round("asof_alt", 6).alias("asof_alt"),
        "asof_flight",
    )


def q_agg_first_callsign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — first non-null whitespace-stripped callsign per trip
    (airstrik.py:570-573)."""
    return _trips(spark, sf_dir).select(
        F.col("flight_id").alias("hex"), "session_id", "callsign"
    )


def q_join_icao_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast-join static icao dim; ' (p)' suffix on predicted names
    (airstrik.py:510-519)."""
    t = S.enrich_icao(_trips(spark, sf_dir), spark, sf_dir)
    return t.select(F.col("flight_id").alias("hex"), "session_id", "trip_name")


def q_agg_trip_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — the flagship trip pipeline (airstrik.py:473-627): sessionize ->
    min-length gate -> argmin closest -> as-of state -> icao enrichment ->
    geofence re-match (airstrik.py:524-535) -> assembled trip rows."""
    t = S.filter_min_trip_length(_trips(spark, sf_dir), CFG)
    t = S.enrich_icao(t, spark, sf_dir, name_col="asof_flight")
    return t.select(
        "flight_id",
        "session_id",
        F.round("start_sec", 6).alias("start_sec"),
        F.round("end_sec", 6).alias("end_sec"),
        F.round(F.col("end_sec") - F.col("start_sec"), 6).alias("duration_s"),
        "n_obs",
        "trip_name",
        "closest_dist",
        F.round("closest_sec", 6).alias("closest_sec"),
        F.round("asof_alt", 6).alias("asof_alt"),
        "asof_flight",
        # closure re-match uses the as-of distance, not closest_dist
        # (airstrik.py:524-535: match_filters(write['distance'][0], ...))
        AL.matched_filters(F.col("asof_dist"), F.col("asof_alt"), CFG).alias(
            "filters_matched"
        ),
        "alarmed",
    )


def q_filter_geofence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — per-observation matched-geofence names (airstrik.py:415-427)."""
    pin_session(spark)
    obs = K.with_distance_home(observations(spark, sf_dir), CFG)
    return obs.select(
        "hex",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        "distance",
        F.round("alt_geom", 6).alias("alt_geom"),
        AL.matched_filters(F.col("distance"), F.col("alt_geom"), CFG).alias("matched"),
    )


def q_window_alarm_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — edge-triggered alarm-state history: record only on change
    (airstrik.py:411-412)."""
    pin_session(spark)
    obs = K.with_distance_home(observations(spark, sf_dir), CFG)
    alarm_now = (F.col("distance") <= F.lit(CFG.most_generous_dist_km)) & (
        F.col("alt_geom").isNull() | (F.col("alt_geom") <= F.lit(CFG.most_generous_alt_m))
    )
    w = K.key_window()
    df = obs.withColumn("alarm_b", alarm_now).withColumn(
        "prev_alarm", F.lag("alarm_b").over(w)
    )
    return (
        df.filter(F.col("prev_alarm").isNull() | (F.col("alarm_b") != F.col("prev_alarm")))
        .select("hex", F.date_format("ts", TS_FMT_SPARK).alias("ts_str"), "alarm_b")
    )


def q_project_first_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — flight_name_id list -> first element (csvdump.py:78-81,
    dbread.py:46-47): the earliest callsign pair per key."""
    pin_session(spark)
    obs = observations(spark, sf_dir)
    first_pair = F.min(
        F.when(
            F.col("flight").isNotNull(),
            F.struct(
                F.col("ts_sec").alias("t"),
                F.col("event_id").alias("e"),
                F.col("flight").alias("v"),
            ),
        )
    )
    return obs.groupBy("hex").agg(
        first_pair.getField("v").alias("first_flight"),
        F.round(first_pair.getField("t"), 6).alias("first_flight_sec"),
    )


_MATCHED_SQL = (
    "concat_ws(',', "
    "CASE WHEN {d} <= 10.0 AND ({a} IS NULL OR {a} <= 1000.0) THEN 'close' END, "
    "CASE WHEN {d} <= 5.0 AND ({a} IS NULL OR {a} <= 1000.0) THEN 'tooclose' END)"
)

# OLDEST-wins as-of (min-struct): mirrors operators/sessions.py::
# _asof_struct_before (reference scan quirk airstrik.py:505-508).
# OLDEST-wins as-of state: shared lean formulation (oracle/exprs.py::
# asof_ctes — the r8 rewrite away from min(struct_pack), which OOM'd
# DuckDB 1.0.0 at sf1; semantics identical, see its docstring).
_ASOF_CTE = asof_ctes().lstrip("\n")

QUERIES = {
    "window_session_trip": q_window_session_trip,
    "filter_min_trip_length": q_filter_min_trip_length,
    "agg_argmin_closest": q_agg_argmin_closest,
    "join_asof_closest": q_join_asof_closest,
    "agg_first_callsign": q_agg_first_callsign,
    "join_icao_enrichment": q_join_icao_enrichment,
    "agg_trip_assembly": q_agg_trip_assembly,
    "filter_geofence_match": q_filter_geofence_match,
    "window_alarm_transitions": q_window_alarm_transitions,
    "project_first_pair": q_project_first_pair,
}

ORACLES = {
    "window_session_trip": f"""
WITH {_CTES}
SELECT flight_id AS hex, session_id, round(start_sec, 6) AS start_sec,
       round(end_sec, 6) AS end_sec, n_obs
FROM trips
""",
    "filter_min_trip_length": f"""
WITH {_CTES}
SELECT flight_id AS hex, session_id,
       round(end_sec - start_sec, 6) AS duration_s, n_obs
FROM trips
WHERE end_sec - start_sec >= {CFG.min_trip_length_s}
""",
    "agg_argmin_closest": f"""
WITH {_CTES}
SELECT flight_id AS hex, session_id, closest_dist,
       round(closest_sec, 6) AS closest_sec
FROM trips
""",
    "join_asof_closest": f"""
WITH {_CTES},
{_ASOF_CTE}
SELECT t.flight_id AS hex, t.session_id, round(t.closest_sec, 6) AS closest_sec,
       round(a.asof_lat, 6) AS asof_lat, round(a.asof_lon, 6) AS asof_lon,
       round(a.asof_alt, 6) AS asof_alt, a.asof_flight
FROM trips t JOIN asof_state a ON t.flight_id = a.hex AND t.session_id = a.session_id
""",
    "agg_first_callsign": f"""
WITH {_CTES}
SELECT flight_id AS hex, session_id, callsign FROM trips
""",
    "join_icao_enrichment": f"""
WITH {_CTES}
SELECT t.flight_id AS hex, t.session_id,
       coalesce(t.callsign, n.n_name || ' (p)') AS trip_name
FROM trips t LEFT JOIN nation n ON CAST(t.flight_id AS INTEGER) % 25 = n.n_nationkey
""",
    "agg_trip_assembly": f"""
WITH {_CTES},
{_ASOF_CTE}
SELECT t.flight_id, t.session_id,
       round(t.start_sec, 6) AS start_sec, round(t.end_sec, 6) AS end_sec,
       round(t.end_sec - t.start_sec, 6) AS duration_s, t.n_obs,
       coalesce(a.asof_flight, n.n_name || ' (p)') AS trip_name,
       t.closest_dist, round(t.closest_sec, 6) AS closest_sec,
       round(a.asof_alt, 6) AS asof_alt, a.asof_flight,
       {_MATCHED_SQL.format(d='a.asof_dist', a='a.asof_alt')} AS filters_matched,
       t.alarmed
FROM trips t
JOIN asof_state a ON t.flight_id = a.hex AND t.session_id = a.session_id
LEFT JOIN nation n ON CAST(t.flight_id AS INTEGER) % 25 = n.n_nationkey
WHERE t.end_sec - t.start_sec >= {CFG.min_trip_length_s}
""",
    "filter_geofence_match": f"""
WITH {session_ctes(CFG.remember_s)}
SELECT hex, strftime(ts, '{TS_FMT_DUCK}') AS ts_str, distance,
       round(alt_geom, 6) AS alt_geom,
       {_MATCHED_SQL.format(d='distance', a='alt_geom')} AS matched
FROM obsd
""",
    "window_alarm_transitions": f"""
WITH {session_ctes(CFG.remember_s)},
flagged AS (
  SELECT hex, ts, ts_sec, event_id,
         (distance <= 10.0 AND (alt_geom IS NULL OR alt_geom <= 1000.0)) AS alarm_b
  FROM obsd),
edged AS (
  SELECT *, lag(alarm_b) OVER ({_WIN}) AS prev_alarm FROM flagged)
SELECT hex, strftime(ts, '{TS_FMT_DUCK}') AS ts_str, alarm_b
FROM edged WHERE prev_alarm IS NULL OR alarm_b <> prev_alarm
""",
    "project_first_pair": f"""
WITH {session_ctes(CFG.remember_s)}
SELECT hex,
       (min(CASE WHEN flight IS NOT NULL
            THEN struct_pack(t := ts_sec, e := event_id, v := flight) END)).v AS first_flight,
       round((min(CASE WHEN flight IS NOT NULL
            THEN struct_pack(t := ts_sec, e := event_id, v := flight) END)).t, 6) AS first_flight_sec
FROM obs GROUP BY hex
""",
}
