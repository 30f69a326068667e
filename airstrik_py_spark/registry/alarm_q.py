"""t2 queries for the predictive geofence alarm: D1 dead-reckoning unroll and
D2 alert/warning payload routing (SURVEY §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.config import REFERENCE
from airstrik_py_spark.operators import alarm as AL
from airstrik_py_spark.oracle.exprs import (
    dead_reckoning_ctes,
    dead_reckoning_exact_ctes,
    kin_ctes,
)
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import observations

CFG = REFERENCE  # think_ahead/geofences at reference values


def q_alarm_dead_reckoning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — get_alarm_info unrolled (airstrik.py:223-278): per plane, the
    (alarm, alarm_time, min_radius) triple from simulating think_ahead
    seconds along the current heading."""
    pin_session(spark)
    out = AL.dead_reckoning(AL.latest_fix(observations(spark, sf_dir), CFG), CFG)
    return out.select(
        "hex",
        "can_sim",
        "alarm_ll",
        F.col("alarm_time").cast("long").alias("alarm_time"),
        "min_radius",
        "alarm",
    )


def q_alarm_dead_reckoning_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with WGS-84 ellipsoid-exact step positions AND zone distance
    (VERDICT r11 #5 made queryable; ADVICE r12 closed the zone-distance
    half): dead_reckoning(exact_geodesic=True) swaps the spherical
    destination formulas for geodesic_dest_pandas_udf — the same direct
    problem the reference's destination() solves (airstrik.py:245-258) — and
    measures each simulated point's distance to HOME with
    karney_inverse_km, the same inverse problem the reference's
    geodesic() solves (airstrik.py:259).  Both
    halves of get_alarm_info's geometry are therefore ellipsoid-exact:
    this lane is the reference-identical D1.  The oracle mirrors the
    direct problem as staged SQL with per-plane constants hoisted out of
    the 60-step unroll, and the inverse as a recursive-CTE bisection
    (oracle/exprs.py::dead_reckoning_exact_ctes /
    karney_inverse_sim_dist_ctes).  Verification lane: the Arrow-batched
    pandas_udfs are NOT the 100 TB hot path (the spherical
    alarm_dead_reckoning is; FLOATS.md §D1 quantifies the divergence)."""
    pin_session(spark)
    out = AL.dead_reckoning(
        AL.latest_fix(observations(spark, sf_dir), CFG), CFG, exact_geodesic=True
    )
    return out.select(
        "hex",
        "can_sim",
        "alarm_ll",
        F.col("alarm_time").cast("long").alias("alarm_time"),
        "min_radius",
        "alarm",
    )


def q_alarm_event_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — raise_alarm payload assembly + topic routing
    (airstrik.py:318-368, README.md:57-68)."""
    pin_session(spark)
    state = AL.dead_reckoning(AL.latest_fix(observations(spark, sf_dir), CFG), CFG)
    pay = AL.alarm_payload(state, CFG)
    return pay.select(
        "plane_hex",
        "plane_id",
        "plane_time",
        "heading",
        "speed",
        "altitude",
        "latitude",
        "longitude",
        "distance",
        F.col("eta").cast("long").alias("eta"),
        "topic",
    )


_KIN = kin_ctes(home_lat=CFG.home_lat, home_lon=CFG.home_lon)
_DR = dead_reckoning_ctes(
    CFG.think_ahead,
    CFG.most_generous_dist_km,
    home_lat=CFG.home_lat,
    home_lon=CFG.home_lon,
)
_DRX = dead_reckoning_exact_ctes(
    CFG.think_ahead,
    CFG.most_generous_dist_km,
    home_lat=CFG.home_lat,
    home_lon=CFG.home_lon,
)

QUERIES = {
    "alarm_dead_reckoning": q_alarm_dead_reckoning,
    "alarm_dead_reckoning_exact": q_alarm_dead_reckoning_exact,
    "alarm_event_routing": q_alarm_event_routing,
}

ORACLES = {
    "alarm_dead_reckoning": f"""
WITH {_KIN},
{_DR}
SELECT hex, can_sim, alarm_ll, alarm_time, min_radius, alarm FROM reckoned
""",
    "alarm_dead_reckoning_exact": f"""
WITH RECURSIVE {_KIN},
{_DRX}
SELECT hex, can_sim, alarm_ll, alarm_time, min_radius, alarm FROM reckoned
""",
    "alarm_event_routing": f"""
WITH {_KIN},
{_DR}
SELECT hex AS plane_hex,
       flight AS plane_id,
       round(ts_sec, 6) AS plane_time,
       round(sim_heading, 6) AS heading,
       calc_speed AS speed,
       alt_geom AS altitude,
       round(lat, 6) AS latitude,
       round(lon, 6) AS longitude,
       distance,
       CAST(CASE WHEN distance <= 10.0 THEN 0 ELSE alarm_time END AS BIGINT) AS eta,
       CASE WHEN distance <= 10.0 THEN 'airstrik-alert' ELSE 'airstrik-warning' END AS topic
FROM reckoned
WHERE distance <= 10.0 OR (alarm_time > -1 AND alarm_time < {CFG.think_ahead})
""",
}
