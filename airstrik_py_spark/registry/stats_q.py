"""t2 queries for aggregates: A1 daily stats, S6 stats sink doc, A6 REPL trip
counts, A7 live-plane count (SURVEY §2.4, §2.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.config import REFERENCE, TESTDATA
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.operators import stats as ST
from airstrik_py_spark.oracle.exprs import session_ctes
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import observations

CFG = TESTDATA
_CTES = session_ctes(CFG.remember_s)

# day of epoch-seconds under the -4h offset, 1970-floor-div (tz-free)
_DAY_SQL = (
    "strftime(DATE '1970-01-01' + CAST(floor((end_sec + -14400.0) / 86400.0) AS INTEGER), "
    "'%Y-%m-%d')"
)


def _trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    return S.trips_from_obs(observations(spark, sf_dir), CFG)


def q_agg_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per local calendar day: unique planes / total trips / alarm
    variants (airstrik.py:668-691), exact countDistinct like the reference's
    membership lists (airstrik.py:536-541)."""
    out = ST.daily_stats(_trips(spark, sf_dir), CFG)
    return out.select(
        "day",
        "unique_planes",
        "total_trips",
        "unique_alarm_planes",
        F.col("total_alarm_trips").cast("long").alias("total_alarm_trips"),
    )


def q_sink_stats_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — the daily stats doc as written to the `stats` collection:
    `_id` = date string + the four counters (airstrik.py:670-676); the
    at-least-once dup-key crash (airstrik.py:677-685) is upgraded to an
    idempotent merge in sinks/ (SURVEY §7)."""
    out = ST.daily_stats(_trips(spark, sf_dir), CFG)
    return out.select(
        F.col("day").alias("_id"),
        "unique_planes",
        "total_trips",
        "unique_alarm_planes",
        F.col("total_alarm_trips").cast("long").alias("total_alarm_trips"),
    )


def q_agg_trip_counts_repl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — REPL list view: trips per plane, messages per attribute
    (dbread.py:42-57).  Uses ALL sessions (the store, pre-persistence-gate)."""
    pin_session(spark)
    obs = observations(spark, sf_dir)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    all_trips = S.trips(sess, CFG)
    return ST.trip_counts_per_plane(all_trips, obs).select(
        "flight_id", "n_trips", "n_obs", "n_lat_msgs", "n_flight_msgs", "n_heading_msgs"
    )


def q_agg_seen_planes_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — live tracked-plane count at the latest snapshot
    (airstrik.py:168-186, 457-470).  Liveness uses the reference 60 s
    `remember` (the seen column is already in reference scale)."""
    pin_session(spark)
    return ST.live_plane_count(observations(spark, sf_dir), REFERENCE)


QUERIES = {
    "agg_daily_stats": q_agg_daily_stats,
    "sink_stats_daily": q_sink_stats_daily,
    "agg_trip_counts_repl": q_agg_trip_counts_repl,
    "agg_seen_planes_count": q_agg_seen_planes_count,
}

_STATS_BODY = f"""
  SELECT {_DAY_SQL} AS day,
         count(DISTINCT flight_id) AS unique_planes,
         count(*) AS total_trips,
         count(DISTINCT CASE WHEN alarmed THEN flight_id END) AS unique_alarm_planes,
         CAST(sum(CASE WHEN alarmed THEN 1 ELSE 0 END) AS BIGINT) AS total_alarm_trips
  FROM trips
  WHERE end_sec - start_sec >= {CFG.min_trip_length_s}
  GROUP BY 1
"""

ORACLES = {
    "agg_daily_stats": f"""
WITH {_CTES}
{_STATS_BODY}
""",
    "sink_stats_daily": f"""
WITH {_CTES},
stats AS ({_STATS_BODY})
SELECT day AS _id, unique_planes, total_trips, unique_alarm_planes, total_alarm_trips
FROM stats
""",
    "agg_trip_counts_repl": f"""
WITH {_CTES},
per_trip AS (
  SELECT flight_id, count(*) AS n_trips, CAST(sum(n_obs) AS BIGINT) AS n_obs
  FROM trips GROUP BY flight_id),
per_attr AS (
  SELECT hex AS flight_id, count(lat) AS n_lat_msgs, count(flight) AS n_flight_msgs,
         count(nav_heading) AS n_heading_msgs
  FROM obs GROUP BY hex)
SELECT t.flight_id, t.n_trips, t.n_obs, a.n_lat_msgs, a.n_flight_msgs, a.n_heading_msgs
FROM per_trip t JOIN per_attr a USING (flight_id)
""",
    "agg_seen_planes_count": f"""
WITH {_CTES},
latest AS (
  SELECT * FROM obs
  QUALIFY row_number() OVER (PARTITION BY hex ORDER BY ts_sec DESC, event_id DESC) = 1)
SELECT count(*) AS n_live FROM latest WHERE seen < {REFERENCE.remember_s} AND lat IS NOT NULL
""",
}
