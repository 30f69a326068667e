"""Per-key time-series kinematics — SURVEY.md §2.5 W1-W4, W8.

The reference maintains per-aircraft append-only (value, ts) histories and
derives heading/speed/distance row-at-a-time (airstrik.py:371-412, 430-439).
Here each derivation is a window expression over `partitionBy(hex).orderBy
(ts)` — one shuffle on the key, then whole-stage-codegen'd math; no Python
in the hot path.  At 100 TB the single hash-partition by `hex` is the only
shuffle this stage needs, and it is reused by sessionization downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.functions.geo import bearing_deg, haversine_km

KEY_WINDOW_COLS = ("ts_sec", "event_id")


def key_window() -> Window:
    """The one canonical per-key ordering used by every kinematics operator
    (ts has microsecond resolution; event_id breaks exact ties
    deterministically)."""
    return Window.partitionBy("hex").orderBy(*KEY_WINDOW_COLS)


def dedup_consecutive(df: DataFrame, col: str = "lat", col2: str = "lon") -> DataFrame:
    """W1 — keep a row only when (col, col2) differs from the previous row of
    the same key (airstrik.py:576-577: append only if latest stored value
    differs)."""
    w = key_window()
    prev1 = F.lag(col).over(w)
    prev2 = F.lag(col2).over(w)
    changed = (
        prev1.isNull()
        | prev2.isNull()
        | (F.col(col) != prev1)
        | (F.col(col2) != prev2)
    )
    return df.withColumn("_changed", changed).filter("_changed").drop("_changed")


def calc_heading() -> Column:
    """W2 — great-circle initial bearing between the previous and current fix
    (airstrik.py:147-165, wired at 398-407).  NULL on each key's first row."""
    w = key_window()
    return bearing_deg(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon"))


def calc_speed(cfg: EngineConfig) -> Column:
    """W3 — ground speed km/h between the current fix and the oldest fix in
    the last `lookback_rows` rows (airstrik.py:371-409: N-row lookback, not
    time-based; geodesic meters / delta-seconds * 3.6, rounded to 4 dp)."""
    frame = key_window().rowsBetween(-(cfg.lookback_rows - 1), 0)
    old_lat = F.first("lat").over(frame)
    old_lon = F.first("lon").over(frame)
    old_ts = F.first("ts_sec").over(frame)
    dt = F.col("ts_sec") - old_ts
    speed = (
        haversine_km(old_lat, old_lon, F.col("lat"), F.col("lon")) * 1000.0 / dt * 3.6
    )
    return F.round(F.when(dt > 0.0, speed), 4)


def distance_home(cfg: EngineConfig) -> Column:
    """W4 — great-circle km from HOME to the current fix, rounded to 4 dp
    (calculate_distance, airstrik.py:430-439)."""
    return F.round(
        haversine_km(F.lit(cfg.home_lat), F.lit(cfg.home_lon), F.col("lat"), F.col("lon")),
        4,
    )


def with_calc_heading(df: DataFrame) -> DataFrame:
    """W2 as column `calc_heading`."""
    return df.withColumn("calc_heading", calc_heading())


def with_calc_speed(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W3 as column `calc_speed`."""
    return df.withColumn("calc_speed", calc_speed(cfg))


def with_distance_home(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W4 as column `distance`."""
    return df.withColumn("distance", distance_home(cfg))


def latest_per_key(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """W8 — the "current" value of each attribute per key = value at max ts
    (the reference's pervasive history[-1][0], e.g. airstrik.py:233,377).
    One shuffle: groupBy(hex) with max_by."""
    aggs = [
        F.max_by(F.col(c), F.struct(F.col("ts_sec"), F.col("event_id"))).alias(c)
        for c in value_cols
    ] + [F.max("ts_sec").alias("ts_sec")]
    return df.groupBy("hex").agg(*aggs)
