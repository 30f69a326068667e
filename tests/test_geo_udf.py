"""SURVEY §5.5 numeric pinning: the Catalyst geodesic expressions agree with
an independent vectorized numpy implementation over the fixture coordinate
ranges.  The numpy pandas UDFs below share no code with functions/geo.py;
they exist only as this cross-check."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from airstrik_py_spark.functions.geo import EARTH_RADIUS_KM, bearing_deg, haversine_km


@pandas_udf(DoubleType())
def haversine_km_udf(
    lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
) -> pd.Series:
    """Vectorized numpy haversine — independent of the Column expression."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = np.radians(lat2 - lat1) / 2.0
    dl = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dp) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl) ** 2
    return pd.Series(2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a)))


@pandas_udf(DoubleType())
def bearing_deg_udf(
    lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
) -> pd.Series:
    """Vectorized numpy initial bearing, [0, 360)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dl = np.radians(lon2 - lon1)
    y = np.sin(dl) * np.cos(p2)
    x = np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl)
    return pd.Series(np.mod(np.degrees(np.arctan2(y, x)) + 360.0, 360.0))


def _grid(spark):
    # the fixture envelope: ±0.5° around HOME plus far-field points
    return spark.range(400).select(
        (F.lit(35.727) + (F.col("id") % 20 - 10.0) / 20.0).alias("lat1"),
        (F.lit(-78.696) + (F.col("id") % 17 - 8.0) / 17.0).alias("lon1"),
        (F.lit(35.727) + (F.col("id") % 13 - 6.0) / 6.5).alias("lat2"),
        (F.lit(-78.696) + (F.col("id") % 11 - 5.0) / 5.5).alias("lon2"),
    )


def test_haversine_expression_vs_numpy_udf(spark):
    df = _grid(spark).select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("expr"),
        haversine_km_udf("lat1", "lon1", "lat2", "lon2").alias("udf"),
    )
    worst = df.select(F.max(F.abs(F.col("expr") - F.col("udf"))).alias("d")).first()["d"]
    assert worst < 1e-9  # same formula, independent implementations


def test_bearing_expression_vs_numpy_udf(spark):
    df = _grid(spark).select(
        bearing_deg(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("expr"),
        bearing_deg_udf("lat1", "lon1", "lat2", "lon2").alias("udf"),
    )
    worst = df.select(F.max(F.abs(F.col("expr") - F.col("udf"))).alias("d")).first()["d"]
    assert worst < 1e-9
