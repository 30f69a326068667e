"""Geodesic math as pure Catalyst Column expressions.

The reference uses a WGS-84 ellipsoid geodesic (airstrik.py:245-258, 400, 438)
and a hand-rolled great-circle bearing (airstrik.py:147-165).  We use the
spherical haversine / forward-geodesic formulas — whole-stage-codegen'd
JVM expressions, no Python in the hot path (SURVEY.md W2-W4, D1).  At the
reference's <100 km ranges the sphere-vs-ellipsoid difference is <=0.5 %;
the DuckDB oracles in airstrik_py_spark/oracle use the *identical* formulas
so t2 hashes are formula-exact.

Every function takes/returns Columns; operation order is kept identical to
the SQL mirrors in oracle/exprs.py so both sides agree to the last ulp
(outputs are additionally rounded before hashing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (reference: geodesic().km, airstrik.py:438)."""
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def bearing_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Initial great-circle bearing from point1 to point2, degrees [0, 360).

    Mirrors calculate_heading_directions (airstrik.py:147-165) including the
    `+360` pre-add before the modulo (airstrik.py:164).
    """
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlon = F.radians(lon2 - lon1)
    y = F.sin(dlon) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    return (F.degrees(F.atan2(y, x)) + 360.0) % 360.0


def dest_lat_deg(lat1: Column, brg_deg: Column, dist_km: Column) -> Column:
    """Latitude of the spherical forward-geodesic destination point
    (reference: ellipsoid destination at airstrik.py:245-258)."""
    rlat1 = F.radians(lat1)
    ang = dist_km / F.lit(EARTH_RADIUS_KM)
    brg = F.radians(brg_deg)
    return F.degrees(
        F.asin(F.sin(rlat1) * F.cos(ang) + F.cos(rlat1) * F.sin(ang) * F.cos(brg))
    )


def dest_lon_deg(
    lat1: Column, lon1: Column, lat2_deg: Column, brg_deg: Column, dist_km: Column
) -> Column:
    """Longitude of the forward-geodesic destination (takes the already
    computed destination latitude so both sides share the intermediate)."""
    rlat1 = F.radians(lat1)
    ang = dist_km / F.lit(EARTH_RADIUS_KM)
    brg = F.radians(brg_deg)
    return lon1 + F.degrees(
        F.atan2(
            F.sin(brg) * F.sin(ang) * F.cos(rlat1),
            F.cos(ang) - F.sin(rlat1) * F.sin(F.radians(lat2_deg)),
        )
    )
