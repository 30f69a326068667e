"""WGS-84 geodesic lane (VERDICT r10 #7): Karney 2013 (functions/
geodesic.py) and Vincenty 1975 (below, the test-side reference) are
implemented independently and share no math — their mutual agreement IS
the correctness evidence, since no third-party geodesic package is
installed to compare against.  Sub-millimetre agreement over random pairs
would require the same wrong series coefficients in two unrelated
formulations."""

from __future__ import annotations

import math
import random

import pytest

from airstrik_py_spark.functions.geodesic import (
    _EP2,
    WGS84_A_M,
    WGS84_B_M,
    WGS84_F,
    _karney_direct_prefix,
    _karney_direct_step,
    karney_inverse_km,
)


# The scalar direct problem: the composition geodesic_dest_pandas_udf
# evaluates per row, with the prefix computed fresh on every call.
def karney_direct(
    lat1: float, lon1: float, azi1_deg: float, s_km: float
) -> tuple[float, float]:
    """WGS-84 direct (destination-point) problem, Karney 2013 §3: from
    (lat1, lon1) travel s_km along initial azimuth azi1_deg (clockwise from
    north).  Returns (lat2, lon2) with lon2 normalized to [-180, 180].
    Closed form — no iteration: sigma2 comes from the published inverse
    series (eq. 20-21), not from root-finding."""
    return _karney_direct_step(_karney_direct_prefix(lat1, azi1_deg), lon1, s_km)


# --- Vincenty 1975 ----------------------------------------------------------


def vincenty_inverse_km(
    lat1: float, lon1: float, lat2: float, lon2: float, max_iter: int = 200
) -> float:
    """WGS-84 geodesic distance (km), Vincenty inverse formula.  Raises
    ValueError on non-convergence (near-antipodal pairs — Karney covers
    those)."""
    if lat1 == lat2 and (lon1 - lon2) % 360.0 == 0.0:
        return 0.0
    u1 = math.atan((1.0 - WGS84_F) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - WGS84_F) * math.tan(math.radians(lat2)))
    big_l = math.radians(math.remainder(lon2 - lon1, 360.0))
    su1, cu1 = math.sin(u1), math.cos(u1)
    su2, cu2 = math.sin(u2), math.cos(u2)
    lam = big_l
    for _ in range(max_iter):
        sl, cl = math.sin(lam), math.cos(lam)
        sin_sigma = math.hypot(cu2 * sl, cu1 * su2 - su1 * cu2 * cl)
        if sin_sigma == 0.0:
            return 0.0  # coincident
        cos_sigma = su1 * su2 + cu1 * cu2 * cl
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cu1 * cu2 * sl / sin_sigma
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        cos_2sm = (
            cos_sigma - 2.0 * su1 * su2 / cos2_alpha if cos2_alpha != 0.0 else 0.0
        )
        c = WGS84_F / 16.0 * cos2_alpha * (4.0 + WGS84_F * (4.0 - 3.0 * cos2_alpha))
        lam_prev = lam
        lam = big_l + (1.0 - c) * WGS84_F * sin_alpha * (
            sigma
            + c
            * sin_sigma
            * (cos_2sm + c * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm))
        )
        if abs(lam - lam_prev) < 1e-13:
            break
    else:
        raise ValueError("vincenty failed to converge (near-antipodal?)")
    u2_ = cos2_alpha * _EP2
    a = 1.0 + u2_ / 16384.0 * (4096.0 + u2_ * (-768.0 + u2_ * (320.0 - 175.0 * u2_)))
    b = u2_ / 1024.0 * (256.0 + u2_ * (-128.0 + u2_ * (74.0 - 47.0 * u2_)))
    d_sigma = (
        b
        * sin_sigma
        * (
            cos_2sm
            + b
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                - b
                / 6.0
                * cos_2sm
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos_2sm * cos_2sm)
            )
        )
    )
    return WGS84_B_M * a * (sigma - d_sigma) / 1000.0


def vincenty_direct(
    lat1: float, lon1: float, azi1_deg: float, s_km: float, max_iter: int = 200
) -> tuple[float, float]:
    """WGS-84 direct problem, Vincenty 1975 (the iterative sigma form).
    Independent of karney_direct — shares no series or intermediate with
    it, so their mutual agreement cross-validates both."""
    s = s_km * 1000.0
    alpha1 = math.radians(azi1_deg)
    sa1, ca1 = math.sin(alpha1), math.cos(alpha1)
    tan_u1 = (1.0 - WGS84_F) * math.tan(math.radians(lat1))
    cu1 = 1.0 / math.sqrt(1.0 + tan_u1 * tan_u1)
    su1 = tan_u1 * cu1
    sigma1 = math.atan2(tan_u1, ca1)
    sin_alpha = cu1 * sa1
    cos2_alpha = 1.0 - sin_alpha * sin_alpha
    u2 = cos2_alpha * _EP2
    a = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    b = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    sigma = s / (WGS84_B_M * a)
    for _ in range(max_iter):
        two_sm = 2.0 * sigma1 + sigma
        cos_2sm = math.cos(two_sm)
        ss, cs = math.sin(sigma), math.cos(sigma)
        d_sigma = (
            b
            * ss
            * (
                cos_2sm
                + b
                / 4.0
                * (
                    cs * (-1.0 + 2.0 * cos_2sm * cos_2sm)
                    - b
                    / 6.0
                    * cos_2sm
                    * (-3.0 + 4.0 * ss * ss)
                    * (-3.0 + 4.0 * cos_2sm * cos_2sm)
                )
            )
        )
        sigma_prev = sigma
        sigma = s / (WGS84_B_M * a) + d_sigma
        if abs(sigma - sigma_prev) < 1e-13:
            break
    else:
        raise ValueError("vincenty direct failed to converge")
    ss, cs = math.sin(sigma), math.cos(sigma)
    cos_2sm = math.cos(2.0 * sigma1 + sigma)
    lat2 = math.degrees(
        math.atan2(
            su1 * cs + cu1 * ss * ca1,
            (1.0 - WGS84_F)
            * math.hypot(sin_alpha, su1 * ss - cu1 * cs * ca1),
        )
    )
    lam = math.atan2(ss * sa1, cu1 * cs - su1 * ss * ca1)
    c = WGS84_F / 16.0 * cos2_alpha * (4.0 + WGS84_F * (4.0 - 3.0 * cos2_alpha))
    big_l = lam - (1.0 - c) * WGS84_F * sin_alpha * (
        sigma + c * ss * (cos_2sm + c * cs * (-1.0 + 2.0 * cos_2sm * cos_2sm))
    )
    lon2 = math.remainder(lon1 + math.degrees(big_l), 360.0)
    return lat2, lon2


def test_karney_vincenty_mutual_agreement_fixture_ranges():
    rng = random.Random(11)
    for _ in range(150):
        lat1 = rng.uniform(-70, 70)
        lon1 = rng.uniform(-180, 180)
        lat2 = lat1 + rng.uniform(-3, 3)
        lon2 = lon1 + rng.uniform(-3, 3)
        k = karney_inverse_km(lat1, lon1, lat2, lon2)
        v = vincenty_inverse_km(lat1, lon1, lat2, lon2)
        assert abs(k - v) < 1e-6, (lat1, lon1, lat2, lon2, k, v)  # < 1 mm


def test_karney_vincenty_mutual_agreement_global():
    rng = random.Random(13)
    checked = 0
    for _ in range(150):
        p = (rng.uniform(-80, 80), rng.uniform(-180, 180),
             rng.uniform(-80, 80), rng.uniform(-180, 180))
        try:
            v = vincenty_inverse_km(*p)
        except ValueError:  # near-antipodal: Vincenty diverges by design
            continue
        k = karney_inverse_km(*p)
        assert abs(k - v) < 1e-6, (p, k, v)
        checked += 1
    assert checked > 100


def test_symmetry_and_zero():
    assert karney_inverse_km(10.0, 20.0, 10.0, 20.0) == 0.0
    a = karney_inverse_km(35.7, -78.7, 36.1, -79.2)
    b = karney_inverse_km(36.1, -79.2, 35.7, -78.7)
    assert abs(a - b) < 1e-9
    # longitude wraparound
    c = karney_inverse_km(35.7, 179.9, 35.7, -179.9)
    assert 0 < c < 40.0


def test_meridional_and_equatorial_closed_forms():
    # pole-to-pole meridian = 2 * quarter meridian; the WGS-84 quarter
    # meridian is 10001.965729 km (defining constant of the metre's
    # original intent) — series must land within a metre
    half = karney_inverse_km(-90.0, 0.0, 90.0, 0.0)
    assert abs(half - 2 * 10001.965729) < 1e-3
    # equatorial arc is exactly a * lambda while shorter than (1-f) pi
    eq = karney_inverse_km(0.0, 0.0, 0.0, 90.0)
    assert abs(eq - WGS84_A_M * (math.pi / 2.0) / 1000.0) < 1e-9
    # both agree with Vincenty too
    assert abs(half - vincenty_inverse_km(-90.0, 0.0, 90.0, 0.0)) < 1e-6
    assert abs(eq - vincenty_inverse_km(0.0, 0.0, 0.0, 90.0)) < 1e-6


def test_ellipsoid_vs_sphere_magnitude():
    """The divergence the caveat is about: ellipsoid vs the engine's
    spherical haversine is ~0.1-0.5% at aviation ranges — the geodesic
    must sit within that band, not on top of the sphere."""
    from airstrik_py_spark.functions.geo import EARTH_RADIUS_KM

    lat1, lon1, lat2, lon2 = 35.7, -78.7, 36.7, -77.7
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1) / 2
    dl = math.radians(lon2 - lon1) / 2
    a = math.sin(dp) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
    hav = 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))
    geo = karney_inverse_km(lat1, lon1, lat2, lon2)
    rel = abs(geo - hav) / geo
    assert 1e-5 < rel < 6e-3


def test_pandas_udf_matches_scalar(spark):
    from pyspark.sql import functions as F

    from airstrik_py_spark.functions.geodesic import geodesic_km_pandas_udf

    rows = [(35.7, -78.7, 36.1, -79.2), (10.0, 20.0, 10.5, 20.5),
            (-45.0, 170.0, -44.0, -175.0)]
    df = spark.createDataFrame(rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    udf = geodesic_km_pandas_udf()
    got = [
        r["d"]
        for r in df.select(
            udf(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
        ).collect()
    ]
    want = [karney_inverse_km(*r) for r in rows]
    assert got == pytest.approx(want, abs=1e-12)


def test_equatorial_beyond_cutoff_leaves_equator():
    """ADVICE r11 (medium): equatorial pairs past lam = pi(1-f) follow a
    geodesic that LEAVES the equator (Karney 2013 §5).  The r11 code fell
    into the degenerate general bisection and returned -20003.93 km for
    (0,0)->(0,179.5).  The closed-form half-period branch must give a
    positive distance, join the equator-arc branch continuously at the
    cutoff, and hit the exact half-meridian at the antipode."""
    cut_deg = math.degrees(math.pi * (1.0 - (1.0 - WGS84_B_M / WGS84_A_M)))
    # the ADVICE repro itself
    d = karney_inverse_km(0.0, 0.0, 0.0, 179.5)
    assert 19970.0 < d < 20003.932, d
    # antipodal-on-equator goes over the pole: half the meridian,
    # 2 * 10001.965729 km (WGS-84 quarter meridian), within a metre
    anti = karney_inverse_km(0.0, 0.0, 0.0, 180.0)
    assert abs(anti - 2 * 10001.965729) < 1e-3, anti
    # continuity across the branch switch (sub-metre)
    below = karney_inverse_km(0.0, 0.0, 0.0, cut_deg - 1e-7)
    above = karney_inverse_km(0.0, 0.0, 0.0, cut_deg + 1e-7)
    assert abs(above - below) < 1e-3, (below, above)
    # monotone in longitude separation across the whole equatorial range
    lams = [10.0, 90.0, 179.0, cut_deg - 0.01, cut_deg + 0.01, 179.7, 180.0]
    dists = [karney_inverse_km(0.0, 0.0, 0.0, x) for x in lams]
    assert dists == sorted(dists), list(zip(lams, dists))
    assert all(x > 0 for x in dists)


def test_direct_problem_mutual_agreement():
    """VERDICT r11 #5: Karney-2013 direct (closed-form inverse series) and
    Vincenty-1975 direct (iterative sigma) are independent implementations
    — mutual agreement < 0.1 mm over random (origin, azimuth, distance)
    cross-validates both, same pattern as the inverse pair."""
    rng = random.Random(17)
    for _ in range(300):
        lat1 = rng.uniform(-80, 80)
        lon1 = rng.uniform(-180, 180)
        azi = rng.uniform(0, 360)
        s = rng.uniform(0.001, 5000)
        k = karney_direct(lat1, lon1, azi, s)
        v = vincenty_direct(lat1, lon1, azi, s)
        dm = math.hypot(
            (k[0] - v[0]) * 111320.0,
            (k[1] - v[1]) * 111320.0 * math.cos(math.radians(lat1)),
        )
        assert dm < 1e-4, (lat1, lon1, azi, s, k, v, dm)


def test_direct_inverse_roundtrip_and_closed_forms():
    rng = random.Random(19)
    for _ in range(200):
        lat1 = rng.uniform(-80, 80)
        lon1 = rng.uniform(-180, 180)
        azi = rng.uniform(0, 360)
        s = rng.uniform(0.01, 2000)
        lat2, lon2 = karney_direct(lat1, lon1, azi, s)
        back = karney_inverse_km(lat1, lon1, lat2, lon2)
        assert abs(back - s) < 1e-9, (lat1, lon1, azi, s, back)
    # due north from the equator by a quarter meridian lands on the pole
    lat2, _lon2 = karney_direct(0.0, 0.0, 0.0, 10001.965729)
    assert abs(lat2 - 90.0) < 1e-6
    # due east along the equator: arc length = a * lambda exactly
    lat2, lon2 = karney_direct(0.0, 0.0, 90.0, WGS84_A_M * math.pi / 4 / 1000.0)
    assert abs(lat2) < 1e-9 and abs(lon2 - 45.0) < 1e-9


def test_dest_pandas_udf_matches_scalar(spark):
    from pyspark.sql import functions as F

    from airstrik_py_spark.functions.geodesic import geodesic_dest_pandas_udf

    rows = [
        (35.7, -78.7, 123.0, 42.5),
        (-10.0, 100.0, 271.0, 900.0),
        (60.0, 5.0, 10.0, 3.3),
    ]
    df = spark.createDataFrame(rows, "lat double, lon double, azi double, d double")
    got = (
        df.select(geodesic_dest_pandas_udf()("lat", "lon", "azi", "d").alias("p"))
        .select(F.col("p.lat"), F.col("p.lon"))
        .collect()
    )
    for (lat, lon, azi, d), r in zip(rows, got):
        k = karney_direct(lat, lon, azi, d)
        assert abs(r["lat"] - k[0]) < 1e-12 and abs(r["lon"] - k[1]) < 1e-12


def test_dest_pandas_udf_prefix_memo_bitexact(spark):
    """A dead-reckoning-shaped batch — many steps sharing (lat, azi) and
    varying only the distance — exercises the per-batch prefix memo in
    geodesic_dest_pandas_udf (r16).  The memoized path must be BIT-equal
    (==, not tolerance) to the scalar karney_direct, which computes the
    prefix fresh per call: the split is claimed to preserve every float
    operation and its order."""
    from pyspark.sql import functions as F

    from airstrik_py_spark.functions.geodesic import geodesic_dest_pandas_udf

    rows = [(35.727, -78.94, 77.5, 0.35 * t) for t in range(60)]
    rows += [(35.727, -78.94, 191.25, 0.8 * t) for t in range(10)]
    rows += [(-10.0, 100.0, 271.0, 900.0)]  # singleton key among repeats
    df = spark.createDataFrame(
        rows, "lat double, lon double, azi double, d double"
    ).coalesce(1)  # one partition -> one Arrow batch -> memo is hit
    got = (
        df.select("lat", "lon", "azi", "d",
                  geodesic_dest_pandas_udf()("lat", "lon", "azi", "d").alias("p"))
        .select("lat", "lon", "azi", "d", F.col("p.lat").alias("plat"),
                F.col("p.lon").alias("plon"))
        .collect()
    )
    assert len(got) == len(rows)
    for r in got:
        k = karney_direct(r["lat"], r["lon"], r["azi"], r["d"])
        assert r["plat"] == k[0] and r["plon"] == k[1], (r, k)


def test_dead_reckoning_exact_lane(spark):
    """The exact_geodesic=True D1 lane: same schema/rows as the spherical
    default, alarm verdicts identical away from geofence boundaries, and
    step positions within the FLOATS.md §D1 divergence band (< 0.25 % of
    step distance, fixture geometry).  alarm_time may differ by ONE step
    at the zone boundary: the exact lane's zone distance is the ellipsoid
    inverse (ADVICE r12), and the documented ~105 m haversine-vs-geodesic
    gap near the 10 km ring legitimately moves the crossing second."""
    from airstrik_py_spark.config import EngineConfig
    from airstrik_py_spark.operators.alarm import dead_reckoning

    cfg = EngineConfig()
    rows = [
        # hex, event_id, lat, lon, calc_heading, nav_heading, calc_speed,
        # alt_geom, distance: ~13.3 km out; one headed straight at home
        # (enters the 10 km zone inside the 60 s horizon -> alarm),
        # one headed away (no alarm), one unsimulatable (no heading)
        ("a1", 1, cfg.home_lat + 0.12, cfg.home_lon, 180.0, None, 400.0, 1000.0, 13.3),
        ("b2", 2, cfg.home_lat + 0.12, cfg.home_lon, 0.0, None, 400.0, 1000.0, 13.3),
        ("c3", 3, cfg.home_lat + 0.12, cfg.home_lon, None, None, 400.0, 1000.0, 13.3),
    ]
    schema = (
        "hex string, event_id long, lat double, lon double, "
        "calc_heading double, nav_heading double, calc_speed double, "
        "alt_geom double, distance double"
    )
    df = spark.createDataFrame(rows, schema)
    sph = {r["hex"]: r for r in dead_reckoning(df, cfg).collect()}
    ell = {r["hex"]: r for r in dead_reckoning(df, cfg, exact_geodesic=True).collect()}
    assert set(sph) == set(ell) == {"a1", "b2", "c3"}
    for h in ("a1", "b2", "c3"):
        assert sph[h]["alarm"] == ell[h]["alarm"], h
        assert abs(sph[h]["alarm_time"] - ell[h]["alarm_time"]) <= 1, h
    assert ell["a1"]["alarm"] and not ell["b2"]["alarm"]
    assert ell["c3"]["min_radius"] == 0.0  # unsimulatable
    # min_radius combines BOTH divergence sources now (spherical step
    # positions vs Karney direct, ~0.25 %, AND haversine vs Karney inverse
    # zone measurement, ~0.22 % — FLOATS.md §D1): band is their sum
    a, b = sph["a1"]["min_radius"], ell["a1"]["min_radius"]
    assert abs(a - b) <= max(0.005 * max(a, b), 0.005), (a, b)


def test_inverse_sql_mirror_matches_python_bitexact():
    """The DuckDB mirror of karney_inverse_km (ADVICE r12: the exact D1
    lane's zone distance) must agree with the Python function it mirrors
    BIT-EXACTLY across every code branch: coincident (incl. modulo-360
    longitudes), meridional (incl. equator-crossing), swap both ways,
    sign canonicalization, near-antipodal lam, poles, and the ~10 km
    zone-boundary magnitudes D1 actually compares."""
    import duckdb
    import pandas as pd

    from airstrik_py_spark.functions.geodesic import karney_inverse_km
    from airstrik_py_spark.oracle.exprs import karney_inverse_sim_dist_ctes

    hlat, hlon = 35.727, -78.696
    cases = [
        (35.727, -78.696), (35.727, 281.304),          # coincident
        (36.0, -78.696), (-10.0, -78.696),             # meridional
        (35.8, -78.7), (35.6, -78.6),                  # near home
        (60.0, -78.0), (10.0, -79.0),                  # swap both ways
        (-35.727, -78.695), (35.727, 101.304),         # sign / lam ~ pi
        (89.9, 10.0), (-89.9, 10.0),                   # near poles
        (0.0, -78.696), (0.0, 10.0),                   # equatorial point 2
        (35.727001, -78.696),                          # tiny meridional
        (40.0, 179.9), (40.0, -179.9),                 # antimeridian-ish
        (35.727042, -78.69595), (35.72, -78.69),       # zone-boundary scale
    ]
    pts = [
        ("h%d" % k, 1, 35.0, -78.0, 100.0, 90.0, k, a, b)
        for k, (a, b) in enumerate(cases)
    ]
    df = pd.DataFrame(
        pts,
        columns=["hex", "event_id", "lat", "lon", "calc_speed",
                 "sim_heading", "t", "sim_lat", "sim_lon"],
    )
    con = duckdb.connect()
    con.register("pts", df)
    sql = f"""WITH RECURSIVE e6 AS (SELECT * FROM pts),
{karney_inverse_sim_dist_ctes(hlat, hlon)}
SELECT t, sim_lat, sim_lon, sim_dist FROM steps3 ORDER BY t"""
    rows = con.sql(sql).fetchall()
    assert len(rows) == len(cases)
    for t, lat2, lon2, got in rows:
        want = karney_inverse_km(hlat, hlon, lat2, lon2)
        assert got == want, (t, lat2, lon2, got, want)


def test_inverse_sql_mirror_refuses_equatorial_home():
    """The equatorial branch of karney_inverse_km is unreachable for a
    non-equatorial HOME and deliberately unmirrored — the generator must
    refuse rather than silently produce a wrong mirror."""
    import pytest

    from airstrik_py_spark.oracle.exprs import karney_inverse_sim_dist_ctes

    with pytest.raises(NotImplementedError):
        karney_inverse_sim_dist_ctes(0.0, 10.0)
