"""DuckDB-dialect SQL mirrors of the engine's shared expressions.

Every string here is kept operation-for-operation identical to the Spark
Column implementations (functions/geo.py, sources/tables.py) so the driver's
t2 value-hash comparison is formula-exact; outputs are rounded on both sides
before hashing to absorb last-ulp libm differences.
"""

from __future__ import annotations

EARTH_RADIUS_KM = 6371.0088

# Mirror of sources/tables.py::observations (events -> OBSERVATION schema).
OBS_CTE = """
obs AS (
  SELECT CAST(user_id AS VARCHAR) AS hex,
         ts,
         epoch(ts) AS ts_sec,
         CASE WHEN event_type <> 'view' THEN event_type END AS flight,
         35.727 + (fmod(value, 100.0) - 50.0) / 100.0 AS lat,
         -78.696 + (fmod(value * 7.0, 100.0) - 50.0) / 100.0 AS lon,
         fmod(value, 360.0) AS nav_heading,
         value * 10.0 AS alt_geom,
         fmod(value, 120.0) AS seen,
         event_id
  FROM events
)
"""


_WIN = "PARTITION BY hex ORDER BY ts_sec, event_id"
_SWIN = "PARTITION BY hex, session_id ORDER BY ts_sec, event_id"
_SRUN = f"{_SWIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_SPRE = f"{_SWIN} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"


def session_ctes(remember_s: float, home_lat: float = 35.727, home_lon: float = -78.696) -> str:
    """obs -> obsd (distance-home) -> sess (session ids) -> trips (A3 fold).
    Mirrors operators/kinematics.py::with_distance_home +
    operators/sessions.py::{with_session_id, trips}."""
    hav = duck_haversine(str(home_lat), str(home_lon), "lat", "lon")
    return f"""{OBS_CTE},
obsd AS (
  SELECT *, round({hav}, 4) AS distance FROM obs
),
gapped AS (
  SELECT *, CASE WHEN lag(ts_sec) OVER ({_WIN}) IS NULL
                   OR ts_sec - lag(ts_sec) OVER ({_WIN}) > {remember_s}
                 THEN 1 ELSE 0 END AS is_new
  FROM obsd
),
sess AS (
  SELECT *, CAST(sum(is_new) OVER ({_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gapped
),
marks AS (
  -- running tracker state per packet: last non-null distance/altitude, and
  -- "is this a new (consecutive-deduped) lat/lon fix" markers — mirrors
  -- operators/sessions.py::_alarmed_row
  SELECT *,
         last_value(distance IGNORE NULLS) OVER ({_SRUN}) AS dist_run,
         last_value(alt_geom IGNORE NULLS) OVER ({_SRUN}) AS alt_run,
         CASE WHEN lat IS NOT NULL AND (last_value(lat IGNORE NULLS) OVER ({_SPRE}) IS NULL
                   OR lat <> last_value(lat IGNORE NULLS) OVER ({_SPRE}))
              THEN 1 ELSE 0 END AS lat_fix,
         CASE WHEN lon IS NOT NULL AND (last_value(lon IGNORE NULLS) OVER ({_SPRE}) IS NULL
                   OR lon <> last_value(lon IGNORE NULLS) OVER ({_SPRE}))
              THEN 1 ELSE 0 END AS lon_fix
  FROM sess
),
runstate AS (
  SELECT *,
         sum(lat_fix) OVER ({_SRUN}) AS n_lat_fix,
         sum(lon_fix) OVER ({_SRUN}) AS n_lon_fix
  FROM marks
),
trips AS (
  SELECT hex AS flight_id, session_id,
         min(ts_sec) AS start_sec,
         max(ts_sec) AS end_sec,
         count(*) AS n_obs,
         (min(CASE WHEN flight IS NOT NULL
              THEN struct_pack(t := ts_sec, e := event_id, v := replace(flight, ' ', '')) END)).v AS callsign,
         (min(struct_pack(d := distance, t := ts_sec, e := event_id))).d AS closest_dist,
         (min(struct_pack(d := distance, t := ts_sec, e := event_id))).t AS closest_sec,
         max(CASE WHEN n_lat_fix >= 2 AND n_lon_fix >= 2 AND dist_run < 10.0
                       AND (alt_run IS NULL OR alt_run <= 1000.0)
                  THEN TRUE ELSE FALSE END) AS alarmed
  FROM runstate GROUP BY hex, session_id
)"""


_ASOF_ATTRS = (
    # (name, source column, value expression applied to the fetched row)
    ("lat", "lat", "s.lat"),
    ("lon", "lon", "s.lon"),
    ("alt", "alt_geom", "s.alt_geom"),
    ("flight", "flight", "replace(s.flight, ' ', '')"),
    ("dist", "distance", "s.distance"),
)


def asof_ctes() -> str:
    """OLDEST-wins as-of state per (hex, session_id) — mirrors
    operators/sessions.py::_asof_struct_before (reference scan quirk
    airstrik.py:505-508): for each attribute, the value/ts of the FIRST
    non-null row of the session, NULLed unless that row's ts_sec <=
    trips.closest_sec.  (Equivalent to min over {rows: non-null, ts <=
    closest} by (ts, event_id): the session-global first non-null row is
    that constrained min exactly when its ts qualifies; being the global
    minimum, if it does not qualify nothing does.)

    Formulated as three plain-aggregate passes (first-ts -> tie-break
    min event_id at that ts -> singleton value fetch) + the trips gate,
    NOT as min(struct_pack(...)): DuckDB 1.0.0's sort-key-encoded
    aggregates (min over STRUCT, arg_min with any key type) allocate
    pathologically on ~1M-row/500k-group inputs — the six-attribute
    struct form needed >125 GB at sf1 and OOM-killed the box, while this
    form runs in bounded memory (measured r8, ROUNDLOG).  first_value /
    full-frame IGNORE NULLS windows and AS MATERIALIZED CTEs hit the
    same pathology and are equally avoided here."""
    ft = ",\n         ".join(
        f"min(CASE WHEN {src} IS NOT NULL THEN ts_sec END) AS t_{n}"
        for n, src, _ in _ASOF_ATTRS
    )
    fe = ",\n         ".join(
        f"min(CASE WHEN s.{src} IS NOT NULL AND s.ts_sec = f.t_{n} "
        f"THEN s.event_id END) AS e_{n}"
        for n, src, _ in _ASOF_ATTRS
    ) + ",\n         " + ",\n         ".join(
        f"min(f.t_{n}) AS t_{n}" for n, _, _ in _ASOF_ATTRS
    )
    vals = ",\n         ".join(
        f"min(CASE WHEN s.event_id = f.e_{n} THEN {vexpr} END) AS v_{n}"
        for n, _, vexpr in _ASOF_ATTRS
    ) + ",\n         " + ",\n         ".join(
        f"min(f.t_{n}) AS t_{n}" for n, _, _ in _ASOF_ATTRS
    )
    return f"""
asof_ft AS (
  SELECT hex, session_id,
         {ft}
  FROM sess GROUP BY hex, session_id),
asof_fe AS (
  SELECT s.hex, s.session_id,
         {fe}
  FROM sess s JOIN asof_ft f ON s.hex = f.hex AND s.session_id = f.session_id
  GROUP BY s.hex, s.session_id),
asof_vals AS (
  SELECT s.hex, s.session_id,
         {vals}
  FROM sess s JOIN asof_fe f ON s.hex = f.hex AND s.session_id = f.session_id
  GROUP BY s.hex, s.session_id),
asof_state AS (
  SELECT t.flight_id AS hex, t.session_id,
         CASE WHEN v.t_lat <= t.closest_sec THEN v.v_lat END AS asof_lat,
         CASE WHEN v.t_lon <= t.closest_sec THEN v.v_lon END AS asof_lon,
         CASE WHEN v.t_alt <= t.closest_sec THEN v.v_alt END AS asof_alt,
         CASE WHEN v.t_flight <= t.closest_sec THEN v.v_flight END AS asof_flight,
         CASE WHEN v.t_dist <= t.closest_sec THEN v.v_dist END AS asof_dist,
         CASE WHEN v.t_dist <= t.closest_sec THEN v.t_dist END AS asof_dist_sec
  FROM trips t JOIN asof_vals v
    ON t.flight_id = v.hex AND t.session_id = v.session_id)"""


def kin_ctes(home_lat: float = 35.727, home_lon: float = -78.696, lookback_rows: int = 10) -> str:
    """obs -> kin: calc_heading (lag pair), calc_speed (N-row lookback,
    round 4), distance (round 4).  Mirrors operators/kinematics.py
    with_calc_heading + with_calc_speed + with_distance_home (NO dedup)."""
    hav_home = duck_haversine(str(home_lat), str(home_lon), "lat", "lon")
    return f"""{OBS_CTE},
lagged AS (
  SELECT *,
         lag(lat) OVER ({_WIN}) AS plat,
         lag(lon) OVER ({_WIN}) AS plon,
         first_value(lat) OVER w{lookback_rows} AS olat,
         first_value(lon) OVER w{lookback_rows} AS olon,
         first_value(ts_sec) OVER w{lookback_rows} AS ots
  FROM obs
  WINDOW w{lookback_rows} AS ({_WIN} ROWS BETWEEN {lookback_rows - 1} PRECEDING AND CURRENT ROW)
),
kin AS (
  SELECT hex, ts, ts_sec, event_id, flight, lat, lon, nav_heading, alt_geom, seen,
         {duck_bearing('plat', 'plon', 'lat', 'lon')} AS calc_heading,
         round(CASE WHEN ts_sec - ots > 0.0
               THEN {duck_haversine('olat', 'olon', 'lat', 'lon')} * 1000.0 / (ts_sec - ots) * 3.6
               END, 4) AS calc_speed,
         round({hav_home}, 4) AS distance
  FROM lagged
)"""


_DR_LATEST = """
latest AS (
  SELECT *, coalesce(calc_heading, nav_heading) AS sim_heading,
         (coalesce(calc_heading, nav_heading) IS NOT NULL AND calc_speed IS NOT NULL) AS can_sim
  FROM kin
  QUALIFY row_number() OVER (PARTITION BY hex ORDER BY ts_sec DESC, event_id DESC) = 1
)"""


def dead_reckoning_ctes(
    think_ahead: int = 60,
    most_generous_dist: float = 10.0,
    home_lat: float = 35.727,
    home_lon: float = -78.696,
) -> str:
    """kin-latest -> unrolled simulation -> per-plane alarm aggregate.
    Mirrors operators/alarm.py::dead_reckoning step for step (strict < zone
    test, break-before-evaluate ±90, growth break among in-zone steps)."""
    step_km = "(l.calc_speed / 3600.0) * s.t"
    dest_lat = duck_dest_lat("l.lat", "l.sim_heading", step_km)
    return f"""{_DR_LATEST},
steps AS (
  SELECT l.hex, l.event_id, l.lat, l.lon, l.calc_speed, l.sim_heading,
         CAST(s.t AS INTEGER) AS t,
         {dest_lat} AS sim_lat
  FROM latest l CROSS JOIN range(0, {think_ahead}) s(t)
  WHERE l.can_sim
),
steps2 AS (
  SELECT *, {duck_dest_lon('lat', 'lon', 'sim_lat', 'sim_heading', '(calc_speed / 3600.0) * t')} AS sim_lon
  FROM steps
),
steps3 AS (
  SELECT *, {duck_haversine(str(home_lat), str(home_lon), 'sim_lat', 'sim_lon')} AS sim_dist
  FROM steps2
),
{_dr_tail(think_ahead, most_generous_dist)}"""


def _dr_tail(think_ahead: int, most_generous_dist: float) -> str:
    """flagged -> breaks -> sim_agg -> reckoned: the break/aggregate half of
    the D1 oracle, shared verbatim by the spherical and ellipsoid-exact
    variants (both feed it a steps3 CTE with hex, event_id, t, sim_lat,
    sim_lon, sim_dist)."""
    return f"""flagged AS (
  SELECT *,
         (sim_dist < {most_generous_dist}) AS in_zone,
         (abs(sim_lat) > 90.0 OR abs(sim_lon) > 90.0) AS oob,
         last_value(CASE WHEN sim_dist < {most_generous_dist} THEN sim_dist END IGNORE NULLS)
           OVER (PARTITION BY hex, event_id ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_zone_dist
  FROM steps3
),
breaks AS (
  SELECT *,
         min(CASE WHEN oob THEN t END) OVER (PARTITION BY hex, event_id) AS b_oob,
         min(CASE WHEN in_zone AND prev_zone_dist IS NOT NULL AND sim_dist > prev_zone_dist
                  THEN t END) OVER (PARTITION BY hex, event_id) AS b_grow
  FROM flagged
),
sim_agg AS (
  SELECT hex, event_id,
         max(in_zone) AS sim_alarm_ll,
         min(CASE WHEN in_zone THEN t END) AS sim_alarm_time,
         min(CASE WHEN in_zone THEN sim_dist END) AS sim_min_radius
  FROM breaks
  WHERE t < least(coalesce(b_oob, {think_ahead}), coalesce(b_grow, {think_ahead}))
  GROUP BY hex, event_id
),
reckoned AS (
  SELECT l.*,
         coalesce(a.sim_alarm_ll, FALSE) AS alarm_ll,
         CAST(coalesce(a.sim_alarm_time, -1) AS BIGINT) AS alarm_time,
         CASE WHEN NOT l.can_sim THEN 0.0
              ELSE round(coalesce(a.sim_min_radius, 100000000.0), 4) END AS min_radius,
         (coalesce(a.sim_alarm_ll, FALSE)
          AND (l.alt_geom IS NULL OR l.alt_geom <= 1000.0)) AS alarm
  FROM latest l LEFT JOIN sim_agg a ON l.hex = a.hex AND l.event_id = a.event_id
)"""


def duck_haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Mirror of functions/geo.py::haversine_km."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM}) * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2.0) * sin(radians(({lat2}) - ({lat1})) / 2.0)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2.0) * sin(radians(({lon2}) - ({lon1})) / 2.0)"
        f"))"
    )


def duck_bearing(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Mirror of functions/geo.py::bearing_deg (incl. the +360 pre-add,
    airstrik.py:164)."""
    return (
        f"fmod(degrees(atan2("
        f"sin(radians(({lon2}) - ({lon1}))) * cos(radians({lat2})), "
        f"cos(radians({lat1})) * sin(radians({lat2}))"
        f" - sin(radians({lat1})) * cos(radians({lat2})) * cos(radians(({lon2}) - ({lon1})))"
        f")) + 360.0, 360.0)"
    )


def duck_dest_lat(lat1: str, brg_deg: str, dist_km: str) -> str:
    """Mirror of functions/geo.py::dest_lat_deg."""
    return (
        f"degrees(asin("
        f"sin(radians({lat1})) * cos(({dist_km}) / {EARTH_RADIUS_KM})"
        f" + cos(radians({lat1})) * sin(({dist_km}) / {EARTH_RADIUS_KM}) * cos(radians({brg_deg}))"
        f"))"
    )


def duck_dest_lon(lat1: str, lon1: str, lat2_deg: str, brg_deg: str, dist_km: str) -> str:
    """Mirror of functions/geo.py::dest_lon_deg."""
    return (
        f"({lon1}) + degrees(atan2("
        f"sin(radians({brg_deg})) * sin(({dist_km}) / {EARTH_RADIUS_KM}) * cos(radians({lat1})), "
        f"cos(({dist_km}) / {EARTH_RADIUS_KM}) - sin(radians({lat1})) * sin(radians({lat2_deg}))"
        f"))"
    )


# --- WGS-84 ellipsoid DIRECT problem (Karney 2013), SQL mirror --------------
# Mirror of functions/geodesic.py::_karney_direct_prefix/_karney_direct_step
# for the D1 exact lane.
# Constants are emitted via repr() so the SQL literals are bit-identical to
# the Python module's doubles; every expression below copies the Python
# source's operand ORDER (same-precedence chains associate left in both
# languages), so the only cross-engine divergence left is libm ulps — and
# this box's CPython and DuckDB both resolve to glibc libm.  Known ulp
# seams, absorbed by the 4-dp output rounding: math.hypot (mirrored as
# sqrt(x*x+y*y)) and math.remainder (mirrored as x-360*round(x/360), equal
# on |x|<180 — fixture longitudes never touch the antimeridian).
_GD_F = 1.0 / 298.257223563
_GD_A = 6378137.0
_GD_B = _GD_A * (1.0 - _GD_F)
_GD_E2 = _GD_F * (2.0 - _GD_F)
_GD_EP2 = _GD_E2 / (1.0 - _GD_E2)
_GD_N = _GD_F / (2.0 - _GD_F)


import re as _re


def _dlit(x: float) -> str:
    """repr(x) as a DuckDB DOUBLE literal: a bare decimal literal parses as
    DECIMAL there (losing precision and overflowing scale in chained
    multiplies — the r12 'Needed scale 39' failure); an exponent suffix
    forces DOUBLE, and strtod round-trips repr exactly."""
    r = repr(x)
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


def _dblify(sql: str) -> str:
    """Rewrite every bare decimal literal in `sql` to its e0 DOUBLE form so
    DuckDB evaluates the whole expression in binary doubles, matching the
    Python implementation operation-for-operation."""
    return _re.sub(r"(?<![\w.])(\d+\.\d+)(?![\w.eE])", r"\1e0", sql)


def _karney_series_sql() -> dict[str, str]:
    """SQL expressions (in columns eps, ee = eps*eps) for the Karney series
    coefficients, copied operand-for-operand from functions/geodesic.py
    (_a1, _c1, _c1p, _a3, _c3) with n replaced by its repr'd literal; all
    fraction literals are e0-suffixed (via _dblify at the call site) so
    DuckDB evaluates them as DOUBLE division, bit-identical to Python."""
    n = _dlit(_GD_N)
    return {
        "a1c": "(1.0 + ee * (1.0 / 4.0 + ee * (1.0 / 64.0 + ee / 256.0))) / (1.0 - eps)",
        # C1l (eq. 18)
        "c11": "eps * (-0.5 + ee * (3.0 / 16.0 - ee / 32.0))",
        "c12": "ee * (-1.0 / 16.0 + ee * (1.0 / 32.0 - 9.0 / 2048.0 * ee))",
        "c13": "ee * eps * (-1.0 / 48.0 + ee * 3.0 / 256.0)",
        "c14": "ee * ee * (-5.0 / 512.0 + ee * 3.0 / 512.0)",
        "c15": "ee * ee * eps * (-7.0 / 1280.0)",
        "c16": "ee * ee * ee * (-7.0 / 2048.0)",
        # C'1l (eq. 21)
        "cp11": "eps * (0.5 + ee * (-9.0 / 32.0 + ee * 205.0 / 1536.0))",
        "cp12": "ee * (5.0 / 16.0 + ee * (-37.0 / 96.0 + ee * 1335.0 / 4096.0))",
        "cp13": "ee * eps * (29.0 / 96.0 - ee * 75.0 / 128.0)",
        "cp14": "ee * ee * (539.0 / 1536.0 - ee * 2391.0 / 2560.0)",
        "cp15": "ee * ee * eps * (3467.0 / 7680.0)",
        "cp16": "ee * ee * ee * (38081.0 / 61440.0)",
        # A3 (eq. 24) — powers via power() to match Python's eps**k (both
        # resolve to libm pow)
        "a3c": (
            f"1.0 - eps * (0.5 - {n} / 2.0)"
            f" - power(eps, 2) * (1.0 / 4.0 + {n} / 8.0 - 3.0 * {n} * {n} / 8.0)"
            f" - power(eps, 3) * (1.0 / 16.0 + 3.0 * {n} / 16.0 + {n} * {n} / 16.0)"
            f" - power(eps, 4) * (3.0 / 64.0 + {n} / 32.0)"
            f" - power(eps, 5) * (3.0 / 128.0)"
        ),
        # C3l (eq. 25)
        "c31": (
            f"eps * (1.0 / 4.0 - {n} / 4.0)"
            f" + power(eps, 2) * (1.0 / 8.0 - {n} * {n} / 8.0)"
            f" + power(eps, 3) * (3.0 / 64.0 + 3.0 * {n} / 64.0 - {n} * {n} / 64.0)"
            f" + power(eps, 4) * (5.0 / 128.0 + {n} / 64.0)"
            f" + power(eps, 5) * (3.0 / 128.0)"
        ),
        "c32": (
            f"power(eps, 2) * (1.0 / 16.0 - 3.0 * {n} / 32.0 + {n} * {n} / 32.0)"
            f" + power(eps, 3) * (3.0 / 64.0 - {n} / 32.0 - 3.0 * {n} * {n} / 64.0)"
            f" + power(eps, 4) * (3.0 / 128.0 + {n} / 128.0)"
            f" + power(eps, 5) * (5.0 / 256.0)"
        ),
        "c33": (
            f"power(eps, 3) * (5.0 / 192.0 - 3.0 * {n} / 64.0 + 5.0 * {n} * {n} / 192.0)"
            f" + power(eps, 4) * (3.0 / 128.0 - 5.0 * {n} / 192.0)"
            f" + power(eps, 5) * (7.0 / 512.0)"
        ),
        "c34": (
            f"power(eps, 4) * (7.0 / 512.0 - 7.0 * {n} / 256.0)"
            f" + power(eps, 5) * 7.0 / 512.0"
        ),
        "c35": "power(eps, 5) * (21.0 / 2560.0)",
    }


def _sin_series_sql(sigma: str, coeffs: list[str]) -> str:
    """sum_l c_l * sin(2(l+1) sigma) — mirror of geodesic._sin_series."""
    return " + ".join(
        f"{c} * sin({_dlit(2.0 * (i + 1))} * {sigma})" for i, c in enumerate(coeffs)
    )


# --- WGS-84 ellipsoid INVERSE problem (Karney 2013 + bisection), SQL mirror --
# Mirror of functions/geodesic.py::karney_inverse_km for the D1 exact lane's
# zone distance (ADVICE r12): the reference measures each simulated point's
# distance to HOME with an ellipsoid geodesic (airstrik.py:259), so the
# exact lane's engine side calls karney_inverse_km via a pandas_udf and this
# mirror replays the SAME bisection in SQL — same canonicalization, same
# per-iteration _karney_eval_core + _lam12_from_core operand order, same
# `hi - lo < 1e-15` break, same final I1 evaluation at the converged
# midpoint.  Known seams, shared with the direct-problem mirror above and
# absorbed by the zone margin / 4-dp rounding: math.hypot -> sqrt(x*x+y*y), math.remainder ->
# x - 360*round(x/360) (equal after abs() for |x| <= 360), libm ulps.
# The engine's `s12 < 0` sanity raise has no SQL equivalent — if it ever
# fired, the ENGINE side errors and the compare fails loudly anyway.


def _karney_eval_nest(src_sql: str, ep2_lit: str) -> str:
    """Nested-subquery chain computing _karney_eval_core's shared
    intermediates (mid, angles, eps, ee) from `src_sql` rows carrying csb1,
    ccb1, csb2, ccb2, lo, hi — copied operand-for-operand from
    geodesic._karney_eval_core, with lam12 as in _lam12_from_core."""
    return f"""(
      SELECT *, eps * eps AS ee FROM (
        SELECT *, (sq - 1.0e0) / (sq + 1.0e0) AS eps FROM (
          SELECT *, atan2(csb2, d2) AS s2, atan2(sa0 * csb2, d2) AS w2,
                 sqrt(1.0e0 + {ep2_lit} * ca0 * ca0) AS sq
          FROM (
            SELECT *, atan2(csb1, d1) AS s1, atan2(sa0 * csb1, d1) AS w1,
                   ccb2 * ca2 AS d2
            FROM (
              SELECT *, sa1 * ccb1 AS sa0,
                     sqrt(ca1 * ca1 + (sa1 * csb1) * (sa1 * csb1)) AS ca0,
                     ccb1 * ca1 AS d1,
                     sqrt(greatest(ca1 * ca1 * ccb1 * ccb1 + (ccb2 * ccb2 - ccb1 * ccb1), 0.0e0)) / ccb2 AS ca2
              FROM (
                SELECT *, sin(mid) AS sa1, cos(mid) AS ca1 FROM (
                  SELECT *, 0.5e0 * (lo + hi) AS mid FROM {src_sql}
                )
              )
            )
          )
        )
      )
    )"""


def karney_inverse_sim_dist_ctes(
    home_lat: float, home_lon: float, src: str = "e6"
) -> str:
    """CTE chain `src` -> steps3 where sim_dist is the WGS-84 ellipsoid
    geodesic distance HOME -> (sim_lat, sim_lon), km, mirroring
    geodesic.karney_inverse_km bit-for-bit (modulo the documented libm
    seams).  `src` must carry hex, event_id, lat, lon, calc_speed,
    sim_heading, t, sim_lat, sim_lon.  REQUIRES the enclosing query to be
    `WITH RECURSIVE`.  The equatorial branch (both reduced latitudes zero)
    is unreachable for a non-equatorial HOME and is asserted away rather
    than mirrored."""
    import math

    from airstrik_py_spark.functions import geodesic as _geod

    if home_lat == 0.0:
        raise NotImplementedError(
            "equatorial HOME would need karney_inverse_km's equatorial "
            "branch mirrored; the reference config pins home_lat=35.727"
        )
    sb1h, cb1h = _geod._reduced_lat(home_lat)
    f = _dlit(_geod.WGS84_F)
    one_m_f = _dlit(1.0 - _geod.WGS84_F)
    b = _dlit(_geod.WGS84_B_M)
    ep2 = _dlit(_geod._EP2)
    lo0, hi0 = _dlit(1e-15), _dlit(math.pi - 1e-15)
    tol = _dlit(1e-15)
    # meridional branch: eps is a constant, so A1/C1 are hoisted literals
    # computed THROUGH geodesic.py's own functions (bit-identical to what
    # the engine's Python evaluates at runtime)
    sqm = math.sqrt(1.0 + _geod._EP2)
    epsm = (sqm - 1.0) / (sqm + 1.0)
    a1m = _dlit(_geod._a1(epsm))
    c1m = [_dlit(c) for c in _geod._c1(epsm)]

    def i1m(sig: str) -> str:
        return f"{a1m} * ({sig} + ({_sin_series_sql(sig, c1m)}))"

    s = {k: _dblify(v) for k, v in _karney_series_sql().items()}
    c3_s1 = _sin_series_sql("s1", [f"c3{i}" for i in range(1, 6)])
    c3_s2 = _sin_series_sql("s2", [f"c3{i}" for i in range(1, 6)])
    c1_s1 = _sin_series_sql("s1", [f"c1{i}" for i in range(1, 7)])
    c1_s2 = _sin_series_sql("s2", [f"c1{i}" for i in range(1, 7)])
    carry = "hex, event_id, t, csb1, ccb1, csb2, ccb2, ilam"
    nlo = "CASE WHEN lam12 < ilam THEN mid ELSE lo END"
    nhi = "CASE WHEN lam12 < ilam THEN hi ELSE mid END"
    dlon = f"(sim_lon - ({_dlit(home_lon)}))"
    return f"""iv0 AS (  -- unnormalized reduced latitude of each sim point
  SELECT hex, event_id, lat, lon, calc_speed, sim_heading, t, sim_lat, sim_lon,
         {one_m_f} * sin(radians(sim_lat)) AS vsbu,
         cos(radians(sim_lat)) AS vcbu
  FROM {src}
),
iv1 AS (
  SELECT *, vsbu / sqrt(vsbu * vsbu + vcbu * vcbu) AS rsb2,
            vcbu / sqrt(vsbu * vsbu + vcbu * vcbu) AS rcb2
  FROM iv0
),
iv2 AS (  -- coincident-point early exit + |lambda| (remainder via round)
  SELECT *,
         (sim_lat = {_dlit(home_lat)} AND fmod({dlon}, 360.0e0) = 0.0e0) AS skip0,
         abs(radians({dlon} - 360.0e0 * round({dlon} / 360.0e0))) AS ilam
  FROM iv1
),
iv3 AS (  -- canonical: the larger-|beta| point becomes point 1
  SELECT *,
    CASE WHEN {_dlit(cb1h)} > rcb2 THEN rsb2 ELSE {_dlit(sb1h)} END AS psb1,
    CASE WHEN {_dlit(cb1h)} > rcb2 THEN rcb2 ELSE {_dlit(cb1h)} END AS ccb1,
    CASE WHEN {_dlit(cb1h)} > rcb2 THEN {_dlit(sb1h)} ELSE rsb2 END AS psb2,
    CASE WHEN {_dlit(cb1h)} > rcb2 THEN {_dlit(cb1h)} ELSE rcb2 END AS ccb2
  FROM iv2
),
iv4 AS (  -- canonical: beta1 <= 0
  SELECT *,
    CASE WHEN psb1 > 0.0e0 THEN -psb1 ELSE psb1 END AS csb1,
    CASE WHEN psb1 > 0.0e0 THEN -psb2 ELSE psb2 END AS csb2
  FROM iv3
),
iv5 AS (  -- meridional closed form (constant-eps I1), flag rows for bisection
  SELECT *, (ilam = 0.0e0) AS merid,
         abs({b} * (({i1m('ms2')}) - ({i1m('ms1')}))) / 1000.0e0 AS mdist
  FROM (
    SELECT *, atan2(csb1, ccb1) AS ms1, atan2(csb2, ccb2) AS ms2 FROM iv4
  )
),
ivbis AS (  -- bisection on alpha1: lambda12(alpha1) monotone (Karney 2013)
  SELECT {carry}, {lo0} AS lo, {hi0} AS hi, 0 AS it, FALSE AS done
  FROM iv5 WHERE NOT skip0 AND NOT merid
  UNION ALL
  SELECT {carry},
         {nlo} AS lo, {nhi} AS hi, it + 1 AS it,
         ((({nhi}) - ({nlo}) < {tol}) OR it + 1 >= 200) AS done
  FROM (
    SELECT *, (w2 - w1) - {f} * sa0 * ((a3c * (s2 + ({c3_s2}))) - (a3c * (s1 + ({c3_s1})))) AS lam12
    FROM (
      SELECT *, {s['a3c']} AS a3c,
             {s['c31']} AS c31, {s['c32']} AS c32, {s['c33']} AS c33,
             {s['c34']} AS c34, {s['c35']} AS c35
      FROM {_karney_eval_nest('(SELECT * FROM ivbis WHERE NOT done)', ep2)}
    )
  )
),
ivfin AS (  -- s12 = B * (I1(sigma2) - I1(sigma1)) at the converged midpoint
  SELECT hex, event_id, t,
         {b} * ((a1c * (s2 + ({c1_s2}))) - (a1c * (s1 + ({c1_s1})))) AS s12_m
  FROM (
    SELECT *, {s['a1c']} AS a1c,
           {s['c11']} AS c11, {s['c12']} AS c12, {s['c13']} AS c13,
           {s['c14']} AS c14, {s['c15']} AS c15, {s['c16']} AS c16
    FROM {_karney_eval_nest('(SELECT * FROM ivbis WHERE done)', ep2)}
  )
),
steps3 AS (
  SELECT i.hex, i.event_id, i.lat, i.lon, i.calc_speed, i.sim_heading, i.t,
         i.sim_lat, i.sim_lon,
         CASE WHEN i.skip0 THEN 0.0e0
              WHEN i.merid THEN i.mdist
              ELSE g.s12_m / 1000.0e0 END AS sim_dist
  FROM iv5 i LEFT JOIN ivfin g USING (hex, event_id, t)
)"""


def dead_reckoning_exact_ctes(
    think_ahead: int = 60,
    most_generous_dist: float = 10.0,
    home_lat: float = 35.727,
    home_lon: float = -78.696,
) -> str:
    """D1 with ellipsoid-exact step positions: the same latest/break/agg
    pipeline as dead_reckoning_ctes, but each step's destination point is
    the WGS-84 direct problem (Karney 2013) instead of the spherical
    forward formulas — mirroring operators/alarm.py::dead_reckoning with
    exact_geodesic=True (geodesic_dest_pandas_udf -> _karney_direct_step).
    Per-plane geodesic constants (Clairaut, eps, series coefficients,
    I1/I3 at sigma1) are hoisted into one CTE; each of the think_ahead
    steps costs only the inverse-series + I3 evaluation.  sim_dist is the
    ellipsoid INVERSE problem to HOME (karney_inverse_sim_dist_ctes
    mirroring geodesic.karney_inverse_km — ADVICE r12), exactly as the
    engine lane's geodesic_km_pandas_udf; the enclosing query must be
    WITH RECURSIVE for its bisection CTE."""
    s = {k: _dblify(v) for k, v in _karney_series_sql().items()}
    f, one_m_f = _dlit(_GD_F), _dlit(1.0 - _GD_F)
    b, ep2 = _dlit(_GD_B), _dlit(_GD_EP2)
    c1_at_sigma1 = _sin_series_sql("sigma1", [f"c1{i}" for i in range(1, 7)])
    c3_at_sigma1 = _sin_series_sql("sigma1", [f"c3{i}" for i in range(1, 6)])
    cp1_at_tau2 = _sin_series_sql("tau2", [f"cp1{i}" for i in range(1, 7)])
    c3_at_sigma2 = _sin_series_sql("sigma2", [f"c3{i}" for i in range(1, 6)])
    return f"""{_DR_LATEST},
g1 AS (  -- reduced latitude + azimuth ingredients (geodesic._reduced_lat)
  SELECT hex, event_id, lat, lon, calc_speed, sim_heading,
         {one_m_f} * sin(radians(lat)) AS sbu,
         cos(radians(lat)) AS cbu,
         sin(radians(sim_heading)) AS sa1,
         cos(radians(sim_heading)) AS ca1
  FROM latest WHERE can_sim
),
g2 AS (
  SELECT *, sbu / sqrt(sbu * sbu + cbu * cbu) AS sb1,
            cbu / sqrt(sbu * sbu + cbu * cbu) AS cb1
  FROM g1
),
g3 AS (  -- Clairaut constant + arc position of point 1
  SELECT *, sa1 * cb1 AS sa0,
            sqrt(ca1 * ca1 + (sa1 * sb1) * (sa1 * sb1)) AS ca0,
            atan2(sb1, cb1 * ca1) AS sigma1
  FROM g2
),
g4 AS (
  SELECT *, atan2(sa0 * sin(sigma1), cos(sigma1)) AS w1,
            sqrt(1.0e0 + {ep2} * ca0 * ca0) AS sq
  FROM g3
),
g5 AS (
  SELECT *, (sq - 1.0e0) / (sq + 1.0e0) AS eps FROM g4
),
g6 AS (
  SELECT *, eps * eps AS ee FROM g5
),
g7 AS (  -- series coefficients (geodesic._a1/_c1/_c1p/_a3/_c3)
  SELECT *,
         {s['a1c']} AS a1c, {s['a3c']} AS a3c,
         {s['c11']} AS c11, {s['c12']} AS c12, {s['c13']} AS c13,
         {s['c14']} AS c14, {s['c15']} AS c15, {s['c16']} AS c16,
         {s['cp11']} AS cp11, {s['cp12']} AS cp12, {s['cp13']} AS cp13,
         {s['cp14']} AS cp14, {s['cp15']} AS cp15, {s['cp16']} AS cp16,
         {s['c31']} AS c31, {s['c32']} AS c32, {s['c33']} AS c33,
         {s['c34']} AS c34, {s['c35']} AS c35
  FROM g6
),
gconst AS (  -- I1/I3 at sigma1, computed once per plane
  SELECT *,
         a1c * (sigma1 + ({c1_at_sigma1})) AS i1s1,
         a3c * (sigma1 + ({c3_at_sigma1})) AS i3s1
  FROM g7
),
e1 AS (  -- per-step arc advance: invert I1 via tau series (eq. 20-21)
  SELECT g.*, CAST(s.t AS INTEGER) AS t,
         ({b} * g.i1s1 + ((g.calc_speed / 3600.0e0) * s.t) * 1000.0e0)
           / ({b} * g.a1c) AS tau2
  FROM gconst g CROSS JOIN range(0, {think_ahead}) s(t)
),
e2 AS (
  SELECT *, tau2 + ({cp1_at_tau2}) AS sigma2 FROM e1
),
e3 AS (
  SELECT *, sin(sigma2) AS ss2, cos(sigma2) AS cs2,
         a3c * (sigma2 + ({c3_at_sigma2})) AS i3s2
  FROM e2
),
e4 AS (  -- back to the ellipsoid
  SELECT *, ca0 * ss2 AS sb2,
         sqrt((ca0 * cs2) * (ca0 * cs2) + sa0 * sa0) AS cb2,
         atan2(sa0 * ss2, cs2) AS w2
  FROM e3
),
e5 AS (
  SELECT *, degrees(atan2(sb2, {one_m_f} * cb2)) AS sim_lat,
         lon + degrees((w2 - w1) - {f} * sa0 * (i3s2 - i3s1)) AS lon_raw
  FROM e4
),
e6 AS (  -- normalize longitude ONCE: sim_lon and sim_dist must share it
  SELECT *, lon_raw - 360.0e0 * round(lon_raw / 360.0e0) AS sim_lon FROM e5
),
{karney_inverse_sim_dist_ctes(home_lat, home_lon)},
{_dr_tail(think_ahead, most_generous_dist)}"""
