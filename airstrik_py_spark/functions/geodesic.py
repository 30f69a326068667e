"""WGS-84 geodesic inverse problem, pure Python, no third-party geodesic
package (VERDICT r10 #7).

The reference computes distances with a `geodesic` call (airstrik.py:400,
438), which is Karney's algorithm on the WGS-84 ellipsoid.  The engine's
hot path stays the spherical haversine Column expression (functions/geo.py)
— this module exists to QUANTIFY that divergence (FLOATS.md) and to offer
an ellipsoid-exact pandas_udf for users who need reference-identical
numbers.

Two independent published algorithms, implemented separately so they
cross-validate each other (tests assert sub-millimetre mutual agreement —
neither shares a line of math with the other):

  * `karney_inverse_km` — C. F. F. Karney, "Algorithms for geodesics",
    J. Geodesy 87, 43-55 (2013).  Auxiliary-sphere formulation: reduced
    latitudes -> Clairaut constant -> arc-length/longitude integrals I1/I3
    as 6th-order trigonometric series in the expansion parameter eps.
    Instead of the paper's Newton iteration (which needs the reduced-length
    m12 machinery), azimuth alpha1 is solved by bisection on
    lambda12(alpha1), which Karney proves monotone after canonicalization —
    ~60 iterations of cheap series math, ample for a verification lane.
  * `vincenty_inverse_km` — T. Vincenty, "Direct and inverse solutions of
    geodesics on the ellipsoid" (1975).  Converges for all non-antipodal
    pairs; published accuracy 0.5 mm.

Both are scalar Python wrapped in Arrow-batched pandas_udfs — fine for a
parity/verification lane, NOT for the 100 TB hot path (the haversine
Column expression is; FLOATS.md quantifies what that trade costs per
query).

Scalar math.* is LOAD-BEARING, not an oversight: the
alarm_dead_reckoning_exact oracle mirrors karney_direct
operand-for-operand in DuckDB SQL, and both CPython's math module and
DuckDB resolve to the platform libm, which is what makes that compare
bit-exact (ORACLES-PORTABILITY §17).  Vectorizing with numpy would swap
in numpy's SIMD sin/cos (different ulps) and silently demote the oracle
from bit-exact to rounding-absorbed — don't.
"""

from __future__ import annotations

import math

import pandas as pd

# WGS-84
WGS84_A_M = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B_M = WGS84_A_M * (1.0 - WGS84_F)
_E2 = WGS84_F * (2.0 - WGS84_F)          # first eccentricity squared
_EP2 = _E2 / (1.0 - _E2)                 # second eccentricity squared
_N = WGS84_F / (2.0 - WGS84_F)           # third flattening


# --- Karney 2013 -----------------------------------------------------------


def _a1(eps: float) -> float:
    """A1 (eq. 17): I1 prefactor, series in eps to order 6."""
    e2 = eps * eps
    return (1.0 + e2 * (1.0 / 4.0 + e2 * (1.0 / 64.0 + e2 / 256.0))) / (1.0 - eps)


def _c1(eps: float) -> list[float]:
    """C1l (eq. 18): sin(2l sigma) coefficients of I1, order 6."""
    e2 = eps * eps
    return [
        eps * (-0.5 + e2 * (3.0 / 16.0 - e2 / 32.0)),
        e2 * (-1.0 / 16.0 + e2 * (1.0 / 32.0 - 9.0 / 2048.0 * e2)),
        e2 * eps * (-1.0 / 48.0 + e2 * 3.0 / 256.0),
        e2 * e2 * (-5.0 / 512.0 + e2 * 3.0 / 512.0),
        e2 * e2 * eps * (-7.0 / 1280.0),
        e2 * e2 * e2 * (-7.0 / 2048.0),
    ]


def _a3(eps: float, n: float = _N) -> float:
    """A3 (eq. 24): I3 prefactor, series in eps and third flattening n."""
    return (
        1.0
        - eps * (0.5 - n / 2.0)
        - eps**2 * (1.0 / 4.0 + n / 8.0 - 3.0 * n * n / 8.0)
        - eps**3 * (1.0 / 16.0 + 3.0 * n / 16.0 + n * n / 16.0)
        - eps**4 * (3.0 / 64.0 + n / 32.0)
        - eps**5 * (3.0 / 128.0)
    )


def _c3(eps: float, n: float = _N) -> list[float]:
    """C3l (eq. 25): sin(2l sigma) coefficients of I3."""
    return [
        eps * (1.0 / 4.0 - n / 4.0)
        + eps**2 * (1.0 / 8.0 - n * n / 8.0)
        + eps**3 * (3.0 / 64.0 + 3.0 * n / 64.0 - n * n / 64.0)
        + eps**4 * (5.0 / 128.0 + n / 64.0)
        + eps**5 * (3.0 / 128.0),
        eps**2 * (1.0 / 16.0 - 3.0 * n / 32.0 + n * n / 32.0)
        + eps**3 * (3.0 / 64.0 - n / 32.0 - 3.0 * n * n / 64.0)
        + eps**4 * (3.0 / 128.0 + n / 128.0)
        + eps**5 * (5.0 / 256.0),
        eps**3 * (5.0 / 192.0 - 3.0 * n / 64.0 + 5.0 * n * n / 192.0)
        + eps**4 * (3.0 / 128.0 - 5.0 * n / 192.0)
        + eps**5 * (7.0 / 512.0),
        eps**4 * (7.0 / 512.0 - 7.0 * n / 256.0) + eps**5 * 7.0 / 512.0,
        eps**5 * (21.0 / 2560.0),
    ]


def _sin_series(sigma: float, c: list[float]) -> float:
    return sum(cl * math.sin(2.0 * (l + 1) * sigma) for l, cl in enumerate(c))


def _i1(sigma: float, eps: float) -> float:
    return _a1(eps) * (sigma + _sin_series(sigma, _c1(eps)))


def _i3_term(sigma: float, eps: float) -> float:
    return _a3(eps) * (sigma + _sin_series(sigma, _c3(eps)))


def _reduced_lat(phi_deg: float) -> tuple[float, float]:
    """(sin beta, cos beta) of the reduced latitude tan(beta)=(1-f)tan(phi),
    computed without the intermediate tan to stay finite at the poles."""
    phi = math.radians(phi_deg)
    sb = (1.0 - WGS84_F) * math.sin(phi)
    cb = math.cos(phi)
    norm = math.hypot(sb, cb)
    return sb / norm, cb / norm


def _karney_eval_core(
    alpha1: float, sb1: float, cb1: float, sb2: float, cb2: float
) -> tuple[float, float, float, float, float, float]:
    """Shared intermediates of the per-azimuth evaluation (canonical
    configuration): returns (s1, s2, w1, w2, sa0, eps).  Split out (r16)
    so the bisection loop computes ONLY lambda12 per iteration — the s12
    it used to compute and discard cost two I1 series (with fresh
    coefficient lists) per iteration — mirroring the structure the DuckDB
    oracle mirror always had (its `ivbis` CTE evaluates lam12 alone and
    `ivfin` evaluates I1 once at the converged midpoint).  Every float
    operation and its order is unchanged."""
    sa1, ca1 = math.sin(alpha1), math.cos(alpha1)
    # Clairaut: sin(alpha0) = sin(alpha1) cos(beta1)
    sa0 = sa1 * cb1
    ca0 = math.hypot(ca1, sa1 * sb1)
    # sigma/omega at point 1
    s1 = math.atan2(sb1, cb1 * ca1)
    w1 = math.atan2(sa0 * sb1, cb1 * ca1)  # = atan2(sin a0 sin s, cos s)
    # alpha2 from Clairaut at beta2 (canonical: cos b2 >= cos b1 -> real)
    ca2 = math.sqrt(max(ca1 * ca1 * cb1 * cb1 + (cb2 * cb2 - cb1 * cb1), 0.0)) / cb2
    s2 = math.atan2(sb2, cb2 * ca2)
    w2 = math.atan2(sa0 * sb2, cb2 * ca2)
    # series parameter from k^2 = e'^2 cos^2(alpha0)
    k2 = _EP2 * ca0 * ca0
    sq = math.sqrt(1.0 + k2)
    eps = (sq - 1.0) / (sq + 1.0)
    return s1, s2, w1, w2, sa0, eps


def _lam12_from_core(
    core: tuple[float, float, float, float, float, float],
) -> float:
    """lambda12 from the shared core.  A3/C3 are computed ONCE and reused
    for both sigma terms — bit-identical to the former two _i3_term calls
    (pure functions of eps; multiplication order preserved)."""
    s1, s2, w1, w2, sa0, eps = core
    a3 = _a3(eps)
    c3 = _c3(eps)
    return (w2 - w1) - WGS84_F * sa0 * (
        a3 * (s2 + _sin_series(s2, c3)) - a3 * (s1 + _sin_series(s1, c3))
    )


def _s12_from_core(
    core: tuple[float, float, float, float, float, float],
) -> float:
    """s12 (metres) from the shared core; A1/C1 computed once, as above."""
    s1, s2, _w1, _w2, _sa0, eps = core
    a1 = _a1(eps)
    c1 = _c1(eps)
    return WGS84_B_M * (
        a1 * (s2 + _sin_series(s2, c1)) - a1 * (s1 + _sin_series(s1, c1))
    )


def _karney_eval(
    alpha1: float, sb1: float, cb1: float, sb2: float, cb2: float
) -> tuple[float, float]:
    """Given azimuth alpha1 at point 1 (canonical configuration), return
    (lambda12, s12_m) along the geodesic through both latitudes."""
    core = _karney_eval_core(alpha1, sb1, cb1, sb2, cb2)
    return _lam12_from_core(core), _s12_from_core(core)


def karney_inverse_km(
    lat1: float, lon1: float, lat2: float, lon2: float
) -> float:
    """WGS-84 geodesic distance (km), Karney 2013 with bisection on
    alpha1.  Handles the meridional and equatorial special cases directly;
    near-antipodal pairs (lambda12 within ~0.1 deg of the antipodal
    boundary) still converge via bisection, just to the monotone branch."""
    if lat1 == lat2 and (lon1 - lon2) % 360.0 == 0.0:
        return 0.0
    sb1, cb1 = _reduced_lat(lat1)
    sb2, cb2 = _reduced_lat(lat2)
    lam = math.radians(math.remainder(lon2 - lon1, 360.0))
    lam = abs(lam)  # distance is symmetric under lon reflection
    # canonical: point 1 is the one with the LARGER |beta| (so that
    # cos b2 >= cos b1 and alpha2's positive root is valid), beta1 <= 0
    if cb1 > cb2:
        sb1, cb1, sb2, cb2 = sb2, cb2, sb1, cb1
    if sb1 > 0:
        sb1, sb2 = -sb1, -sb2
    # meridional: same longitude -> great ellipse through the poles
    if lam == 0.0:
        s1 = math.atan2(sb1, cb1)
        s2 = math.atan2(sb2, cb2)
        sq = math.sqrt(1.0 + _EP2)
        eps = (sq - 1.0) / (sq + 1.0)
        return abs(WGS84_B_M * (_i1(s2, eps) - _i1(s1, eps))) / 1000.0
    # equatorial: both reduced latitudes zero.  Short arcs (lam <= pi(1-f))
    # run the equator; beyond that cutoff the geodesic LEAVES the equator
    # (Karney 2013 §5) and the general bisection below degenerates (sigma1 =
    # sigma2 = 0 for any ca1 > 0, so lambda12 is meaningless — the r11 bug
    # returned a negative distance here).  The off-equator case reduces in
    # closed form: the geodesic spans a full half-period sigma 0 -> pi at
    # equator-crossing azimuth alpha1, so lambda12 = pi (1 - f sin(alpha1)
    # A3(eps)) and s12 = b A1(eps) pi — solve for alpha1 by bisection
    # (lambda12 is monotone decreasing in alpha1 on (0, pi/2]).
    if sb1 == 0.0 and sb2 == 0.0:
        if lam <= math.pi * (1.0 - WGS84_F):
            return WGS84_A_M * lam / 1000.0
        lo_a, hi_a = 0.0, math.pi / 2.0  # lam12: pi .. pi(1-f)
        for _ in range(200):
            mid = 0.5 * (lo_a + hi_a)
            k2 = _EP2 * math.cos(mid) ** 2
            sq = math.sqrt(1.0 + k2)
            eps = (sq - 1.0) / (sq + 1.0)
            lam12 = math.pi * (1.0 - WGS84_F * math.sin(mid) * _a3(eps))
            if lam12 > lam:
                lo_a = mid
            else:
                hi_a = mid
            if hi_a - lo_a < 1e-15:
                break
        k2 = _EP2 * math.cos(0.5 * (lo_a + hi_a)) ** 2
        sq = math.sqrt(1.0 + k2)
        eps = (sq - 1.0) / (sq + 1.0)
        return WGS84_B_M * _a1(eps) * math.pi / 1000.0
    lo, hi = 1e-15, math.pi - 1e-15
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        # lam12 only — s12 is not needed until convergence (r16; the SQL
        # mirror's ivbis/ivfin split has always had this structure)
        lam12 = _lam12_from_core(_karney_eval_core(mid, sb1, cb1, sb2, cb2))
        if lam12 < lam:
            lo = mid
        else:
            hi = mid
        if hi - lo < 1e-15:
            break
    s12 = _s12_from_core(
        _karney_eval_core(0.5 * (lo + hi), sb1, cb1, sb2, cb2)
    )
    if s12 < 0.0:
        raise ValueError(
            f"karney bisection converged to a non-geodesic root "
            f"(s12={s12 / 1000.0:.3f} km < 0) for "
            f"({lat1},{lon1})->({lat2},{lon2})"
        )
    return s12 / 1000.0


# --- Karney 2013, DIRECT problem --------------------------------------------


def _c1p(eps: float) -> list[float]:
    """C'1l (eq. 21): coefficients of the INVERSE of the I1 series —
    sigma = tau + sum C'1l sin(2 l tau) — order 6."""
    e2 = eps * eps
    return [
        eps * (0.5 + e2 * (-9.0 / 32.0 + e2 * 205.0 / 1536.0)),
        e2 * (5.0 / 16.0 + e2 * (-37.0 / 96.0 + e2 * 1335.0 / 4096.0)),
        e2 * eps * (29.0 / 96.0 - e2 * 75.0 / 128.0),
        e2 * e2 * (539.0 / 1536.0 - e2 * 2391.0 / 2560.0),
        e2 * e2 * eps * (3467.0 / 7680.0),
        e2 * e2 * e2 * (38081.0 / 61440.0),
    ]


def _karney_direct_prefix(
    lat1: float, azi1_deg: float
) -> tuple[float, float, float, float, float, list[float], float, list[float], float]:
    """Everything in the direct problem that depends only on the ORIGIN
    latitude and azimuth (r16): the Clairaut constant, omega1, eps and all
    four series coefficient sets, plus b·I1(sigma1) and the I3 term at
    sigma1.  D1's dead-reckoning unroll evaluates think_ahead (~60) steps
    per plane-fix that share (lat1, azi1) and vary only the distance, so
    hoisting this prefix out of the per-step call removes ~98% of the
    series work.  Every retained float operation and its order is
    unchanged from the former inline form; hoisted subexpressions
    (b·A1(eps), A3·(s1+series)) are the identical products the inline
    form computed."""
    sb1, cb1 = _reduced_lat(lat1)
    alpha1 = math.radians(azi1_deg)
    sa1, ca1 = math.sin(alpha1), math.cos(alpha1)
    # Clairaut constant along the whole geodesic
    sa0 = sa1 * cb1
    ca0 = math.hypot(ca1, sa1 * sb1)
    # arc position of point 1 on the auxiliary sphere
    s1_ = math.atan2(sb1, cb1 * ca1)
    w1 = math.atan2(sa0 * math.sin(s1_), math.cos(s1_))
    k2 = _EP2 * ca0 * ca0
    sq = math.sqrt(1.0 + k2)
    eps = (sq - 1.0) / (sq + 1.0)
    a1c = _a1(eps)
    b_i1_s1 = WGS84_B_M * _i1(s1_, eps)  # b I1(sigma1), metres
    den = WGS84_B_M * a1c
    c1p = _c1p(eps)
    a3 = _a3(eps)
    c3 = _c3(eps)
    i3_s1 = a3 * (s1_ + _sin_series(s1_, c3))  # == _i3_term(s1_, eps)
    return sa0, ca0, w1, b_i1_s1, den, c1p, a3, c3, i3_s1


def _karney_direct_step(
    prefix: tuple[float, float, float, float, float, list[float], float, list[float], float],
    lon1: float,
    s_km: float,
) -> tuple[float, float]:
    """Per-distance tail of the direct problem given a shared prefix."""
    sa0, ca0, w1, b_i1_s1, den, c1p, a3, c3, i3_s1 = prefix
    # advance arc length: s2 = b I1(sigma1) + s, inverted via tau series
    s2_m = b_i1_s1 + s_km * 1000.0
    tau2 = s2_m / den
    sigma2 = tau2 + _sin_series(tau2, c1p)
    ss2, cs2 = math.sin(sigma2), math.cos(sigma2)
    # back to the ellipsoid
    sb2 = ca0 * ss2
    cb2 = math.hypot(ca0 * cs2, sa0)
    lat2 = math.degrees(math.atan2(sb2, (1.0 - WGS84_F) * cb2))
    w2 = math.atan2(sa0 * ss2, cs2)
    lam12 = (w2 - w1) - WGS84_F * sa0 * (
        a3 * (sigma2 + _sin_series(sigma2, c3)) - i3_s1
    )
    lon2 = math.remainder(lon1 + math.degrees(lam12), 360.0)
    return lat2, lon2


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


def geodesic_dest_pandas_udf():
    """Arrow-batched pandas_udf over karney_direct: the ellipsoid-exact
    DESTINATION-POINT lane for D1's dead-reckoning unroll (VERDICT r11 #5).
    Returns a struct<lat double, lon double>.  Verification-grade — the
    100 TB hot path stays the spherical Column expressions in
    functions/geo.py (FLOATS.md §D1 quantifies the trade)."""
    import pandas as pd  # noqa: F811 (module-level import exists)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("lat double, lon double")
    def _udf(
        lat1: pd.Series, lon1: pd.Series, azi: pd.Series, dist_km: pd.Series
    ) -> pd.DataFrame:
        # The think_ahead steps of one plane-fix share (lat, azi) and vary
        # only the distance, so memoize the prefix within the Arrow batch
        # (fresh dict per batch — per-row CSE, no state across calls).
        # Bound: at most one entry per row of this Arrow batch, and a batch
        # holds at most spark.sql.execution.arrow.maxRecordsPerBatch rows
        # (10,000 by default); each entry is one prefix tuple of a few
        # dozen floats, dropped when the batch returns.
        prefixes: dict[tuple[float, float], tuple] = {}
        out = []
        for a, b, c, d in zip(lat1, lon1, azi, dist_km):
            key = (a, c)
            pre = prefixes.get(key)
            if pre is None:
                pre = prefixes[key] = _karney_direct_prefix(a, c)
            out.append(_karney_direct_step(pre, b, d))
        return pd.DataFrame(out, columns=["lat", "lon"])

    return _udf


def geodesic_km_pandas_udf():
    """Arrow-batched pandas_udf over karney_inverse_km — the pure-Python
    ellipsoid-exact lane.  Built lazily so importing this module never
    needs an active Spark session."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _udf(
        lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                karney_inverse_km(a, b, c, d)
                for a, b, c, d in zip(lat1, lon1, lat2, lon2)
            ]
        )

    return _udf
