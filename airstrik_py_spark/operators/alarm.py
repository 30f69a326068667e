"""Geofence matching + predictive dead-reckoning alarm — SURVEY.md §2.2 F2,
§2.5 W6, §2.6 D1/D2.

F2/W6 are pure Catalyst predicates.  D1 (get_alarm_info, airstrik.py:223-278)
is the one genuinely custom operator: per plane, simulate positions
t = 0..think_ahead-1 seconds ahead along the current heading at the current
speed and find the first second entering the widest geofence.  We unroll the
simulation relationally — explode(sequence(...)) -> forward-geodesic per
step -> window-based early-exit replication -> aggregate; in the default
spherical geometry all of it is whole-stage codegen, no Python.  The row
multiplier (think_ahead) is gated on "heading and speed available" BEFORE
the explode, so Catalyst never materializes steps for planes that can't
simulate.  At 100 TB the unroll is embarrassingly
parallel (partition-local; the step windows repartition on (hex, event_id)
which is finer than hex — no skew possible).  `latest_fix` builds the
per-plane state D1 reads.

Each operator is a `build_*(cfg)` that builds its Column expressions once
and returns a function that only applies them.  The registered slugs
build per query; the live callback (streaming/pipeline.py::
alarm_foreach_batch) builds once per stream, so a micro-batch pays a few
py4j round trips per DataFrame call instead of a dozen per Column call.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.functions.geo import dest_lat_deg, dest_lon_deg, haversine_km
from airstrik_py_spark.operators import kinematics as K

# Reference sentinel: min_radius when the zone is never entered
# (airstrik.py:232 `min_radius = 100000000`).
MIN_RADIUS_SENTINEL = 100000000.0

# An operator with its Column expressions already built: it only applies
# them to the frame it is given.
Op = Callable[[DataFrame], DataFrame]


def matched_filters(dist: Column, alt: Column, cfg: EngineConfig) -> Column:
    """F2 — names of configured geofences matched by (dist, alt), comma
    joined in config order (match_filters, airstrik.py:415-427: dist <= max
    AND (alt unknown OR alt <= max))."""
    parts = [
        F.when(
            (dist <= F.lit(gf.max_dist_km))
            & (alt.isNull() | (alt <= F.lit(gf.max_alt_m))),
            F.lit(gf.name),
        )
        for gf in cfg.filters
    ]
    return F.concat_ws(",", *parts)


def build_latest_fix(cfg: EngineConfig) -> Op:
    """Latest fix per plane with kinematics attached (the reference's
    plane_history[-1] state, no consecutive-dedup so every event counts).

    Scale shape: the kinematics windows only ever look lookback_rows back,
    so each key is first pruned to its last lookback_rows+1 rows with one
    cheap rank window, the kinematics run on that sliver, and the top row
    is kept — identical values, ~10x less window compute (and at 100 TB,
    the prune is the difference between reranking a key's tail and
    re-deriving its entire history)."""
    w_desc = Window.partitionBy("hex").orderBy(
        F.col("ts_sec").desc(), F.col("event_id").desc()
    )
    rank = F.row_number().over(w_desc)
    in_tail = F.col("_rn") <= cfg.lookback_rows + 1
    kin = {
        "calc_heading": K.calc_heading(),
        "calc_speed": K.calc_speed(cfg),
        "distance": K.distance_home(cfg),
    }
    top = F.col("_rn") == 1

    def apply(obs: DataFrame) -> DataFrame:
        return (
            obs.withColumn("_rn", rank).filter(in_tail).withColumns(kin).filter(top).drop("_rn")
        )

    return apply


def latest_fix(obs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """build_latest_fix applied to `obs`."""
    return build_latest_fix(cfg)(obs)


def _spherical_geometry(step_km: Column, cfg: EngineConfig) -> Op:
    """Step position by the spherical forward geodesic and zone distance by
    haversine — Column expressions, whole-stage codegen."""
    slat = dest_lat_deg(F.col("lat"), F.col("_shdg"), step_km)
    slon = dest_lon_deg(F.col("lat"), F.col("lon"), F.col("_slat"), F.col("_shdg"), step_km)
    sdist = haversine_km(
        F.lit(cfg.home_lat), F.lit(cfg.home_lon), F.col("_slat"), F.col("_slon")
    )

    def apply(sim: DataFrame) -> DataFrame:
        return sim.withColumn("_slat", slat).withColumn("_slon", slon).withColumn("_sdist", sdist)

    return apply


def _exact_geometry(step_km: Column, cfg: EngineConfig) -> Op:
    """Step position by the WGS-84 Karney direct problem and zone distance
    by the Karney inverse problem, both Arrow-batched pandas_udfs.  A
    pandas_udf sees every row, including the single t=0 row of a fix that
    cannot simulate, so those rows get NULL-free dummy inputs; the zone
    test ignores them through can_sim."""
    from airstrik_py_spark.functions.geodesic import (
        geodesic_dest_pandas_udf,
        geodesic_km_pandas_udf,
    )

    def sim_only(c: Column) -> Column:
        return F.when(F.col("can_sim"), c).otherwise(F.lit(0.0))

    dest = geodesic_dest_pandas_udf()(
        sim_only(F.col("lat")), sim_only(F.col("lon")), sim_only(F.col("_shdg")), sim_only(step_km)
    )
    point = {"_slat": F.col("_spt.lat"), "_slon": F.col("_spt.lon")}
    sdist = geodesic_km_pandas_udf()(
        F.lit(cfg.home_lat), F.lit(cfg.home_lon), F.col("_slat"), F.col("_slon")
    )

    def apply(sim: DataFrame) -> DataFrame:
        return (
            sim.withColumn("_spt", dest)
            .withColumns(point)
            .drop("_spt")
            .withColumn("_sdist", sdist)
        )

    return apply


def _build_dead_reckoning_steps(
    cfg: EngineConfig, heading: Column, can_sim: Column, geometry
) -> Op:
    """D1 as ONE explode+window pass; `geometry` (step position + zone
    distance) is the only part that varies.

    Explode ALL rows (can_sim rows fan out to the think_ahead steps,
    non-sim rows to a single t=0 row so none are lost), compute every
    step position/distance/flag, resolve the break/alarm aggregates as
    WINDOW functions over (hex, event_id), and keep only the t=0 row:
    one upstream evaluation, no join.  The window sort is
    partition-local: the input is already hash-clustered by hex
    (hashpartitioning(hex) satisfies the window's (hex, event_id)
    clustering requirement), so no new exchange is introduced.

    Replicated break semantics (oracle-checked): steps at or after the
    first out-of-bounds or distance-growth step are dead; the
    growth-break step's own flags can never change the outputs (it is
    in-zone with a prior in-zone step, so alarm_ll/alarm_time are
    already set and its dist exceeds the running min), so
    `t < first_break` suffices.
    """
    horizon = F.lit(int(cfg.think_ahead))
    setup = {"can_sim": can_sim, "_shdg": heading}
    steps = F.explode(
        F.when(F.col("can_sim"), F.sequence(F.lit(0), horizon - 1)).otherwise(
            F.array(F.lit(0))
        )
    )
    step_km = (F.col("calc_speed") / 3600.0) * F.col("_t")
    geo = geometry(step_km, cfg)
    in_zone = F.col("can_sim") & (F.col("_sdist") < F.lit(cfg.most_generous_dist_km))
    oob = (F.abs(F.col("_slat")) > 90.0) | (F.abs(F.col("_slon")) > 90.0)

    step_w = Window.partitionBy("hex", "event_id").orderBy("_t")
    before = step_w.rowsBetween(Window.unboundedPreceding, -1)
    full_w = Window.partitionBy("hex", "event_id")

    prev_zone_dist = F.last(F.when(in_zone, F.col("_sdist")), ignorenulls=True).over(before)
    growth = in_zone & prev_zone_dist.isNotNull() & (F.col("_sdist") > prev_zone_dist)
    flags = {
        "_in_zone": in_zone,
        "_b_oob": F.min(F.when(oob, F.col("_t"))).over(full_w),
        "_b_grow": F.min(F.when(growth, F.col("_t"))).over(full_w),
    }

    live = F.col("_t") < F.least(
        F.coalesce(F.col("_b_oob"), horizon), F.coalesce(F.col("_b_grow"), horizon)
    )
    live_in_zone = live & F.col("_in_zone")
    sims = {
        "_sim_ll": F.max(F.when(live, F.col("_in_zone"))).over(full_w),
        "_sim_at": F.min(F.when(live_in_zone, F.col("_t"))).over(full_w),
        "_sim_mr": F.min(F.when(live_in_zone, F.col("_sdist"))).over(full_w),
    }
    first_step = F.col("_t") == 0
    outputs = {
        "alarm_ll": F.coalesce(F.col("_sim_ll"), F.lit(False)),
        "alarm_time": F.coalesce(F.col("_sim_at"), F.lit(-1)),
        "min_radius": F.when(~F.col("can_sim"), F.lit(0.0)).otherwise(
            F.round(F.coalesce(F.col("_sim_mr"), F.lit(MIN_RADIUS_SENTINEL)), 4)
        ),
    }
    alt_ok = F.col("alt_geom").isNull() | (
        F.col("alt_geom") <= F.lit(cfg.most_generous_alt_m)
    )
    alarm = F.col("alarm_ll") & alt_ok
    temp_cols = (
        "_shdg", "_t", "_slat", "_slon", "_sdist", "_in_zone",
        "_b_oob", "_b_grow", "_sim_ll", "_sim_at", "_sim_mr",
    )

    def apply(df: DataFrame) -> DataFrame:
        sim = geo(df.withColumns(setup).withColumn("_t", steps))
        return (
            sim.withColumns(flags)
            .withColumns(sims)
            .filter(first_step)
            .withColumns(outputs)
            .withColumn("alarm", alarm)
            .drop(*temp_cols)
        )

    return apply


def build_dead_reckoning(cfg: EngineConfig, exact_geodesic: bool = False) -> Op:
    """D1 — relational unroll of get_alarm_info (airstrik.py:223-278).

    `exact_geodesic=True` swaps the spherical forward-geodesic step
    positions for the WGS-84 ellipsoid DIRECT solution
    (geodesic.py::geodesic_dest_pandas_udf) AND the spherical haversine
    zone distance for the ellipsoid INVERSE solution (karney_inverse_km),
    both via Arrow-batched pandas_udfs — the reference-identical lane,
    since the reference's destination() / geodesic() are the same Karney
    direct / inverse problems (airstrik.py:245-259).  Default stays the
    whole-stage-codegen spherical Column expressions (the 100 TB hot path;
    FLOATS.md §D1 quantifies the per-step divergence at < 0.25%).  Both
    run the same explode+window pass; the flag selects only the geometry.

    Input: one row per plane-fix with `hex, event_id, lat, lon, calc_heading,
    nav_heading, calc_speed, alt_geom, distance`.  Replicated semantics:

      * heading = calc_heading else nav_heading; neither (or no speed) ->
        (alarm=False, alarm_time=-1, min_radius=0) (airstrik.py:244-254);
      * steps t in [0, think_ahead) at (speed/3600)*t km along heading;
      * break BEFORE evaluating a step whose |lat| or |lon| > 90 — the ±90
        longitude clamp is a reference bug kept deliberately (SURVEY §7);
      * zone test is STRICT dist < most_generous_dist (airstrik.py:260);
      * once in zone, break when dist exceeds the previous in-zone dist
        (airstrik.py:266-268) — flags of the breaking step still count;
      * min_radius = min in-zone dist, sentinel 1e8 when never in zone;
      * alarm = alarm_ll AND (alt unknown OR alt <= most_generous_alt)
        (airstrik.py:272-275).
    """
    heading = F.coalesce(F.col("calc_heading"), F.col("nav_heading"))
    can_sim = heading.isNotNull() & F.col("calc_speed").isNotNull()
    geometry = _exact_geometry if exact_geodesic else _spherical_geometry
    return _build_dead_reckoning_steps(cfg, heading, can_sim, geometry)


def dead_reckoning(
    df: DataFrame, cfg: EngineConfig, exact_geodesic: bool = False
) -> DataFrame:
    """build_dead_reckoning applied to `df`."""
    return build_dead_reckoning(cfg, exact_geodesic)(df)


def build_alarm_payload(cfg: EngineConfig) -> Op:
    """D2 — alert/warning event assembly (raise_alarm, airstrik.py:318-368;
    field contract README.md:57-68).  Routing (airstrik.py:238-241, 269-271):
    currently inside a configured geofence -> topic `airstrik-alert`, eta 0;
    else predicted entry within the horizon -> `airstrik-warning` with eta."""
    inside_now = matched_filters(F.col("distance"), F.lit(None), cfg) != ""
    warn = (F.col("alarm_time") > -1) & (F.col("alarm_time") < F.lit(cfg.think_ahead))
    routed = inside_now | warn
    fields = [
        F.col("hex").alias("plane_hex"),
        F.col("flight").alias("plane_id"),
        F.round("ts_sec", 6).alias("plane_time"),
        F.round(F.coalesce(F.col("calc_heading"), F.col("nav_heading")), 6).alias(
            "heading"
        ),
        F.col("calc_speed").alias("speed"),
        # reference stringifies missing altitude as 'unknown' at the sink
        # edge (README.md:63) — keep NULL in-engine, cast at the sink
        F.col("alt_geom").alias("altitude"),
        F.round("lat", 6).alias("latitude"),
        F.round("lon", 6).alias("longitude"),
        F.col("distance"),
        F.when(inside_now, F.lit(0)).otherwise(F.col("alarm_time")).alias("eta"),
        F.when(inside_now, F.lit("airstrik-alert"))
        .otherwise(F.lit("airstrik-warning"))
        .alias("topic"),
    ]

    def apply(df: DataFrame) -> DataFrame:
        return df.filter(routed).select(*fields)

    return apply


def alarm_payload(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """build_alarm_payload applied to `df`."""
    return build_alarm_payload(cfg)(df)
