"""Sessionization core — SURVEY.md §2.5 W5, §2.2 F3, §2.4 A2/A3/A4, §2.3 J1/J2.

The reference's "trip" is a maximal run of packets per aircraft with
inter-packet gap <= `remember`; closure emits one assembled trip document
(airstrik.py:473-627).  Batch form: gap-detect via lag + running sum — ONE
shuffle on the key, shared by every downstream aggregate (Catalyst reuses the
hash partitioning).  Streaming form: F.session_window (streaming/pipeline.py).

At 100 TB: partitionBy(hex) is the natural key distribution (millions of
aircraft × small per-key history); no skew expected on ICAO24 keys, AQE
handles stragglers.  Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators.kinematics import key_window, with_distance_home
from airstrik_py_spark.sources.tables import icao_dim


def with_session_id(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W5 — assign a per-key session id: new session when the gap to the
    previous observation exceeds `remember` (airstrik.py:482, 551)."""
    w = key_window()
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    is_new = F.when(gap.isNull() | (gap > F.lit(cfg.remember_s)), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def _first_nonnull(value):
    """Earliest non-null `value` by (ts_sec, event_id): min over a struct
    whose leading fields are the ordering — NULL rows drop out of min."""
    return F.min(
        F.when(
            value.isNotNull(),
            F.struct(
                F.col("ts_sec").alias("t"), F.col("event_id").alias("e"), value.alias("v")
            ),
        )
    ).getField("v")


def _asof_struct_before(value, cutoff_sec):
    """J2 as-of: the OLDEST non-null `value` with ts_sec <= cutoff.

    The reference's closure scan (airstrik.py:505-508) iterates each history
    newest-to-oldest with NO break, so every matching entry overwrites and the
    last assignment — the OLDEST entry <= closest_time — wins.  Histories only
    ever hold observed (non-null) readings appended in time order
    (airstrik.py:211-221, 574-577), so "oldest entry <= cutoff" is a min-struct
    over non-null values with ts_sec <= cutoff.  Returns the full (t, e, v)
    struct: the reference writes the entry's own timestamp alongside the value
    (`write.update({item: kval})`), so sinks need `.t` too."""
    cond = value.isNotNull() & (F.col("ts_sec") <= cutoff_sec)
    return F.min(
        F.when(
            cond,
            F.struct(
                F.col("ts_sec").alias("t"), F.col("event_id").alias("e"), value.alias("v")
            ),
        )
    )


def _alarmed_row(cfg: EngineConfig):
    """Per-row `alarm_triggered` predicate (airstrik.py:272-277), evaluated
    against the running per-session state the reference's tracker would hold
    at that packet:

      * the dead-reckoning sim must be ABLE to run: >= 2 distinct
        (consecutive-deduped) lat fixes AND lon fixes so far
        (airstrik.py:579-581 gates calculate_heading_speed_alarm on history
        length >= 2);
      * STRICT `distance_history[-1][0] < most_generous_dist`
        (airstrik.py:276) on the running last non-null distance — strict-<
        on the current distance also implies the sim's second-0 step is
        in-zone (the t=0 destination IS the current position), so alarm_ll
        holds whenever this does;
      * `alt_geom_history[-1][0] <= most_generous_alt` on the running last
        non-null altitude, vacuously true while no altitude has been seen
        (airstrik.py:272-275).

    Returns the per-row flag that trip_aggs folds into the sticky
    `alarmed`.  The window sort shares the hex hash-exchange already
    present from sessionization: no extra shuffle."""
    sw = Window.partitionBy("hex", "session_id").orderBy("ts_sec", "event_id")
    run = sw.rowsBetween(Window.unboundedPreceding, 0)
    before = sw.rowsBetween(Window.unboundedPreceding, -1)
    dist_run = F.last("distance", ignorenulls=True).over(run)
    alt_run = F.last("alt_geom", ignorenulls=True).over(run)

    def n_fixes(col_name: str):
        prev = F.last(col_name, ignorenulls=True).over(before)
        is_new = F.col(col_name).isNotNull() & (prev.isNull() | (F.col(col_name) != prev))
        return F.sum(is_new.cast("int")).over(run)

    can_sim = (n_fixes("lat") >= 2) & (n_fixes("lon") >= 2)
    return (
        can_sim
        & (dist_run < F.lit(cfg.most_generous_dist_km))
        & (alt_run.isNull() | (alt_run <= F.lit(cfg.most_generous_alt_m)))
    )


def _clean_flight():
    # the reference strips every space from the callsign (airstrik.py:570-573)
    return F.regexp_replace("flight", " ", "")


def _closest():
    """A2 argmin: the (distance, ts_sec, event_id) minimum — first-wins
    ties (airstrik.py:492-497)."""
    return F.min(
        F.struct(
            F.col("distance").alias("d"),
            F.col("ts_sec").alias("t"),
            F.col("event_id").alias("e"),
        )
    )


def trip_aggs(row_flag) -> list:
    """The A2/A3/A4 trip fold every trip query shares (airstrik.py:498-543):
    bounds, n_obs, first whitespace-stripped callsign, argmin-closest
    (first-wins ties) and the sticky alarm flag, max over the per-row
    `row_flag` (NULL counts as not alarmed)."""
    closest = _closest()
    return [
        F.min("ts_sec").alias("start_sec"),
        F.max("ts_sec").alias("end_sec"),
        F.count("*").alias("n_obs"),
        _first_nonnull(_clean_flight()).alias("callsign"),
        closest.getField("d").alias("closest_dist"),
        closest.getField("t").alias("closest_sec"),
        F.max(F.coalesce(row_flag, F.lit(False))).alias("alarmed"),
    ]


def trips(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """A3 + J2 in ONE shuffle: fold each session into one trip row
    (trip_aggs over the batch sticky flag _alarmed_row) plus the as-of
    state at the closest approach.  `df` needs `distance` (W4) and
    `session_id` (W5).  A session-scoped window computes the
    closest-approach cutoff per row, then a single groupBy folds the trip
    AND the as-of state conditioned on that cutoff.  As-of is OLDEST-wins
    (see _asof_struct_before — reference quirk airstrik.py:505-508),
    emitted as asof_{lat,lon,alt,flight,dist} value columns plus
    asof_*_sec entry timestamps for the document sinks.  Callers that
    project only the fold columns pay for neither: Catalyst prunes the
    unused as-of aggregates and the cutoff window.

    Scale note: the hex hash-exchange introduced by with_session_id's window
    satisfies the (hex, session_id) window and groupBy distributions too
    (partitioning on a subset of the clustering keys), so Catalyst inserts
    no further exchange — verified via .explain: one Exchange for the whole
    sessionize->argmin->asof->fold chain."""
    session_w = Window.partitionBy("hex", "session_id")
    closest_here = _closest().over(session_w)
    with_cutoff = df.withColumn("closest_sec", closest_here.getField("t")).withColumn(
        "_alarmed_row", _alarmed_row(cfg)
    )

    cutoff = F.col("closest_sec")
    asof_cols = {
        "lat": _asof_struct_before(F.col("lat"), cutoff),
        "lon": _asof_struct_before(F.col("lon"), cutoff),
        "alt": _asof_struct_before(F.col("alt_geom"), cutoff),
        # the reference stores the whitespace-stripped callsign in
        # flight_name_id (airstrik.py:570-573) — the as-of scan sees the
        # cleaned value
        "flight": _asof_struct_before(_clean_flight(), cutoff),
        # the closure re-match (airstrik.py:524-535) uses write['distance'],
        # i.e. the as-of distance, NOT closest_dist
        "dist": _asof_struct_before(F.col("distance"), cutoff),
    }
    # Legacy `commentary` pass-through (r6, VERDICT r4 #8): legacy stores
    # carry it (dbread.py:48 prints it per trip; csvdump.py:89 skips it on
    # export), and the earliest non-null value rides the same fold as the
    # callsign; absent column, absent output.
    extra = (
        [_first_nonnull(F.col("commentary")).alias("commentary")]
        if "commentary" in df.columns
        else []
    )
    agged = with_cutoff.groupBy(F.col("hex").alias("flight_id"), "session_id").agg(
        *trip_aggs(F.col("_alarmed_row")),
        *extra,
        *[s.alias(f"_asof_{k}") for k, s in asof_cols.items()],
    )
    for k in asof_cols:
        agged = agged.withColumn(f"asof_{k}", F.col(f"_asof_{k}.v")).withColumn(
            f"asof_{k}_sec", F.col(f"_asof_{k}.t")
        )
    return agged.drop(*[f"_asof_{k}" for k in asof_cols])


def filter_min_trip_length(trips_df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """F3 — drop sessions observed for less than min_trip_length seconds
    (airstrik.py:487-490)."""
    return trips_df.filter(
        (F.col("end_sec") - F.col("start_sec")) >= F.lit(cfg.min_trip_length_s)
    )


def enrich_icao(
    trips_df: DataFrame, spark, sf_dir: str, name_col: str = "callsign"
) -> DataFrame:
    """J1 — broadcast left join against the static icao dim; predicted names
    get the ' (p)' suffix (airstrik.py:510-519).  The closure path passes
    name_col='asof_flight': the icao fallback fires only when no flight entry
    predates the closest approach (dw=False, airstrik.py:509-521)."""
    dim = icao_dim(spark, sf_dir)
    keyed = trips_df.withColumn(
        "icao_key", (F.col("flight_id").cast("int") % 25)
    )
    return (
        keyed.join(F.broadcast(dim), "icao_key", "left")
        .withColumn(
            "trip_name",
            F.coalesce(F.col(name_col), F.concat(F.col("icao_name"), F.lit(" (p)"))),
        )
        .drop("icao_key", "icao_name")
    )


def trips_from_obs(obs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Observations -> the closed trips the reference persists: W4 distance,
    W5 sessions, the trip fold, then the F3 min-length gate."""
    sess = with_session_id(with_distance_home(obs, cfg), cfg)
    return filter_min_trip_length(trips(sess, cfg), cfg)
