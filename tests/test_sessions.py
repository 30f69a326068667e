"""W5/F3/A2/A4/J2 sessionization tests (FIXTURES.md A1: gap-separated runs,
short trips dropped, argmin first-wins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from tests.conftest import obs_rows

CFG = EngineConfig(remember_s=60.0, min_trip_length_s=90.0)
BASE = 1700000000.0


def _sessioned(spark, rows):
    df = obs_rows(spark, rows)
    return S.with_session_id(K.with_distance_home(df, CFG), CFG)


def test_session_split_on_gap(spark):
    rows = [
        ("a", BASE + 0, "X", 35.7, -78.7, 0.0, 500.0, 1),
        ("a", BASE + 50, "X", 35.8, -78.7, 0.0, 500.0, 1),
        ("a", BASE + 200, "X", 35.9, -78.7, 0.0, 500.0, 1),  # gap 150 > 60
        ("a", BASE + 240, "X", 36.0, -78.7, 0.0, 500.0, 1),
    ]
    trips = S.trips(_sessioned(spark, rows), CFG).orderBy("session_id").collect()
    assert len(trips) == 2
    assert trips[0]["n_obs"] == 2 and trips[1]["n_obs"] == 2
    assert trips[0]["end_sec"] == BASE + 50
    assert trips[1]["start_sec"] == BASE + 200


def test_exact_gap_does_not_split(spark):
    rows = [
        ("a", BASE + 0, None, 35.7, -78.7, 0.0, 500.0, 1),
        ("a", BASE + 60, None, 35.8, -78.7, 0.0, 500.0, 1),  # gap == remember
    ]
    trips = S.trips(_sessioned(spark, rows), CFG).collect()
    assert len(trips) == 1  # close requires gap STRICTLY > remember


def test_min_trip_length_gate(spark):
    rows = [
        ("short", BASE + 0, None, 35.7, -78.7, 0.0, 500.0, 1),
        ("short", BASE + 50, None, 35.8, -78.7, 0.0, 500.0, 1),  # 50 s < 90 s
        ("long", BASE + 0, None, 35.7, -78.7, 0.0, 500.0, 1),
        ("long", BASE + 95, None, 35.8, -78.7, 0.0, 500.0, 1),
    ]
    # use a no-gap config so both planes have one session each
    cfg = EngineConfig(remember_s=1000.0, min_trip_length_s=90.0)
    df = obs_rows(spark, rows)
    sess = S.with_session_id(K.with_distance_home(df, cfg), cfg)
    kept = S.filter_min_trip_length(S.trips(sess, cfg), cfg).collect()
    assert [r["flight_id"] for r in kept] == ["long"]


def test_argmin_closest_first_wins_tie(spark):
    # two fixes at the identical distance: the EARLIER ts must win
    rows = [
        ("a", BASE + 0, None, 35.8, -78.696, 0.0, 500.0, 1),
        ("a", BASE + 10, None, 35.727, -78.696, 0.0, 500.0, 1),  # dist 0
        ("a", BASE + 20, None, 35.727, -78.696, 0.0, 500.0, 1),  # dist 0 again
    ]
    t = S.trips(_sessioned(spark, rows), CFG).first()
    assert t["closest_dist"] == 0.0
    assert t["closest_sec"] == BASE + 10  # strict-< first-wins (airstrik.py:495)


def test_first_callsign_stripped(spark):
    rows = [
        ("a", BASE + 0, None, 35.7, -78.7, 0.0, 500.0, 1),
        ("a", BASE + 10, "DAL 88", 35.8, -78.7, 0.0, 500.0, 1),
        ("a", BASE + 20, "OTHER", 35.9, -78.7, 0.0, 500.0, 1),
    ]
    t = S.trips(_sessioned(spark, rows), CFG).first()
    assert t["callsign"] == "DAL88"  # first non-null, whitespace stripped


def test_asof_state_at_closest(spark):
    """The reference's closure scan (airstrik.py:505-508) walks each history
    newest-to-oldest with NO break, so the OLDEST entry <= closest_time is
    the one written — not the latest."""
    rows = [
        ("a", BASE + 0, "EARLY", 35.9, -78.696, 0.0, 800.0, 1),
        ("a", BASE + 10, None, 35.727, -78.696, 0.0, 600.0, 1),  # closest here
        ("a", BASE + 20, "LATE", 36.0, -78.696, 0.0, 400.0, 1),
    ]
    t = S.trips(_sessioned(spark, rows), CFG).first()
    assert t["asof_alt"] == 800.0  # OLDEST entry at/before closest wins
    assert t["asof_alt_sec"] == BASE + 0
    assert t["asof_flight"] == "EARLY"  # oldest non-null at/before closest


def test_asof_excludes_entries_after_closest(spark):
    """An attribute first observed AFTER the closest approach has no entry
    <= closest_time -> NULL (the reference's dw=False path,
    airstrik.py:509-521)."""
    rows = [
        ("a", BASE + 0, None, 35.9, -78.696, 0.0, None, 1),
        ("a", BASE + 10, None, 35.727, -78.696, 0.0, None, 1),  # closest here
        ("a", BASE + 20, "LATE", 36.0, -78.696, 0.0, 400.0, 1),
    ]
    t = S.trips(_sessioned(spark, rows), CFG).first()
    assert t["asof_alt"] is None
    assert t["asof_flight"] is None
    # distance exists from the first fix -> as-of distance is the FIRST one
    first_dist = K.with_distance_home(
        obs_rows(spark, rows[:1]), CFG
    ).first()["distance"]
    assert t["asof_dist"] == first_dist


def test_alarmed_requires_two_fixes(spark):
    """alarm_triggered needs the dead-reckoning sim to have run: a single
    in-zone fix never alarms (airstrik.py:579-581 gates the whole alarm path
    on >= 2 lat/lon history entries)."""
    rows = [("a", BASE + 0, None, 35.727, -78.696, 0.0, 500.0, 1)]
    t = S.trips(_sessioned(spark, rows), CFG).first()
    assert t["alarmed"] is False
    # a second fix with the SAME lon doesn't arm it either: the reference
    # appends to lon_history only on change, and gates on BOTH histories
    # having >= 2 entries (airstrik.py:574-581)
    same_lon = rows + [("a", BASE + 10, None, 35.728, -78.696, 0.0, 500.0, 1)]
    t1 = S.trips(_sessioned(spark, same_lon), CFG).first()
    assert t1["alarmed"] is False
    # a second fully-distinct in-zone fix arms it
    rows2 = rows + [("a", BASE + 10, None, 35.728, -78.697, 0.0, 500.0, 1)]
    t2 = S.trips(_sessioned(spark, rows2), CFG).first()
    assert t2["alarmed"] is True


def test_alarmed_strict_distance_and_alt_gate(spark):
    """Strict < on the running distance (airstrik.py:276) and the altitude
    ceiling on the running last altitude (airstrik.py:272-275)."""
    # exactly at the zone boundary (10 km): 35.727 + 10/111.19...  use a row
    # whose rounded distance is exactly the boundary via alt gate instead:
    # in-zone fixes but altitude above the ceiling -> no alarm
    high = [
        ("a", BASE + 0, None, 35.727, -78.696, 0.0, 5000.0, 1),
        ("a", BASE + 10, None, 35.728, -78.697, 0.0, 5000.0, 1),
    ]
    t = S.trips(_sessioned(spark, high), CFG).first()
    assert t["alarmed"] is False
    # altitude unknown throughout -> vacuously passes the ceiling
    unk = [
        ("a", BASE + 0, None, 35.727, -78.696, 0.0, None, 1),
        ("a", BASE + 10, None, 35.728, -78.697, 0.0, None, 1),
    ]
    t2 = S.trips(_sessioned(spark, unk), CFG).first()
    assert t2["alarmed"] is True


def test_fold_columns_prune_the_asof_state(spark):
    """Callers that read only the fold columns of S.trips pay nothing for
    the as-of state: Catalyst prunes the _asof_* aggregates and the
    session-wide closest-approach window (the only window framed
    unboundedpreceding..unboundedfollowing)."""
    rows = [
        ("a", BASE + 0, "X", 35.9, -78.696, 0.0, 800.0, 1),
        ("a", BASE + 10, None, 35.727, -78.696, 0.0, 600.0, 1),
    ]
    full = S.trips(_sessioned(spark, rows), CFG)
    plain = full.select(
        "flight_id", "session_id", "start_sec", "end_sec", "n_obs",
        "callsign", "closest_dist", "closest_sec", "alarmed",
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "_asof_" in optimized(full)
    assert "unboundedfollowing" in optimized(full)
    assert "_asof_" not in optimized(plain)
    assert "unboundedfollowing" not in optimized(plain)
