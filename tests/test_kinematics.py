"""W1-W4/W8 operator tests on crafted fixtures (FIXTURES.md A1 requirements:
consecutive dups, <2-fix keys, per-key monotone ts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airstrik_py_spark.config import REFERENCE
from airstrik_py_spark.operators import kinematics as K
from tests.conftest import obs_rows

BASE = 1700000000.0


def _fixture(spark):
    rows = [
        # plane A: 4 fixes, 2nd is an exact consecutive duplicate position
        ("a", BASE + 0, "AAL1", 35.70, -78.70, 90.0, 500.0, 1),
        ("a", BASE + 10, "AAL1", 35.70, -78.70, 90.0, 500.0, 1),  # dup (lat,lon)
        ("a", BASE + 20, None, 35.80, -78.70, 90.0, 600.0, 1),
        ("a", BASE + 30, None, 35.90, -78.70, 90.0, 700.0, 1),
        # plane B: single fix -> no kinematics
        ("b", BASE + 5, "UAL2", 36.00, -78.00, 180.0, 900.0, 2),
    ]
    return obs_rows(spark, rows)


def test_dedup_consecutive_drops_repeat(spark):
    out = K.dedup_consecutive(_fixture(spark))
    a_rows = out.filter("hex = 'a'").count()
    assert a_rows == 3  # duplicate 2nd fix suppressed (airstrik.py:576-577)
    assert out.filter("hex = 'b'").count() == 1


def test_dedup_idempotent(spark):
    once = K.dedup_consecutive(_fixture(spark))
    twice = K.dedup_consecutive(once)
    assert once.count() == twice.count()  # W1 ∘ W1 = W1 (SURVEY §5.4)


def test_calc_heading_due_north(spark):
    out = K.with_calc_heading(K.dedup_consecutive(_fixture(spark)))
    rows = {r["ts_sec"]: r["calc_heading"] for r in out.filter("hex = 'a'").collect()}
    assert rows[BASE] is None  # first fix has no previous point
    assert abs(rows[BASE + 20] - 0.0) < 1e-6  # moving due north


def test_calc_speed_lookback(spark):
    out = K.with_calc_speed(K.dedup_consecutive(_fixture(spark)), REFERENCE)
    rows = {r["ts_sec"]: r["calc_speed"] for r in out.filter("hex = 'a'").collect()}
    assert rows[BASE] is None  # dt = 0 at the first fix
    # 0.2 deg lat in 30 s ~= 22.24 km -> ~2668 km/h
    assert abs(rows[BASE + 30] - 22.239 * 1000 / 30 * 3.6 / 1000.0 * 1000.0) < 5
    b = out.filter("hex = 'b'").first()
    assert b["calc_speed"] is None  # single fix


def test_distance_home_rounding(spark):
    out = K.with_distance_home(_fixture(spark), REFERENCE)
    d = out.filter("hex = 'b'").first()["distance"]
    assert d == round(d, 4)  # airstrik.py:438 rounds to 4 dp
    assert 0 < d < 200


def test_latest_per_key(spark):
    out = K.latest_per_key(_fixture(spark), ["lat", "flight"])
    got = {r["hex"]: (r["lat"], r["flight"]) for r in out.collect()}
    assert got["a"] == (35.90, None)  # value AT latest ts, not last non-null
    assert got["b"] == (36.00, "UAL2")
