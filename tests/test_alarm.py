"""D1/D2/F2 alarm tests: approach -> warning with eta, inside -> alert eta 0,
retreat -> no alarm; eta <= think_ahead property (SURVEY §5.4)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from airstrik_py_spark.config import REFERENCE
from airstrik_py_spark.operators import alarm as AL
from tests.conftest import obs_rows

BASE = 1700000000.0
CFG = REFERENCE  # home 35.727,-78.696; zone 10 km; think_ahead 60 s


def _state(spark, rows):
    return AL.latest_fix(obs_rows(spark, rows), CFG)


def test_approaching_plane_warns_with_eta(spark):
    # ~13 km due south of home, moving north at ~1070 km/h -> enters the
    # 10 km zone ~11 s into the simulated minute
    rows = [
        ("a", BASE + 0, None, 35.727 - 0.20, -78.696, None, 500.0, 1),
        ("a", BASE + 30, None, 35.727 - 0.12, -78.696, None, 500.0, 1),
    ]
    out = AL.dead_reckoning(_state(spark, rows), CFG).first()
    assert out["can_sim"]
    assert out["alarm"]
    assert 0 < out["alarm_time"] <= CFG.think_ahead
    assert out["min_radius"] < 10.0


def test_retreating_plane_never_alarms(spark):
    rows = [
        ("a", BASE + 0, None, 35.727 + 0.18, -78.696, None, 500.0, 1),
        ("a", BASE + 30, None, 35.727 + 0.20, -78.696, None, 500.0, 1),  # moving away
    ]
    out = AL.dead_reckoning(_state(spark, rows), CFG).first()
    assert not out["alarm"]
    assert out["alarm_time"] == -1
    assert out["min_radius"] == AL.MIN_RADIUS_SENTINEL


def test_no_heading_no_alarm(spark):
    rows = [("a", BASE + 0, None, 35.80, -78.696, None, 500.0, 1)]  # single fix
    out = AL.dead_reckoning(_state(spark, rows), CFG).first()
    assert not out["can_sim"]
    assert not out["alarm"]
    assert out["alarm_time"] == -1
    assert out["min_radius"] == 0.0  # airstrik.py:254 returns 0 sentinel


def test_altitude_gate_blocks_alarm(spark):
    rows = [
        ("a", BASE + 0, None, 35.727 - 0.20, -78.696, None, 5000.0, 1),
        ("a", BASE + 30, None, 35.727 - 0.12, -78.696, None, 5000.0, 1),  # too high
    ]
    out = AL.dead_reckoning(_state(spark, rows), CFG).first()
    assert out["alarm_ll"]  # trajectory does enter
    assert not out["alarm"]  # but altitude 5000 > 1000 (airstrik.py:272-275)


def test_payload_routing_alert_vs_warning(spark):
    rows = [
        # inside the zone now -> alert, eta 0
        ("in", BASE + 0, "X1", 35.727, -78.696, None, 500.0, 1),
        ("in", BASE + 30, "X1", 35.73, -78.696, None, 500.0, 1),
        # approaching -> warning with positive eta
        ("nr", BASE + 0, "X2", 35.727 - 0.20, -78.696, None, 500.0, 1),
        ("nr", BASE + 30, "X2", 35.727 - 0.12, -78.696, None, 500.0, 1),
    ]
    state = AL.dead_reckoning(_state(spark, rows), CFG)
    pay = {r["plane_hex"]: r for r in AL.alarm_payload(state, CFG).collect()}
    assert pay["in"]["topic"] == "airstrik-alert" and pay["in"]["eta"] == 0
    assert pay["nr"]["topic"] == "airstrik-warning" and pay["nr"]["eta"] > 0


def test_matched_filters_expression(spark):
    df = spark.createDataFrame(
        [(4.0, 500.0), (8.0, 500.0), (8.0, 2000.0), (50.0, 500.0), (4.0, None)],
        "dist double, alt double",
    )
    out = df.select(
        AL.matched_filters(F.col("dist"), F.col("alt"), CFG).alias("m")
    ).collect()
    assert [r["m"] for r in out] == [
        "close,tooclose",  # within both
        "close",  # within 10 only
        "",  # altitude blocks both
        "",  # too far
        "close,tooclose",  # unknown altitude passes (airstrik.py:421)
    ]


def test_lon_90_break_replicates_reference_bug(spark):
    """airstrik.py:255 clamps LONGITUDE to ±90 (a reference bug we keep,
    SURVEY §7): a plane west of lon -89 heading due west breaks the
    simulation once sim_lon < -90, leaving the sentinel min_radius."""
    cfg = REFERENCE
    rows = [
        ("w", BASE + 0, None, 35.0, -89.0, None, 500.0, 1),
        ("w", BASE + 1, None, 35.0, -89.9, None, 500.0, 1),  # ~294,000 km/h west
    ]
    out = AL.dead_reckoning(_state(spark, rows), cfg).first()
    assert out["can_sim"]
    # the break fires before any in-zone step is possible
    assert not out["alarm"]
    assert out["min_radius"] == AL.MIN_RADIUS_SENTINEL


def test_growth_break_keeps_perigee_radius(spark):
    """Once inside the zone and receding (airstrik.py:266-268), the loop
    breaks: min_radius is the perigee, not affected by later steps, and
    alarm_time is the zone-entry second."""
    cfg = REFERENCE
    # ~13 km south, fast due north: enters zone, passes home, then recedes
    rows = [
        ("p", BASE + 0, None, 35.727 - 0.20, -78.696, None, 500.0, 1),
        ("p", BASE + 30, None, 35.727 - 0.12, -78.696, None, 500.0, 1),
    ]
    out = AL.dead_reckoning(_state(spark, rows), cfg).first()
    assert out["alarm"]
    assert 0 < out["alarm_time"] < cfg.think_ahead
    # perigee must be well inside the zone and non-negative
    assert 0.0 <= out["min_radius"] < 10.0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize(
    "slug",
    [
        "alarm_dead_reckoning",
        "alarm_dead_reckoning_exact",
        "alarm_event_routing",
        "sink_kafka_alert",
    ],
)
def test_latest_fix_slugs_match_oracle(spark, slug, sf):
    """The slugs built on latest_fix + dead_reckoning, Spark vs their DuckDB
    oracle, compared the way tools/check.py compares them (bit-exact), on
    the fixtures beside the smoke fixture.  sf0.01 is included because at
    sf0.001 no plane raises an alert, so the two routing slugs are empty on
    both sides there."""
    import duckdb

    import __spark_entry__ as entrymod
    from airstrik_py_spark.sources.tables import TABLES
    from tools.check import canon_rows

    sf_dir = str(Path(entrymod.SMOKE_SF_DIR).parent / sf)
    if not Path(sf_dir).exists():
        pytest.skip(f"{sf_dir} absent")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = duck.execute(entrymod.oracle_sql()[slug])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    sdf = entrymod.queries()[slug](spark, sf_dir)
    assert sorted(sdf.columns) == sorted(ocols)
    assert canon_rows(sdf.columns, sdf.collect()) == canon_rows(ocols, orows)
