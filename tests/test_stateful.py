"""Keyed-state streaming tracker: streaming run equals the batch window
formulation (dedup + decimation counter), sticky flag latches."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators.kinematics import with_distance_home
from airstrik_py_spark.sources.snapshot import read_snapshot_stream
from airstrik_py_spark.streaming.stateful import make_tracker, tracked_stream

CFG = EngineConfig(decimation_factor=2, remember_s=60.0)
BASE = 1700000000.0


def _tape(tmpdir: str, alt: dict) -> None:
    """Plane 'a': 5 snapshots, the 2nd is a duplicate position, the 4th is
    inside the 10 km geofence.  `alt` is merged into every aircraft."""
    positions = [
        (35.90, -78.70),
        (35.90, -78.70),  # duplicate -> suppressed
        (35.85, -78.70),
        (35.73, -78.696),  # ~0.3 km from home -> sticky alarm
        (35.95, -78.70),
    ]
    for i, (lat, lon) in enumerate(positions):
        snap = {
            "now": BASE + 10 * i,
            "aircraft": [
                {"hex": "a", "lat": lat, "lon": lon, "seen": 0.1, **alt}
            ],
        }
        with open(os.path.join(tmpdir, f"s{i:03d}.json"), "w") as f:
            json.dump(snap, f)


# no alt_geom at all: the sticky flag's missing-altitude branch
# (last_alt is None passes the ceiling)
@pytest.mark.parametrize(
    "alt, name",
    [({"alt_geom": 500.0}, "tracked"), ({}, "tracked_no_alt")],
    ids=["alt_500m", "no_alt"],
)
def test_stateful_tracker_stream(spark, tmp_path, alt, name):
    tape = str(tmp_path / "tape")
    os.makedirs(tape)
    _tape(tape, alt)

    stream = with_distance_home(read_snapshot_stream(spark, tape), CFG)
    q = (
        tracked_stream(stream, CFG, live=False)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = sorted(spark.table(name).collect(), key=lambda r: r["ts_sec"])

    # duplicate suppressed: 4 of 5 updates survive
    assert len(rows) == 4
    assert [r["update_seq"] for r in rows] == [1, 2, 3, 4]
    # reference write phase with force_new (airstrik.py:584-626): the first
    # eligible fix (#2) only baselines last_written, the first WRITE is fix
    # #3, then every n=2 fixes -> counts 3, 5, ...
    assert [r["emit"] for r in rows] == [False, False, True, False]
    # sticky flag latches at the close approach and stays on
    assert [r["alarm_triggered"] for r in rows] == [False, False, True, True]


def _run_tape(spark, tmp_path, snaps, name):
    tape = str(tmp_path / name)
    os.makedirs(tape)
    for i, snap in enumerate(snaps):
        with open(os.path.join(tape, f"s{i:03d}.json"), "w") as f:
            json.dump(snap, f)
    stream = with_distance_home(read_snapshot_stream(spark, tape), CFG)
    q = (
        tracked_stream(stream, CFG, live=False)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return sorted(spark.table(name).collect(), key=lambda r: r["ts_sec"])


def test_sim_gate_needs_both_axes(spark, tmp_path):
    """Only lat ever changes (lon frozen): the reference's lon_history stays
    at 1 entry, the sim never runs, and alarm_triggered must stay False even
    inside the zone (airstrik.py:578-579 min(len(lat),len(lon)) >= 2)."""
    snaps = [
        {"now": BASE + 10 * i,
         "aircraft": [{"hex": "a", "lat": 35.70 + 0.01 * i, "lon": -78.696,
                       "alt_geom": 500.0, "seen": 0.1}]}
        for i in range(4)
    ]
    rows = _run_tape(spark, tmp_path, snaps, "gate_axes")
    assert rows  # in-zone fixes exist
    assert all(not r["alarm_triggered"] for r in rows)


def test_suppressed_packet_still_evaluates_alarm(spark, tmp_path):
    """An unchanged-position packet that lowers the altitude under the
    ceiling must set the sticky flag (the reference evaluates the alarm on
    every packet, airstrik.py:578-580), visible on the next emitted row."""
    inzone = {"hex": "a", "lat": 35.73, "lon": -78.70, "seen": 0.1}
    snaps = [
        {"now": BASE + 0,
         "aircraft": [{**inzone, "lat": 35.90, "lon": -78.60, "alt_geom": 500.0}]},
        {"now": BASE + 10, "aircraft": [{**inzone, "alt_geom": 5000.0}]},  # in zone, too high
        {"now": BASE + 20, "aircraft": [{**inzone, "alt_geom": 500.0}]},  # dup pos, alt now ok
        {"now": BASE + 30, "aircraft": [{**inzone, "lat": 35.95, "alt_geom": 500.0}]},
    ]
    rows = _run_tape(spark, tmp_path, snaps, "suppressed_alarm")
    assert [r["alarm_triggered"] for r in rows] == [False, False, True]


class _FreshState:
    """The GroupState surface `make_tracker` touches, for a key with no
    prior state."""

    hasTimedOut = False
    exists = False

    def update(self, value):
        self.value = value


def test_tracker_orders_fixes_across_chunks():
    """applyInPandasWithState can hand one key's rows over in several
    pandas chunks, in shuffle order: the counter must follow event time
    across chunks, not within each chunk."""
    fixes = pd.DataFrame(
        {
            "hex": "a",
            "ts_sec": [BASE + 10 * i for i in range(4)],
            "lat": [35.90, 35.85, 35.80, 35.75],
            "lon": -78.70,
            "alt_geom": 500.0,
            "distance": [19.0, 13.6, 8.0, 2.5],
        }
    )
    chunks = iter([fixes.iloc[2:], fixes.iloc[:2]])  # later fixes first
    out = pd.concat(make_tracker(CFG, live=False)(("a",), chunks, _FreshState()))
    assert out.sort_values("ts_sec")["update_seq"].tolist() == [1, 2, 3, 4]
