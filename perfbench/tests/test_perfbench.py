"""Tests of the benchmark's own logic (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import tape  # noqa: E402


def _tape_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_tape(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    n_a = tape.write_replay(str(a), 7, 40)
    n_b = tape.write_replay(str(b), 7, 40)
    tape.write_replay(str(c), 8, 40)
    assert n_a == n_b > 40
    assert _tape_bytes(str(a)) == _tape_bytes(str(b))
    assert _tape_bytes(str(a)) != _tape_bytes(str(c))


def test_same_seed_gives_identical_tables(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    import tables

    tables.write_tables(str(tmp_path / "a"), 3)
    tables.write_tables(str(tmp_path / "b"), 3)
    tables.write_tables(str(tmp_path / "c"), 4)
    for name in ("events", "documents", "lineitem"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


def test_every_snapshot_has_the_loiterer_inside_the_fence():
    legs = tape.plan_legs(5, 30)
    for k in range(30):
        ac = tape.snapshot_aircraft(5, legs, k)
        assert ac[0]["hex"] == tape.loiterer_hex(5)
        assert ac[0]["alt_geom"] <= 1000.0  # the tooclose fence: 5 km, 1000 m
        dy = (ac[0]["lat"] - tape.HOME_LAT) * tape.KM_PER_DEG
        dx = (ac[0]["lon"] - tape.HOME_LON) * tape.KM_PER_DEG * math.cos(math.radians(tape.HOME_LAT))
        assert math.hypot(dx, dy) < 4.0


def test_latency_counts_queue_wait_of_folded_snapshots():
    landings = [10.0, 12.0, 14.0, 16.0]
    # snapshot 10 answered alone; 12 and 14 folded into one batch whose
    # payload carries plane_time 14; 16 never answered
    arrivals = [(11.5, 10.0), (15.25, 14.0), (15.25, 14.0)]
    assert run.snapshot_latencies(landings, arrivals) == [1.5, 3.25, 1.25, None]


def test_latency_takes_the_first_arrival_not_the_first_listed():
    assert run.snapshot_latencies([5.0], [(9.0, 7.0), (6.0, 5.0)]) == [1.0]


def test_median_of_latencies_with_a_folded_batch():
    landings = [0.0, 2.0, 4.0, 6.0, 8.0]
    # 2.0 folds into 4.0's batch, which answers at 5.5
    arrivals = [(1.25, 0.0), (5.5, 4.0), (7.0, 6.0), (9.5, 8.0)]
    lat = run.snapshot_latencies(landings, arrivals)
    assert lat == [1.25, 3.5, 1.5, 1.0, 1.5]
    assert statistics.median(lat) == 1.5


def _sessions_from_files(root: str, remember: float) -> list:
    """Independent ground truth: read the landed files back, split each
    hex's fixes on gaps longer than ``remember``, keep sessions whose last
    fix is more than 3 x remember before the last snapshot."""
    fixes: dict[str, list[float]] = {}
    last_now = 0.0
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name)) as f:
            snap = json.loads(f.read())
        last_now = max(last_now, snap["now"])
        for ac in snap["aircraft"]:
            fixes.setdefault(ac["hex"], []).append(snap["now"])
    out = []
    for hexcode, ts in fixes.items():
        start = prev = ts[0]
        n = 0
        for t in ts + [float("inf")]:
            if t - prev > remember:
                if prev < last_now - 3 * remember:
                    out.append((hexcode, start, prev, n))
                start, n = t, 0
            n += 1
            prev = t
    return sorted(out)


def test_closed_sessions_match_the_landed_tape(tmp_path):
    n_snaps = 400
    tape.write_replay(str(tmp_path), 11, n_snaps)
    want = _sessions_from_files(str(tmp_path), tape.REMEMBER_S)
    got = tape.closed_sessions(11, n_snaps)
    assert got == want
    assert len(got) > 50


def test_alert_check_accepts_matching_and_folded_batches():
    loiter = "abcdef"
    expected = [[loiter, 10.0, 3.1], ["x1", 10.0, 4.0], [loiter, 12.0, 3.2], [loiter, 14.0, 3.3]]
    # 10 answered alone; 12 folded into 14's batch (only 14 printed)
    arrived = [
        (11.0, "airstrik-alert", {"plane_hex": loiter, "plane_time": 10.0, "distance": 3.1}),
        (11.0, "airstrik-alert", {"plane_hex": "x1", "plane_time": 10.0, "distance": 4.0}),
        (15.0, "airstrik-alert", {"plane_hex": loiter, "plane_time": 14.0, "distance": 3.3}),
    ]
    assert run._alert_mismatches(arrived, [10.0, 12.0, 14.0], expected, loiter) == set()


def test_alert_check_flags_missing_and_wrong_alerts():
    loiter = "abcdef"
    expected = [[loiter, 10.0, 3.1], ["x1", 10.0, 4.0], [loiter, 12.0, 3.2]]
    arrived = [
        # x1 missing from a batch the loiterer closed
        (11.0, "airstrik-alert", {"plane_hex": loiter, "plane_time": 10.0, "distance": 3.1}),
        # wrong distance
        (13.0, "airstrik-alert", {"plane_hex": loiter, "plane_time": 12.0, "distance": 9.9}),
    ]
    assert run._alert_mismatches(arrived, [10.0, 12.0], expected, loiter) == {0, 1}


def test_metric_total_parses_status_store_text():
    tracing = pytest.importorskip("tracing")
    assert tracing.metric_total("12") == 12.0
    assert tracing.metric_total("total (min, med, max)\n64.0 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB)") == 64 * 2**20
    assert tracing.metric_total("total (min, med, max)\n3.3 s (0 ms, 1.1 s, 2.2 s)") == 3.3
    assert tracing.metric_total("1,024 ms") == pytest.approx(1.024)


def test_benchmark_json_lists_every_layer_the_trace_reports():
    import catalog

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(catalog.MOVES)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS) == set(catalog.WORKLOADS)
