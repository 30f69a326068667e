"""CLI migration surface: config.yaml loading + run/csvdump subcommand wiring."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from airstrik_py_spark.config import load_config

BASE = 1700000000.0
REPO = Path(__file__).resolve().parents[1]


def test_load_reference_config(tmp_path):
    cfg_text = """
think_ahead:
  60
lat_lon_packet_age_max: 10
home:
  lat: 35.7270309
  lon: -78.695587
decimation_factor: 15
decimation_force_new_data: true
utc_time_offset: -4
remember: 60
json_speed: 2
min_trip_length: 90
print_top_planes: 25
mongo_address: "10.0.0.5:27017"
kafka_address: "broker:9092"
filters:
  close: [10, 1000]
  tooclose: [5, 1000]
"""
    p = tmp_path / "config.yaml"
    p.write_text(cfg_text)
    # the reference's file loads unchanged: its document-store address
    # (config.yaml:15) has no engine field and is ignored, and every other
    # key keeps its value
    from airstrik_py_spark.config import REFERENCE, EngineConfig, Geofence

    cfg = load_config(str(p))
    assert cfg == EngineConfig(
        home_lat=35.7270309,
        home_lon=-78.695587,
        think_ahead=60,
        lookback_rows=10,
        remember_s=60.0,
        min_trip_length_s=90.0,
        decimation_factor=15,
        decimation_force_new_data=True,
        utc_time_offset_h=-4,
        print_top_planes=25,
        json_speed_s=2.0,
        kafka_address="broker:9092",
        dump1090_dir=REFERENCE.dump1090_dir,
        filters=(
            Geofence("close", 10.0, 1000.0),
            Geofence("tooclose", 5.0, 1000.0),
        ),
    )
    assert cfg.most_generous_dist_km == 10.0


def test_reference_profile_uses_full_precision_home():
    """config.yaml:5-6 literals, not the 4-dp fixture rounding (a ~40 m
    origin shift on a real deployment)."""
    from airstrik_py_spark.config import REFERENCE, TESTDATA

    assert (REFERENCE.home_lat, REFERENCE.home_lon) == (35.7270309, -78.695587)
    assert (TESTDATA.home_lat, TESTDATA.home_lon) == (35.727, -78.696)


def test_partial_config_defaults_to_reference(tmp_path):
    """A config.yaml that names one key keeps the reference's value for
    every other one, home included: the same run as without --config,
    not one whose origin sits ~40 m off at the rounded fixture home."""
    import dataclasses

    from airstrik_py_spark.config import REFERENCE

    p = tmp_path / "config.yaml"
    p.write_text("dump1090_dir: /var/run/dump1090\n")
    assert load_config(str(p)) == dataclasses.replace(
        REFERENCE, dump1090_dir="/var/run/dump1090"
    )


def test_trigger_kwargs_from_json_speed():
    """json_speed -> processingTime trigger (config.yaml:12, airstrik.py:86)."""
    from airstrik_py_spark.__main__ import trigger_kwargs
    from airstrik_py_spark.config import EngineConfig

    assert trigger_kwargs(EngineConfig(json_speed_s=2.0), once=False) == {
        "processingTime": "2.0 seconds"
    }
    assert trigger_kwargs(EngineConfig(json_speed_s=0.0), once=False) == {}
    assert trigger_kwargs(EngineConfig(json_speed_s=2.0), once=True) == {
        "availableNow": True
    }


def _one_plane_tape(tape) -> None:
    """Plane `a1` in four snapshots 40 s apart: one 120 s trip."""
    os.makedirs(tape)
    for i in range(4):
        snap = {
            "now": BASE + 40 * i,
            "aircraft": [
                {"hex": "a1", "flight": "X", "lat": 35.8 + 0.01 * i, "lon": -78.7,
                 "alt_geom": 600.0, "seen": 0.1}
            ],
        }
        (tape / f"s{i}.json").write_text(json.dumps(snap))


def test_csvdump_subcommand(tmp_path):
    tape = tmp_path / "tape"
    _one_plane_tape(tape)
    out = tmp_path / "csv"
    res = subprocess.run(
        [sys.executable, "-m", "airstrik_py_spark", "csvdump",
         "--landing-dir", str(tape), "--out", str(out), "--mode", "stats"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files, os.listdir(out)
    header = open(out / files[0]).readline().strip()
    assert header == "day,unique_planes,total_trips,unique_alarm_planes,total_alarm_trips"


def test_dump1090_dir_fallback(tmp_path):
    import argparse

    from airstrik_py_spark.__main__ import _landing
    from airstrik_py_spark.config import load_config

    cfg_file = tmp_path / "c.yaml"
    cfg_file.write_text("dump1090_dir: '/data/landing'\n")
    cfg = load_config(str(cfg_file))
    assert cfg.dump1090_dir == "/data/landing"
    ns = argparse.Namespace(landing_dir=None)
    assert _landing(ns, cfg) == "/data/landing"
    ns2 = argparse.Namespace(landing_dir="/override")
    assert _landing(ns2, cfg) == "/override"


def _alarm_tape(tape) -> None:
    """Plane `aa` dives toward home across two snapshots 30 s apart (a
    warning); plane `bb` lands 10 min later, far away, pushing the
    watermark past `aa`'s session so its trip closes."""
    os.makedirs(tape)
    fixes = [
        (BASE, "aa", 35.727 - 0.20),
        (BASE + 30, "aa", 35.727 - 0.12),
        (BASE + 600, "bb", 36.5),
    ]
    for i, (now, hex_, lat) in enumerate(fixes):
        snap = {
            "now": now,
            "aircraft": [
                {"hex": hex_, "flight": "DAL1", "lat": lat, "lon": -78.696,
                 "alt_geom": 500.0, "seen": 0.1}
            ],
        }
        (tape / f"s{i}.json").write_text(json.dumps(snap))


def test_run_once_prints_warning_and_writes_trips(tmp_path):
    tape = tmp_path / "tape"
    _alarm_tape(tape)
    out = tmp_path / "out"
    res = subprocess.run(
        [sys.executable, "-m", "airstrik_py_spark", "run",
         "--landing-dir", str(tape), "--out", str(out), "--once"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    warnings = [
        line for line in res.stdout.splitlines()
        if line.startswith("[airstrik-warning]")
    ]
    assert warnings, res.stdout
    assert "'plane_hex': 'aa'" in warnings[-1]
    store = out / "airstrikdb"
    assert f"trips written under {store}" in res.stdout
    import pyarrow.parquet as pq

    trips = pq.read_table(str(store)).to_pylist()
    assert [(t["flight_id"], t["n_obs"]) for t in trips] == [("aa", 2)]


def test_live_run_exits_when_trip_query_fails(tmp_path):
    """The trip store cannot be created under a regular file, so the trips
    query fails on its first batch while the alarm query would live on:
    `run` must end with that error instead of waiting on the alarms."""
    tape = tmp_path / "tape"
    _alarm_tape(tape)
    not_a_dir = tmp_path / "out"
    not_a_dir.write_text("")
    res = subprocess.run(
        [sys.executable, "-m", "airstrik_py_spark", "run",
         "--landing-dir", str(tape), "--out", str(not_a_dir)],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode != 0
    assert "trips written under" not in res.stdout


def test_repl_reports_malformed_snapshot(tmp_path):
    """A malformed snapshot is named on stderr (not dropped silently) and
    the well-formed ones still make their trips."""
    tape = tmp_path / "tape"
    _one_plane_tape(tape)
    (tape / "bad.json").write_text('{"now": 1700000200.0, "aircraft": [')
    res = subprocess.run(
        [sys.executable, "-m", "airstrik_py_spark", "repl",
         "--landing-dir", str(tape), "--command", "list"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "1 malformed snapshot(s) quarantined: " in res.stderr
    assert "bad.json" in res.stderr
    assert "a1" in res.stdout


def test_get_spark_defaults_to_available_cpus():
    """Without SPARK_GRAFT_CPUS the session sizes itself to the CPUs this
    process may run on, not to a fixed 32."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "import os\n"
        "from airstrik_py_spark.session import get_spark\n"
        "s = get_spark('cpus')\n"
        "n = len(os.sched_getaffinity(0))\n"
        "assert s.sparkContext.master == f'local[{n}]', s.sparkContext.master\n"
        "assert s.conf.get('spark.sql.shuffle.partitions') == str(n)\n"
        "s.stop()\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]


def test_run_once_lists_on_driver_and_sizes_trip_state(tmp_path):
    """A 40-snapshot backlog (past Spark's default parallel-listing
    threshold of 32 paths) drains with no distributed listing job, the trip
    query keeps its state in one partition, and the caller's session gets
    its shuffle-partition count back."""
    tape = tmp_path / "tape"
    os.makedirs(tape)
    for i in range(40):
        snap = {
            "now": BASE + 20 * i,
            "aircraft": [
                {"hex": f"p{j}", "lat": 35.8 + 0.01 * i, "lon": -78.7 + 0.1 * j,
                 "alt_geom": 900.0, "seen": 0.1}
                for j in range(3)
            ],
        }
        (tape / f"s{i:03d}.json").write_text(json.dumps(snap))
    code = f"""
import argparse, json, threading, time
from pyspark.sql.streaming import StreamingQueryListener
import airstrik_py_spark.__main__ as cli

class Listener(StreamingQueryListener):
    def __init__(self):
        self.progress, self.started, self.ended = [], set(), set()
        self.lock = threading.Lock()
    def onQueryStarted(self, e):
        with self.lock: self.started.add(str(e.id))
    def onQueryProgress(self, e):
        with self.lock: self.progress.append(json.loads(e.progress.json))
    def onQueryTerminated(self, e):
        with self.lock: self.ended.add(str(e.id))

listener, box = Listener(), {{}}
get_spark = cli.get_spark
def with_listener(*a, **k):
    spark = box['spark'] = get_spark(*a, **k)
    box['partitions'] = spark.conf.get('spark.sql.shuffle.partitions')
    spark.streams.addListener(listener)
    return spark
cli.get_spark = with_listener
cli.cmd_run(argparse.Namespace(landing_dir={str(tape)!r}, out={str(tmp_path / "out")!r},
                               config=None, once=True, database_out='airstrikdb'))
deadline = time.time() + 30
while time.time() < deadline and not (len(listener.started) == 2 and listener.started <= listener.ended):
    time.sleep(0.05)
spark = box['spark']
jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
listing = []
for i in range(jobs.size()):
    d = jobs.apply(i).description()
    if d.isDefined() and d.get().startswith('Listing leaf files'):
        listing.append(d.get())
assert not listing, listing
state = [p for p in listener.progress if p['stateOperators']]
assert len({{p['id'] for p in state}}) == 1, state
assert state[-1]['stateOperators'][0]['numShufflePartitions'] == 1, state[-1]
assert spark.conf.get('spark.sql.shuffle.partitions') == box['partitions']
print('OK')
"""
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "OK" in res.stdout


def test_live_run_wakes_trip_query_once_per_remember(tmp_path):
    """Live, the alarm query answers each snapshot as it lands, while the
    trip query, triggered once per `remember` (60 s) whatever json_speed
    is, runs at most its start batch and one no-data batch: a snapshot
    costs one micro-batch, not an alarm batch plus two trip batches.
    `--once` drains both queries: see
    test_run_once_lists_on_driver_and_sizes_trip_state."""
    tape = tmp_path / "tape"
    os.makedirs(tape)
    code = f"""
import argparse, json, os, threading, time
from pyspark.sql.streaming import StreamingQueryListener
import airstrik_py_spark.__main__ as cli

TAPE = {str(tape)!r}

class Listener(StreamingQueryListener):
    def __init__(self):
        self.progress = []
        self.lock = threading.Lock()
    def onQueryStarted(self, e): pass
    def onQueryProgress(self, e):
        with self.lock: self.progress.append(json.loads(e.progress.json))
    def onQueryTerminated(self, e): pass
    def split(self):
        # the trip query is the one with a state operator
        with self.lock: progress = list(self.progress)
        trip_ids = {{p['id'] for p in progress if p['stateOperators']}}
        return ([p for p in progress if p['id'] not in trip_ids],
                [p for p in progress if p['id'] in trip_ids])

def land(i):
    # one plane inside the alert radius per snapshot, each under its own hex
    snap = {{"now": {BASE} + 2 * i, "aircraft": [{{"hex": f"h{{i}}", "flight": "X",
            "lat": 35.75, "lon": -78.7, "alt_geom": 500.0, "seen": 0.1}}]}}
    tmp = os.path.join(os.path.dirname(TAPE), f".s{{i}}.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f)
    os.replace(tmp, os.path.join(TAPE, f"s{{i:03d}}.json"))

def wait_for(cond, what, timeout_s=120):
    deadline = time.time() + timeout_s
    while not cond():
        assert time.time() < deadline, what
        time.sleep(0.05)

listener, box, triggers = Listener(), {{}}, []
get_spark, with_trigger = cli.get_spark, cli._with_trigger
def with_listener(*a, **k):
    spark = box['spark'] = get_spark(*a, **k)
    spark.streams.addListener(listener)
    return spark
def recording_trigger(writer, kwargs):
    triggers.append(kwargs)
    return with_trigger(writer, kwargs)
cli.get_spark, cli._with_trigger = with_listener, recording_trigger

def alarm_rows():
    return sum(p['numInputRows'] for p in listener.split()[0])

land(0)
run = threading.Thread(target=cli.cmd_run, args=(argparse.Namespace(
    landing_dir=TAPE, out={str(tmp_path / "out")!r}, config=None, once=False,
    database_out='airstrikdb'),))
run.start()
wait_for(lambda: alarm_rows() == 1 and listener.split()[1], 'start batches')
time.sleep(1.0)  # room for the trip query's no-data batch
for i in range(1, 6):
    land(i)
    time.sleep(0.5)
wait_for(lambda: alarm_rows() == 6, 'alarm rows')
for q in box['spark'].streams.active:
    q.stop()
run.join(60)
assert not run.is_alive()
trip_batches = sorted({{p['batchId'] for p in listener.split()[1]}})
assert trip_batches[-1] <= 1, trip_batches
# alarms: the reference's json_speed 0 (default trigger); trips: remember
assert triggers == [{{}}, {{'processingTime': '60.0 seconds'}}], triggers
print('OK')
"""
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "OK" in res.stdout
    alerted = {
        line.split("'plane_hex': '")[1].split("'")[0]
        for line in res.stdout.splitlines()
        if line.startswith("[airstrik-alert]")
    }
    assert alerted == {f"h{i}" for i in range(6)}, res.stdout
