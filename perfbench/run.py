"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload live_cadence --seed 1 --seconds 24 --trace 0

Workloads (perfbench/catalog.py records why each was chosen):

  live_cadence      `python -m airstrik_py_spark run` (through
                    __main__.cmd_run) on a landing dir that an open-loop
                    generator fills with one seeded aircraft.json every 4 s.
  replay_drain      `run --once` over a pre-landed seeded tape, in one cold
                    process.

Every run checks the outputs (outside the timed region) and prints, as
its last stdout line, one JSON object: correct, attempted, failed and the
metrics.  --trace 0 prints the end-to-end metrics of BENCHMARK.json;
--trace 1 prints its per-layer metrics, taken from a traced segment of
each workload (the replay segment then runs the 13 headline queries of
__spark_entry__.queries() over seeded parquet tables in the same process)
and an untraced replay drain (for the tracing overhead).  All working
files live under .bench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import tape  # noqa: E402

# plane_time is the snapshot `now` rounded to 6 decimals by the payload;
# the generator writes `now` at millisecond precision, so this only
# absorbs the float round trip.
EPS = 1e-6


def snapshot_latencies(
    landings: list[float], arrivals: list[tuple[float, float]]
) -> list[float | None]:
    """Latency of each landed snapshot: the arrival time of the first
    printed payload whose plane_time is at or after the snapshot's `now`,
    minus that `now`; None when no such payload arrived.

    ``landings`` are the snapshots' `now` values; ``arrivals`` are
    (arrival_time, plane_time) pairs, one per printed payload.  A snapshot
    folded into a later one's micro-batch is answered by that batch's
    payload, so its latency includes the time it waited in the queue."""
    ordered = sorted(arrivals)
    out: list[float | None] = []
    for now in landings:
        hit = next((t for t, pt in ordered if pt >= now - EPS), None)
        out.append(None if hit is None else hit - now)
    return out


class ChildFailed(RuntimeError):
    pass


def _group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of one process group."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class Child:
    """One `perfbench/child.py` process in its own process group (the
    Python process and its JVM).  Samples the group's summed RSS and
    timestamps every stdout line as it arrives."""

    def __init__(self, ctx: Context, spec: dict, on_line=None) -> None:
        self.name = f"{spec['mode']}-{ctx.next_id()}"
        self.log_path = os.path.join(ctx.work, f"{self.name}.log")
        spec = dict(spec, repo=ROOT, work=ctx.work, result=os.path.join(ctx.work, f"{self.name}.json"))
        self.result_path = spec["result"]
        spec_path = os.path.join(ctx.work, f"{self.name}.spec.json")
        self.t0 = time.time()
        spec["t0"] = self.t0
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-u", os.path.join(HERE, "child.py"), spec_path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            cwd=ctx.work,
            env=ctx.env,
            text=True,
            start_new_session=True,
        )
        ctx.children.append(self)
        self.peak_rss = 0
        self._on_line = on_line
        self._done = threading.Event()
        self._threads = [
            threading.Thread(target=self._read, daemon=True),
            threading.Thread(target=self._sample, daemon=True),
        ]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if self._on_line is not None:
                self._on_line(time.time(), line)

    def _sample(self) -> None:
        while not self._done.is_set():
            self.peak_rss = max(self.peak_rss, _rss_bytes(_group_pids(self.proc.pid)))
            self._done.wait(0.2)

    def stop(self) -> None:
        """Ask a live child to stop its streaming queries."""
        try:
            self.proc.stdin.write("stop\n")
            self.proc.stdin.close()
        except (BrokenPipeError, ValueError):
            pass

    def reap(self) -> None:
        """Stop every process left in the group and wait until none is."""
        self._done.set()
        pgid = self.proc.pid
        for sig, wait_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
            if self.proc.poll() is None or _group_pids(pgid):
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + wait_s
            while time.time() < end and (self.proc.poll() is None or _group_pids(pgid)):
                time.sleep(0.05)
        self.proc.wait()
        for t in self._threads:
            t.join(timeout=5)
        self._log.close()

    def wait(self, timeout_s: float) -> dict:
        try:
            self.proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            pass
        timed_out = self.proc.poll() is None
        self.reap()
        if timed_out or self.proc.returncode != 0:
            with open(self.log_path) as f:
                tail = f.read()[-3000:]
            raise ChildFailed(f"{self.name} failed (rc={self.proc.returncode}, timeout={timed_out}):\n{tail}")
        with open(self.result_path) as f:
            return json.load(f)


class Context:
    """One benchmark run: its arguments, work directory, children and
    their environment.  The engine runs on 4 local cores whatever the
    machine, so a run does the same work everywhere; the 2 GiB JVM
    heap replaces the session factory's 8 GiB default, which the inputs
    here never need."""

    def __init__(self, workload: str, seed: int, seconds: int) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self.children: list[Child] = []
        self._ids = 0
        tmp = os.path.join(self.work, "tmp")
        self.env = dict(
            os.environ,
            SPARK_GRAFT_CPUS="4",
            SPARK_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
            # keep the JVM's temp files (and its perf-data file) in the checkout
            PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
            PYTHONDONTWRITEBYTECODE="1",
        )

    def next_id(self) -> int:
        self._ids += 1
        return self._ids

    def subdir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        for child in self.children:
            child.reap()
        shutil.rmtree(self.work, ignore_errors=True)


class Outcome:
    """What one workload run measured: end-to-end values, per-layer values
    (traced segments only), and the operation tally."""

    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.void: str | None = None


def _parse_payload(line: str):
    """`[topic] {...}` as printed by cmd_run's print sink."""
    topic, _, body = line.partition("] ")
    return topic.lstrip("["), ast.literal_eval(body.strip())


def _wait_until(pred, timeout_s: float) -> bool:
    end = time.time() + timeout_s
    while time.time() < end:
        if pred():
            return True
        time.sleep(0.01)
    return pred()


def live_cadence(ctx: Context, trace: bool = False) -> Outcome:
    n = catalog.TRACED_LIVE_SNAPS if trace else max(int(ctx.seconds // catalog.PERIOD_S), 1)
    base = ctx.subdir(f"live{ctx.next_id()}")
    landing, out = os.path.join(base, "landing"), os.path.join(base, "out")
    os.makedirs(landing)
    legs = tape.plan_legs(ctx.seed, n + 1)
    payloads: list[tuple[float, str, dict]] = []
    lock = threading.Lock()

    def on_line(t: float, line: str) -> None:
        if line.startswith("[airstrik-"):
            topic, payload = _parse_payload(line)
            with lock:
                payloads.append((t, topic, payload))

    def answered(now: float) -> bool:
        with lock:
            return any(p["plane_time"] >= now - EPS for _, _, p in payloads)

    def land(k: int) -> float:
        now = round(time.time(), 3)
        tape.land(landing, tape.snap_name(k), tape.snapshot_line(now, tape.snapshot_aircraft(ctx.seed, legs, k)))
        return now

    o = Outcome()
    warm_now = land(0)
    child = Child(ctx, {"mode": "live", "landing": landing, "out": out, "trace": trace}, on_line)
    _wait_until(lambda: answered(warm_now) or child.proc.poll() is not None, 150.0)
    if not answered(warm_now):
        child.stop()
        child.wait(30)
        raise ChildFailed("live: the warm-up snapshot was never answered")
    with lock:
        setup_end = min(t for t, _, p in payloads if p["plane_time"] >= warm_now - EPS)
    first = time.time() + catalog.PERIOD_S
    nows, dues = [], []
    for k in range(1, n + 1):
        due = first + (k - 1) * catalog.PERIOD_S
        time.sleep(max(0.0, due - time.time()))
        nows.append(land(k))
        dues.append(due)
    _wait_until(lambda: answered(nows[-1]), 15.0)
    child.stop()
    res = child.wait(120)

    with lock:
        arrived = list(payloads)
    lat = snapshot_latencies(nows, [(t, p["plane_time"]) for t, _, p in arrived])
    # time each snapshot from when it was due, so generator lateness counts
    lat_ms = [None if x is None else 1000 * (x + now - due) for x, now, due in zip(lat, nows, dues)]
    late_ms = max(1000 * (now - due) for now, due in zip(nows, dues))
    bad = {i + 1 for i, x in enumerate(lat_ms) if x is None}
    bad |= _alert_mismatches(arrived, [warm_now] + nows, res["expected_alerts"], tape.loiterer_hex(ctx.seed))
    o.attempted, o.failed = n + 1, len(bad)
    if late_ms > catalog.LATE_LIMIT_MS:
        o.void = f"generator landed a snapshot {late_ms:.0f} ms late (limit {catalog.LATE_LIMIT_MS:.0f} ms)"
    ok = [x for x in lat_ms if x is not None]
    o.metrics = {
        "setup_s": setup_end - child.t0,
        "latency_p50_ms": statistics.median(ok) if ok else 0.0,
        "peak_rss_mb": child.peak_rss / 2**20,
    }
    if trace:
        o.layers = dict(res["layers"])
        o.layers.update({
            "sinks.alerts": sum(topic == "airstrik-alert" for _, topic, _ in arrived),
            "sinks.warnings": sum(topic == "airstrik-warning" for _, topic, _ in arrived),
            "sinks.warnings_expected": res["warnings_expected"],
            "gen.late_ms_max": late_ms,
            "gen.snapshots": n,
        })
        trig = o.layers["streaming.trigger_ms"]
        phases = sum(o.layers[f"streaming.{k}_ms"] for k in ("query_planning", "add_batch", "wal_commit", "commit_offsets"))
        phases += o.layers["sources.latest_offset_ms"] + o.layers["sources.get_batch_ms"]
        o.layers["trace.live_phase_frac"] = phases / trig if trig else 0.0
    return o


def _alert_mismatches(arrived, nows: list[float], expected: list, loiterer: str) -> set[int]:
    """Indices into ``nows`` (every landed snapshot) whose printed alerts
    disagree with the batch recomputation ``expected``.

    Every printed alert must be one the recomputation finds.  The loiterer
    sits in every snapshot, so when its alert is printed at a snapshot's
    `now`, that snapshot closed its micro-batch and every alert the
    recomputation finds at that `now` must have been printed with it."""
    want: dict[float, set] = {}
    for hexcode, t, dist in expected:
        want.setdefault(round(t, 6), set()).add((hexcode, dist))
    got: dict[float, set] = {}
    for _, topic, p in arrived:
        if topic == "airstrik-alert":
            got.setdefault(round(p["plane_time"], 6), set()).add((p["plane_hex"], p["distance"]))
    bad = set()
    for i, now in enumerate(nows):
        key = round(now, 6)
        printed = got.get(key, set())
        if not printed <= want.get(key, set()):
            bad.add(i)
        elif any(h == loiterer for h, _ in printed) and printed != want.get(key, set()):
            bad.add(i)
    for t in set(got) - {round(now, 6) for now in nows}:
        bad.add(min(range(len(nows)), key=lambda i: abs(nows[i] - t)))
    return bad


def replay_drain(ctx: Context, trace: bool = False) -> Outcome:
    base = ctx.subdir(f"replay{ctx.next_id()}")
    landing, out = os.path.join(base, "landing"), os.path.join(base, "out")
    n_obs = tape.write_replay(landing, ctx.seed, catalog.REPLAY_SNAPS)
    spec = {"mode": "replay", "landing": landing, "out": out, "trace": trace}
    if trace:
        import tables

        spec["tables"] = ctx.subdir("tables")
        tables.write_tables(spec["tables"], ctx.seed)
    child = Child(ctx, spec)
    res = child.wait(170)
    drain = res["end"] - res["first_batch"]
    o = Outcome()
    got = sorted((f, s, e, int(n)) for f, s, e, n in res["trips"])
    o.attempted, o.failed = 1, int(got != tape.closed_sessions(ctx.seed, catalog.REPLAY_SNAPS))
    if trace:
        o.attempted += len(res["headline_check"])
        o.failed += sum(not ok for ok in res["headline_check"].values())
        o.layers = dict(res["layers"])
        accounted = sum(o.layers[k] for k in ("sources.scan_s", "operators.kinematics_s", "operators.alarm_s",
                                              "operators.sessions_s", "sinks.trip_write_total_s"))
        o.layers["trace.replay_accounted_frac"] = accounted / drain
    o.metrics = {
        "setup_s": res["first_batch"] - child.t0,
        "latency_p50_ms": 1000 * drain,
        "peak_rss_mb": child.peak_rss / 2**20,
    }
    return o


WORKLOADS = {
    "live_cadence": live_cadence,
    "replay_drain": replay_drain,
}

# which traced segment each per-layer metric is read from
LAYER_SOURCE = {
    "sources.scan_s": "replay_drain",
    "operators.": "replay_drain",
    "streaming.state_": "replay_drain",
    "streaming.rows_dropped_by_watermark": "replay_drain",
    "sinks.trip_files_written": "replay_drain",
    "trace.replay_accounted_frac": "replay_drain",
    "registry.": "replay_drain",
    "spark.": "replay_drain",
    "headline.": "replay_drain",
}


def _source_of(metric: str) -> str:
    for prefix, workload in LAYER_SOURCE.items():
        if metric.startswith(prefix):
            return workload
    return "live_cadence"


def traced(ctx: Context) -> Outcome:
    """One traced segment of every workload (the replay segment goes on to
    run the headline query set in the same process), plus an untraced
    replay drain of the same tape: the tracing overhead is measured on
    replay_drain, the cheapest workload, so that a traced run stays well
    inside its time limit.  Every segment's outputs are checked and
    counted."""
    base = replay_drain(ctx)
    segments = {name: fn(ctx, trace=True) for name, fn in WORKLOADS.items()}
    o = Outcome()
    for seg in [base, *segments.values()]:
        o.attempted += seg.attempted
        o.failed += seg.failed
        o.void = o.void or seg.void
    for name in _layer_names():
        if name not in ("trace.overhead_frac", "process.peak_rss_mb"):
            o.layers[name] = segments[_source_of(name)].layers[name]
    seg = segments["replay_drain"].metrics["latency_p50_ms"]
    o.layers["trace.overhead_frac"] = seg / base.metrics["latency_p50_ms"] - 1.0
    o.layers["process.peak_rss_mb"] = segments[ctx.workload].metrics["peak_rss_mb"]
    return o


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layer_names() -> list[str]:
    return [m["name"] for m in _benchmark_json()["per_layer"]]


def report(o: Outcome, trace: bool) -> dict:
    spec = _benchmark_json()
    chosen = spec["per_layer"] if trace else spec["end_to_end"]
    values = o.layers if trace else o.metrics
    return {
        "correct": o.failed == 0 and o.void is None,
        "attempted": o.attempted,
        "failed": o.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "airstrik_py_spark")):
        print("error: no airstrik_py_spark package beside perfbench/; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    # a SIGTERM unwinds through the finally below, which stops every child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args.workload, args.seed, args.seconds)
    try:
        o = traced(ctx) if args.trace else WORKLOADS[args.workload](ctx)
        line = report(o, bool(args.trace))
    except ChildFailed as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        ctx.close()
    if o.void:
        print(f"VOID: {o.void}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
