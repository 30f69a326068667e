"""One benchmark child process: runs one workload segment through the
product entry points and writes its measurements as JSON.

    python -u perfbench/child.py SPEC.json

SPEC keys: ``mode`` (live | replay), ``t0`` (epoch seconds at launch),
``repo``, ``work``, ``result`` (where to write the JSON), ``trace``
(boolean), ``landing`` and ``out``, plus ``tables`` for a traced replay,
which then also runs the headline query set.  Every mode also returns
what its output check needs; the checks run after the timed region.

live and replay call ``airstrik_py_spark.__main__.cmd_run`` exactly as
``python -m airstrik_py_spark run --landing-dir L --out O [--once]`` does
(no --config: the reference defaults, whose 0 s json_speed triggers
micro-batches as fast as possible).  live runs until a line (or EOF)
arrives on stdin, then stops the session's streaming queries so that
``cmd_run`` returns.  The headline segment calls
``__spark_entry__.queries()`` and materializes each query with collect().
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import tracing  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _p50(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _run_args(spec: dict, once: bool) -> argparse.Namespace:
    return argparse.Namespace(
        landing_dir=spec["landing"],
        out=spec["out"],
        config=None,
        once=once,
        database_out="airstrikdb",
    )


class RunTrace:
    """Spans + listener for one ``cmd_run`` call.  Untraced runs still get
    a listener when ``listen`` is set; it only keeps progress events."""

    def __init__(self, traced: bool, listen: bool) -> None:
        self.spans = tracing.Spans()
        self.listener = tracing.ProgressListener() if (traced or listen) else None
        self.spark = None
        if traced:
            tracing.install_run_spans(self.spans, self._on_session)
        elif listen:
            import airstrik_py_spark.__main__ as cli

            get_spark = cli.get_spark

            def with_listener(*a, **k):
                spark = get_spark(*a, **k)
                self._on_session(spark)
                return spark

            cli.get_spark = with_listener

    def _on_session(self, spark) -> None:
        self.spark = spark
        if self.listener is not None:
            spark.streams.addListener(self.listener)

    def layers(self, landing: str) -> dict:
        """Per-layer numbers of one run, from the progress events, the
        spans and the job groups Structured Streaming runs batches under."""
        prog = self.listener.snapshot()
        data = [p for p in prog if p.get("numInputRows", 0) > 0]
        dur = lambda key: _p50([p["durationMs"].get(key) for p in data])  # noqa: E731
        tag = os.path.basename(os.path.normpath(landing))
        scanning = {p["id"] for p in prog if any(tag in s.get("description", "") for s in p["sources"])}
        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        sc = self.spark.sparkContext
        jobs = sum(tracing.group_jobs(sc, run)[0] for run in {p["runId"] for p in prog})
        alarm_batches = len({p["batchId"] for p in data if p["id"] == data[0]["id"]}) if data else 0
        sp = self.spans.durations
        return {
            "session.get_spark_s": sp["session.get_spark"][0] if sp["session.get_spark"] else 0.0,
            "sources.reads_per_snapshot": len(scanning),
            # a foreachBatch callback that runs several actions re-reads its
            # input once per action, so the query that read the fewest rows
            # gives the file count
            "sources.files_per_batch": min(
                (_p50([p["sources"][0]["numInputRows"] for p in data if p["id"] == q]) for q in scanning),
                default=0,
            ),
            "sources.latest_offset_ms": dur("latestOffset"),
            "sources.get_batch_ms": dur("getBatch"),
            "streaming.batches": len(prog),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.alarm_batch_ms": 1000 * _p50(sp["streaming.alarm_batch"]),
            "streaming.jobs_per_batch": jobs / max(alarm_batches, 1),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
            "streaming.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
            "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "sinks.alarm_sink_ms": 1000 * _p50(sp["sinks.alarm_sink"]),
            "sinks.trip_write_ms": 1000 * _p50(sp["sinks.trip_write"]),
            "sinks.trip_write_total_s": sum(sp["sinks.trip_write"]),
        }


def _alarm_rows(spark, cfg, landing: str, alarm_foreach_batch) -> tuple[list, int]:
    """Batch recomputation over the landed tape: every observation inside
    a geofence (plane_hex, plane_time, distance), and the warning count of
    a single-batch replay through the live alarm callback."""
    from pyspark.sql import functions as F

    from airstrik_py_spark.operators import kinematics as K
    from airstrik_py_spark.operators.alarm import matched_filters
    from airstrik_py_spark.sources.snapshot import read_snapshot_batch

    obs = K.with_distance_home(read_snapshot_batch(spark, landing), cfg)
    inside = obs.filter(matched_filters(F.col("distance"), F.lit(None), cfg) != "")
    alerts = [
        [r["hex"], round(r["ts_sec"], 6), r["distance"]]
        for r in inside.select("hex", "ts_sec", "distance").collect()
    ]
    got: list = []
    alarm_foreach_batch(cfg, lambda df, epoch: got.extend(df.collect()))(
        read_snapshot_batch(spark, landing), 0
    )
    return alerts, sum(r["topic"] == "airstrik-warning" for r in got)


def live(spec: dict) -> dict:
    import airstrik_py_spark.__main__ as cli
    from pyspark.sql import SparkSession

    from airstrik_py_spark.config import REFERENCE
    from airstrik_py_spark.streaming.pipeline import alarm_foreach_batch

    rt = RunTrace(spec["trace"], listen=False)

    def stop_on_request() -> None:
        sys.stdin.readline()
        spark = SparkSession.builder.getOrCreate()
        for q in spark.streams.active:
            q.stop()

    threading.Thread(target=stop_on_request, daemon=True).start()
    cli.cmd_run(_run_args(spec, once=False))
    out: dict = {}
    spark = SparkSession.builder.getOrCreate()
    if spec["trace"]:
        rt.listener.wait_terminated()
        out["layers"] = rt.layers(spec["landing"])
    out["expected_alerts"], out["warnings_expected"] = _alarm_rows(
        spark, REFERENCE, spec["landing"], alarm_foreach_batch
    )
    return out


def _operator_self_times(spark, cfg, landing: str) -> dict:
    """Self time of each layer on the replay tape, as the difference
    between cumulative materializations of the same operators the drain
    runs: scan, + kinematics, + alarm (latest fix, dead reckoning,
    payload), and scan + session fold."""
    from airstrik_py_spark.operators import kinematics as K
    from airstrik_py_spark.sources.snapshot import read_snapshot_batch
    from airstrik_py_spark.streaming.pipeline import alarm_foreach_batch, stream_trips

    def timed(fn) -> float:
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    obs = read_snapshot_batch(spark, landing)
    scan = timed(lambda: _noop(obs))
    kin = timed(lambda: _noop(K.with_distance_home(K.with_calc_speed(K.with_calc_heading(obs), cfg), cfg)))
    alarm = timed(lambda: alarm_foreach_batch(cfg, lambda df, e: _noop(df))(obs, 0))
    sess = timed(lambda: _noop(stream_trips(obs, cfg)))
    return {
        "sources.scan_s": scan,
        "operators.kinematics_s": max(kin - scan, 0.0),
        "operators.alarm_s": max(alarm - kin, 0.0),
        "operators.sessions_s": max(sess - scan, 0.0),
    }


def replay(spec: dict) -> dict:
    import airstrik_py_spark.__main__ as cli
    from pyspark.sql import SparkSession

    from airstrik_py_spark.config import REFERENCE

    rt = RunTrace(spec["trace"], listen=True)
    cli.cmd_run(_run_args(spec, once=True))
    t_end = time.time()
    rt.listener.wait_terminated()
    start = tracing.first_batch_start(rt.listener.snapshot())
    out: dict = {"first_batch": start, "end": t_end}
    spark = SparkSession.builder.getOrCreate()
    store = os.path.join(spec["out"], "airstrikdb")
    out["trips"] = [
        [r["flight_id"], r["start_sec"], r["end_sec"], r["n_obs"]]
        for r in spark.read.parquet(store).select("flight_id", "start_sec", "end_sec", "n_obs").collect()
    ]
    if spec["trace"]:
        layers = rt.layers(spec["landing"])
        layers["sinks.trip_files_written"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(store) for f in fs
        )
        layers.update(_operator_self_times(spark, REFERENCE, spec["landing"]))
        # the batch library runs after the drain, in this process: `run`
        # never imports the registry, so its import is still cold here
        headline_layers, out["headline_check"] = headline_segment(spark, spec["tables"], spec["work"])
        layers.update(headline_layers)
        out["layers"] = layers
    return out


def canon_value(v) -> str:
    """Value text for the order-insensitive result hash: floats by exact
    repr (both engines round upstream), NULL and booleans spelled out."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def result_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, columns taken in
    name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    bag = Counter(tuple(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(bag.items())).encode()).hexdigest()
    return sum(bag.values()), h


def _oracle_digests(tables_dir: str, oracles: dict[str, str], work: str) -> dict:
    import duckdb

    out = {}
    with duckdb.connect() as duck:
        duck.execute("SET memory_limit='2GB'")
        duck.execute("SET threads=4")
        duck.execute(f"SET temp_directory='{os.path.join(work, 'duck')}'")
        for f in os.listdir(tables_dir):
            name = f.removesuffix(".parquet")
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{f}')")
        for slug, sql in oracles.items():
            res = duck.execute(sql)
            out[slug] = result_digest([d[0] for d in res.description], res.fetchall())
    return out


def headline_segment(spark, tables: str, work: str) -> tuple[dict, dict[str, bool]]:
    """The 13 headline queries of ``__spark_entry__.queries()``, traced, in
    a session that has not yet imported the registry: per-layer numbers
    and each slug's oracle check."""
    t = time.perf_counter()
    import __spark_entry__ as entry

    import_s = time.perf_counter() - t
    queries = entry.queries()
    # warm the session as bench.py does, so the first slug is not charged
    # for class loading and codegen
    spark.range(1000).selectExpr("sum(id)").collect()
    _noop(queries["filter_liveness"](spark, tables))
    sc = spark.sparkContext
    first_stage = tracing.stage_totals(sc)["max_stage_id"] + 1
    first_exec = tracing.last_execution_id(spark) + 1
    plan_s = 0.0
    times, digests = {}, {}
    for slug in catalog.HEADLINE:
        # a slug's time covers building its DataFrame and running it, as in
        # bench.py; collect() materializes every column, as bench.py's noop
        # sink does, and hands the rows to the oracle check without a
        # second execution (the results are small, at most ~20k rows)
        t = time.perf_counter()
        df = queries[slug](spark, tables)
        build_s = time.perf_counter() - t
        plan_s += tracing.plan_seconds(df)
        sc.setJobGroup(slug, slug)
        t = time.perf_counter()
        rows = df.collect()
        times[slug] = build_s + time.perf_counter() - t
        digests[slug] = result_digest(df.columns, rows)
    sc.setJobGroup("after", "after")  # later jobs belong to no slug
    stages = tracing.stage_totals(sc, first_stage)
    sql = tracing.sql_metrics(spark, first_exec)
    layers = {
        "registry.import_s": import_s,
        "spark.plan_ms": 1000 * plan_s,
        "spark.shuffle_write_bytes": stages["shuffle_write_bytes"],
        "spark.broadcast_bytes": sql["broadcast_bytes"],
        "spark.python_worker_ms": 1000 * sql["python_worker_s"],
        "spark.jobs": 0,
        "spark.tasks": 0,
        "headline.total_s": sum(times.values()),
    }
    for slug in catalog.HEADLINE:
        jobs, tasks = tracing.group_jobs(sc, slug)
        layers["spark.jobs"] += jobs
        layers["spark.tasks"] += tasks
        layers[f"headline.{slug}.jobs"] = jobs
        layers[f"headline.{slug}_s"] = times[slug]
    oracles = entry.oracle_sql()
    want = _oracle_digests(tables, {s: oracles[s] for s in catalog.HEADLINE}, work)
    return layers, {s: digests[s] == want[s] for s in catalog.HEADLINE}


MODES = {"live": live, "replay": replay}


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    result = MODES[spec["mode"]](spec)
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
