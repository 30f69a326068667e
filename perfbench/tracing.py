"""Tracing from outside the program: spans around calls into each layer's
public functions, a StreamingQueryListener on the session, and reads of
Spark's status stores.  Nothing here edits ``airstrik_py_spark``; spans
are installed by replacing module attributes with timing wrappers for the
life of one benchmark child process.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """Per-name lists of span durations (seconds)."""

    def __init__(self) -> None:
        self.durations: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.durations[name].append(seconds)

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, time.perf_counter() - t)

        return wrapper


def install_run_spans(spans: Spans, on_session) -> None:
    """Spans around the layers ``__main__.cmd_run`` calls into.  cmd_run
    imports these names at call time, so replacing the module attributes
    before the call is enough.  ``on_session`` receives the session as
    soon as ``get_spark`` returns (the listener is registered there, before
    any query starts)."""
    import airstrik_py_spark.__main__ as cli
    from airstrik_py_spark.streaming import pipeline

    get_spark = cli.get_spark

    def traced_get_spark(*args, **kwargs):
        t = time.perf_counter()
        spark = get_spark(*args, **kwargs)
        spans.add("session.get_spark", time.perf_counter() - t)
        on_session(spark)
        return spark

    cli.get_spark = traced_get_spark

    alarm_fb = pipeline.alarm_foreach_batch

    def traced_alarm_fb(cfg, sink):
        return spans.timed("streaming.alarm_batch", alarm_fb(cfg, spans.timed("sinks.alarm_sink", sink)))

    pipeline.alarm_foreach_batch = traced_alarm_fb

    trip_fb = pipeline.foreach_batch_idempotent_parquet

    def traced_trip_fb(out_dir):
        return spans.timed("sinks.trip_write", trip_fb(out_dir))

    pipeline.foreach_batch_idempotent_parquet = traced_trip_fb


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event (as parsed JSON) per query, and the
    query ids that started and terminated."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def wait_terminated(self, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until every started
        query has reported its termination."""
        end = time.time() + timeout_s
        while time.time() < end:
            with self._lock:
                if self.started and self.started <= self.terminated:
                    return
            time.sleep(0.05)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.progress)


def first_batch_start(progress: list[dict]) -> float | None:
    """Epoch seconds at which the earliest micro-batch with input began."""
    starts = [
        datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    return min(starts) if starts else None


def group_jobs(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(job_ids), tasks


def stage_totals(sc, min_stage_id: int = 0) -> dict[str, float]:
    """Shuffle-write bytes summed over the stages with id >=
    ``min_stage_id``, and the highest stage id (the core status store)."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = {"shuffle_write_bytes": 0.0, "max_stage_id": -1}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        out["max_stage_id"] = max(out["max_stage_id"], sid)
        if sid < min_stage_id:
            continue
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
    return out


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?\b")


def metric_total(text: str) -> float:
    """The total of one SQL metric as the status store formats it: a
    plain number, or ``total (min, med, max ...)\\n<total> (<min>, ...)``.
    Sizes come back in bytes and times in seconds."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def sql_metrics(spark, min_execution_id: int) -> dict[str, float]:
    """Broadcast bytes and Python worker time (start + init + run) summed
    over the SQL executions with id >= ``min_execution_id`` (the SQL status
    store: plan graph nodes joined to their aggregated metric values)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {"broadcast_bytes": 0.0, "python_worker_s": 0.0}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid < min_execution_id:
            continue
        wanted: dict[int, str] = {}
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                mname = m.name()
                if name.startswith("BroadcastExchange") and mname == "data size":
                    wanted[m.accumulatorId()] = "broadcast_bytes"
                elif "Python" in name or "InPandas" in name or "Arrow" in name:
                    if m.metricType() in ("timing", "nsTiming") and "python" in mname.lower():
                        wanted[m.accumulatorId()] = "python_worker_s"
        if not wanted:
            continue
        values = store.executionMetrics(eid)
        it = values.iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key in wanted:
                out[wanted[key]] += metric_total(kv._2())
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own
    QueryExecution, forced by asking for its executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        summary = it.next()._2()
        total += summary.durationMs()
    return total / 1000.0
