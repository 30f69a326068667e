"""Streaming benchmark: throughput + state-scale for the Structured
Streaming pipelines (availableNow drain of a parquet tape).

The reference engine is a single-thread Python loop that re-parses one
aircraft.json per decoder tick (airstrik.py:189-208) — its ceiling is one
snapshot per poll interval on an RPi-class host (BASELINE.md publishes no
numbers).  This artifact records two axes:

1. Throughput — end-to-end rows/second of the three pipelines at the
   given sf_dir.
2. State scale — the 100x claim: replay the SAME trip semantics with a
   synthetic key fan-out (hex -> hex#0..hex#K-1, so KX concurrent
   sessions AND KX rows entering the session operator — the scan still
   reads the base tape; the other (K-1)X are generated in-plan by
   explode) and record peak state-store rows, state memory, and drain
   time for the default (HDFS-backed) and RocksDB state providers,
   best-of-2 like the throughput section (the first drain pays
   state-store/native-library cold start).

Environment strings (master, parallelism) are derived from the live
SparkContext — nothing in the generated report is hardcoded to the
machine this was first written on.

Usage: python tools/stream_bench.py [sf_dir ...] [--state-sf DIR]
  -> one JSON line + STREAMBENCH.md
Each positional dir gets its own throughput section (e.g.
`/root/testdata/sf0.1 /tmp/sf1` for the 1x + 10x side-by-side); the
state-scale fan-out axis runs once over --state-sf (default sf0.01 —
it replays KX the rows in-plan).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from airstrik_py_spark.config import TESTDATA  # noqa: E402
from airstrik_py_spark.session import get_spark, pin_session  # noqa: E402
from airstrik_py_spark.sources.tables import load_table, observations  # noqa: E402
from airstrik_py_spark.streaming.pipeline import (  # noqa: E402
    stream_dedup_docs,
    stream_dedup_events,
    stream_sessionize_events,
    stream_trips,
)

TAPE_FILES = 16  # splits for the file source -> parallel micro-batch work
FANOUTS = (1, 10, 100)
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_DEFAULT = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def _run_query(make_stream):
    """Drain one streaming DataFrame to the noop sink; return (sec, query)."""
    t0 = time.time()
    q = (
        make_stream()
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.time() - t0, q


def _drain(make_stream):
    """Best-of-2 wall-clock (the first drain pays JVM/state-store cold
    start — observed 5x inflation on the heaviest pipeline).  Returns
    (sec, query-of-best-run) so callers can read state metrics."""
    best = best_q = None
    for _ in range(2):
        dt, q = _run_query(make_stream)
        if best is None or dt < best:
            best, best_q = dt, q
    return best, best_q


def _state_metrics(q):
    """Peak state rows / memory bytes across the drain's batches, from the
    query's progress events.  (Watermark lag is deliberately NOT reported:
    on a drained availableNow replay the final watermark always settles at
    max-event-time minus the configured delay, whatever the store did, so
    it cannot distinguish a throttled store from a healthy one — the
    store-health signal here is drain time scaling across fan-outs.)"""
    rows = mem = 0
    for p in q.recentProgress:
        for so in p.get("stateOperators", []):
            rows = max(rows, so.get("numRowsTotal", 0))
            m = so.get("memoryUsedBytes", 0)
            cm = so.get("customMetrics", {}) or {}
            m = max(m, cm.get("rocksdbTotalMemoryUsage", 0))
            mem = max(mem, m)
    return rows, mem


def throughput_section(spark, sf_dir: str, scratch: str) -> dict[str, dict]:
    """Six-pipeline availableNow drain at `sf_dir`: input rows, best-of-2
    wall-clock, rows/sec, and the best run's peak state rows/MB.  The
    state columns are the watermark-boundedness evidence (VERDICT r14
    #6): at 10x the input, peak state must track keys-inside-the-
    watermark, not total rows replayed."""
    from airstrik_py_spark.streaming.stateful import stream_attribution
    from airstrik_py_spark.streaming.pipeline import (
        stream_touch_conversion_pairs,
    )

    obs = observations(spark, sf_dir)
    obs_tape = f"{scratch}/obs"
    obs.repartition(TAPE_FILES).write.parquet(obs_tape)
    n_obs = spark.read.parquet(obs_tape).count()
    obs_schema = spark.read.parquet(obs_tape).schema

    ev = load_table(spark, sf_dir, "events")
    ev_tape = f"{scratch}/events"
    ev.repartition(TAPE_FILES).write.parquet(ev_tape)
    n_ev = spark.read.parquet(ev_tape).count()
    ev_schema = spark.read.parquet(ev_tape).schema

    def obs_stream():
        return spark.readStream.schema(obs_schema).parquet(obs_tape)

    def ev_stream():
        return spark.readStream.schema(ev_schema).parquet(ev_tape)

    results: dict[str, dict] = {}

    def record(name: str, rows: int, drained) -> None:
        sec, q = drained
        srows, smem = _state_metrics(q)
        results[name] = {
            "rows": rows,
            "sec": round(sec, 3),
            "rows_per_sec": int(rows / sec),
            "state_rows_peak": srows,
            "state_mb_peak": round(smem / 1e6, 2),
        }

    record(
        "stream_trips", n_obs, _drain(lambda: stream_trips(obs_stream(), TESTDATA))
    )
    record(
        "stream_dedup_events",
        n_obs,
        _drain(lambda: stream_dedup_events(obs_stream(), TESTDATA)),
    )
    record(
        "stream_sessionize_events",
        n_ev,
        _drain(lambda: stream_sessionize_events(ev_stream())),
    )
    record(
        "stream_attribution",
        n_ev,
        _drain(lambda: stream_attribution(ev_stream(), live=False)),
    )

    # r8 profile (a probe tool since removed; git history has it): this
    # lane's cost is NOT the join — it is per-partition state-store COMMIT
    # overhead (the symmetric join keeps keyed stores on BOTH sides,
    # snapshotted per partition per micro-batch; cumulative stateCommitMs 52 s of an
    # 8.3 s wall at 32 partitions).  8 partitions ran 3.4x faster
    # (2.45 s, 40.8 k rows/s) on identical results; RocksDB and a
    # tighter watermark moved nothing.  Size state partitions to state
    # VOLUME (~40 k rows here), not to CPU count — at production state
    # sizes the 32+ partitions win back their keep.
    # r9: the pinned 8 became the measured formula — state here is the
    # watermark-span click+purchase buffers (~40% of the tape rows).
    from airstrik_py_spark.streaming.pipeline import configure_state_partitions

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    applied = configure_state_partitions(spark, int(n_ev * 0.4))
    print(f"stream_ss_interval_join: auto state partitions = {applied}")
    try:
        record(
            "stream_ss_interval_join",
            n_ev,
            _drain(lambda: stream_touch_conversion_pairs(ev_stream())),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # Document ingest dedup: even doc_ids play the accepted corpus
    # (static digest side), odd doc_ids arrive as the stream.
    docs = load_table(spark, sf_dir, "documents")
    corpus_digests = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("digest")
    )
    dn = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    doc_tape = f"{scratch}/docs"
    dn.repartition(TAPE_FILES).write.parquet(doc_tape)
    n_docs = spark.read.parquet(doc_tape).count()
    doc_schema = spark.read.parquet(doc_tape).schema
    record(
        "stream_dedup_docs",
        n_docs,
        _drain(
            lambda: stream_dedup_docs(
                spark.readStream.schema(doc_schema).parquet(doc_tape),
                corpus_digests,
            )
        ),
    )
    return results


def main() -> None:
    args = list(sys.argv[1:])
    state_sf_dir = "/root/testdata/sf0.01"
    if "--state-sf" in args:
        i = args.index("--state-sf")
        state_sf_dir = args[i + 1]
        del args[i : i + 2]
    # every positional arg is a throughput sf_dir; the table gets one
    # section per dir (VERDICT r14 #6 wants sf0.1 AND sf1 side by side)
    sf_dirs = args or ["/root/testdata/sf0.1"]
    spark = pin_session(get_spark("stream_bench"))
    sc = spark.sparkContext
    env = f"{sc.master}, parallelism={sc.defaultParallelism}"
    scratch = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        per_sf: dict[str, dict[str, dict]] = {}
        for n, d in enumerate(sf_dirs):
            sub = f"{scratch}/sf{n}"
            per_sf[d] = throughput_section(spark, d, sub)
            shutil.rmtree(sub, ignore_errors=True)

        # ---- state-scale axis: key fan-out x state-store provider -------
        sobs = observations(spark, state_sf_dir)
        state_tape = f"{scratch}/state_obs"
        sobs.repartition(TAPE_FILES).write.parquet(state_tape)
        n_sobs = spark.read.parquet(state_tape).count()
        s_schema = spark.read.parquet(state_tape).schema

        def fan_stream(k: int):
            base = spark.readStream.schema(s_schema).parquet(state_tape)
            if k == 1:
                return base
            # KX concurrent keys: every observation replicated under K
            # distinct synthetic hexes -> K independent sessions in state.
            return (
                base.withColumn(
                    "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                )
                .withColumn("hex", F.concat_ws("#", "hex", "rep"))
                .drop("rep")
            )

        state_rows = []
        for provider, pname in ((HDFS_DEFAULT, "default"), (ROCKSDB, "rocksdb")):
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
            for k in FANOUTS:
                # best-of-2 (first drain pays provider cold start, e.g.
                # RocksDB native-library load); metrics from the faster run
                sec = q = None
                for _ in range(2):
                    s, cand_q = _run_query(
                        lambda k=k: stream_trips(fan_stream(k), TESTDATA)
                    )
                    if sec is None or s < sec:
                        sec, q = s, cand_q
                srows, smem = _state_metrics(q)
                state_rows.append(
                    {
                        "provider": pname,
                        "fanout": k,
                        "session_rows": n_sobs * k,
                        "sec": round(sec, 2),
                        "session_rows_per_sec": int(n_sobs * k / sec),
                        "state_rows_peak": srows,
                        "state_mb_peak": round(smem / 1e6, 1),
                    }
                )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", HDFS_DEFAULT
        )

        # ---- attribution state-scale: user fan-out over the Python-side
        # keyed-state lane (state = 2 longs/user; SCALE.md 3c claims it is
        # linear in ACTIVE users — measure it)
        from airstrik_py_spark.streaming.stateful import stream_attribution

        sev = load_table(spark, state_sf_dir, "events")
        ev_state_tape = f"{scratch}/state_ev"
        sev.repartition(TAPE_FILES).write.parquet(ev_state_tape)
        n_sev = spark.read.parquet(ev_state_tape).count()
        se_schema = spark.read.parquet(ev_state_tape).schema

        def attr_fan_stream(k: int):
            base = spark.readStream.schema(se_schema).parquet(ev_state_tape)
            if k == 1:
                return base
            return (
                base.withColumn(
                    "rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                )
                .withColumn(
                    "user_id",
                    F.col("user_id") * k + F.col("rep"),
                )
                .drop("rep")
            )

        attr_rows = []
        for k in FANOUTS:
            sec = q = None
            for _ in range(2):
                s_, cand_q = _run_query(
                    lambda k=k: stream_attribution(
                        attr_fan_stream(k), live=False
                    )
                )
                if sec is None or s_ < sec:
                    sec, q = s_, cand_q
            srows, smem = _state_metrics(q)
            attr_rows.append(
                {
                    "fanout": k,
                    "event_rows": n_sev * k,
                    "sec": round(sec, 2),
                    "event_rows_per_sec": int(n_sev * k / sec),
                    "state_rows_peak": srows,
                    "state_mb_peak": round(smem / 1e6, 2),
                }
            )

        payload = {
            "metric": "streaming_rows_per_sec",
            "sf_dirs": sf_dirs,
            "env": env,
            "pipelines": per_sf,
            "state_scale": state_rows,
            "attribution_state_scale": attr_rows,
        }
        print(json.dumps(payload))

        lines = [
            "# STREAMBENCH — Structured Streaming throughput (availableNow replay)",
            "",
            f"{env}, {TAPE_FILES}-file parquet tape,",
            "noop sink, best-of-2 wall-clock from query start to drain; peak",
            "state rows/MB from the best drain's stateOperators progress.",
            "The reference's live loop processes ONE snapshot per poll tick",
            "single-threaded (airstrik.py:189-208); these are the same",
            "semantics as keyed, watermarked streaming state.",
        ]
        for d in sf_dirs:
            lines += [
                "",
                f"## Throughput at `{d}`",
                "",
                "| pipeline | input rows | sec | rows/sec |"
                " peak state rows | peak state MB |",
                "|---|---|---|---|---|---|",
            ]
            for name, r in per_sf[d].items():
                lines.append(
                    f"| {name} | {r['rows']} | {r['sec']:.2f} |"
                    f" {r['rows_per_sec']} | {r['state_rows_peak']} |"
                    f" {r['state_mb_peak']} |"
                )
        if len(sf_dirs) > 1:
            lines += [
                "",
                "Watermark boundedness across scales: peak state is set by",
                "keys alive inside the watermark window (and by micro-batch",
                "granularity on a drained replay), NOT by total rows",
                "replayed — compare the state columns across the sections",
                "above to the 10x input growth.",
            ]
        lines += [
            "",
            "stream_trips carries the heaviest state (session_window +",
            "7-aggregate trip fold per plane); dedup keeps only",
            "(hex, ts) keys inside the watermark; sessionize_events is the",
            "event-table twin; dedup_docs is the LLM-ingest lane (stream-",
            "static anti-join vs the corpus digest set + first-arrival-wins",
            "watermark dedup — its documents input is ~40x smaller than the",
            "event tapes, so the ~2 s micro-batch drain floor dominates its",
            "rows/sec; read the others for sustained rate);",
            "stream_attribution is the applyInPandasWithState last-touch",
            "lane — Arrow-batched Python per user group, 2 longs of state",
            "per key (the only Python-side stateful op in the table);",
            "stream_ss_interval_join is the two-stream watermarked",
            "symmetric hash join (click x purchase pairs within 1 h) —",
            "its input column counts BOTH streams' rows once (one tape",
            "feeds both sides), and its state is the watermark-pruned",
            "click/purchase buffers.  It runs at 8 state partitions since",
            "r8: a one-off probe tool (since removed, git history has it)",
            "isolated the old 10.9 k rows/s to",
            "per-partition state-store COMMIT overhead (both sides keep",
            "keyed stores, snapshotted per partition per micro-batch —",
            "cumulative stateCommitMs was 52 s of an 8.3 s wall at 32",
            "partitions; 8 partitions ran the identical query 3.4x faster,",
            "RocksDB and a tighter watermark moved nothing).  Size state",
            "partitions to state VOLUME, not CPU count — at production",
            "state sizes more partitions win back their keep.",
            "State shards",
            "by key on a cluster — rate scales with executors until the",
            "state store saturates.",
            "",
            "## State scale — key fan-out x state-store provider",
            "",
            f"stream_trips over `{state_sf_dir}` observations with every hex",
            "replicated K ways (hex#0..hex#K-1): KX concurrent sessions and",
            "KX rows entering the session operator (the scan reads the base",
            "tape once; the other (K-1)X are generated in-plan by explode,",
            "so 'session rows/sec' is the stateful operator's ingestion",
            "rate, NOT source-scan throughput — the throughput table above",
            "is the scan-inclusive number).  Per-key state is constant",
            "while TOTAL state grows KX — the axis that decides provider",
            "choice at 100x scale.  Best-of-2 drains; peak state rows/bytes",
            "from stateOperators progress.  The store-health signal is",
            "drain time scaling across fan-outs (a throttled store shows",
            "super-linear sec growth; watermark lag is not reported — on a",
            "drained availableNow replay it is definitionally pinned at the",
            "configured delay and cannot fire):",
            "",
            "| provider | fan-out | session rows | sec | session rows/sec |"
            " peak state rows | peak state MB |",
            "|---|---|---|---|---|---|---|",
        ]
        for r in state_rows:
            lines.append(
                f"| {r['provider']} | {r['fanout']}x | {r['session_rows']} |"
                f" {r['sec']} | {r['session_rows_per_sec']} |"
                f" {r['state_rows_peak']} | {r['state_mb_peak']} |"
            )
        lines += [
            "",
            "## Attribution state scale — user fan-out (Python keyed state)",
            "",
            "stream_attribution over the same events tape with user_id",
            "replicated K ways: state is 2 longs per user, so peak state",
            "rows should track K linearly while per-row cost stays flat —",
            "the SCALE.md 3c linear-in-active-users claim, measured:",
            "",
            "| fan-out | event rows | sec | event rows/sec |"
            " peak state rows | peak state MB |",
            "|---|---|---|---|---|---|",
        ]
        for r in attr_rows:
            lines.append(
                f"| {r['fanout']}x | {r['event_rows']} | {r['sec']} |"
                f" {r['event_rows_per_sec']} | {r['state_rows_peak']} |"
                f" {r['state_mb_peak']} |"
            )
        lines += [
            "",
            "RocksDB keeps state off-heap/on-disk — at sizes where the",
            "HDFS-backed map store would exceed executor heap (beyond this",
            "table's range) it is the survival path; within the table's",
            "range the two providers' throughput should be read relative to",
            "each other on the run's own hardware, not against prior runs.",
            "",
        ]
        with open(ROOT / "STREAMBENCH.md", "w") as f:
            f.write("\n".join(lines))
        print("wrote STREAMBENCH.md", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
