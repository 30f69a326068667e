"""Streaming parity (SURVEY §5.3): replay a snapshot tape through the
session_window streaming path with availableNow and assert the emitted trips
equal the batch operators' output — stream == batch equivalence."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.sources.snapshot import read_snapshot_batch, read_snapshot_stream
from airstrik_py_spark.streaming.pipeline import stream_trips

CFG = EngineConfig(remember_s=60.0, min_trip_length_s=0.0)
BASE = 1700000000.0


def run_to_memory(trips_stream, name: str) -> None:
    """Drive a bounded replay to completion synchronously (availableNow) into
    an in-memory table."""
    q = (
        trips_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _write_tape(tmpdir: str) -> None:
    """A deterministic aircraft.json replay tape: 6 snapshots, 2 planes,
    plane 'a' has a >60 s silence gap splitting it into two trips."""
    snaps = []
    for i, t in enumerate([0, 20, 40, 150, 170, 300]):
        aircraft = []
        if t <= 40 or t >= 150:
            aircraft.append(
                {"hex": "a", "flight": "AAL1", "lat": 35.7 + i * 0.01,
                 "lon": -78.7, "nav_heading": 0.0, "alt_geom": 500.0, "seen": 0.5}
            )
        if t <= 170:
            aircraft.append(
                {"hex": "b", "lat": 36.0 - i * 0.01, "lon": -78.0,
                 "alt_geom": 800.0, "seen": 0.2}
            )
        snaps.append({"now": BASE + t, "aircraft": aircraft})
    # end-of-tape sentinel: advances the watermark past every real session so
    # append-mode emits them all (a trip still open when the tape ends stays
    # unemitted — exactly the reference's never-closed-at-shutdown behavior)
    snaps.append(
        {
            "now": BASE + 10000,
            "aircraft": [{"hex": "zz", "lat": 0.0, "lon": 0.0, "seen": 0.1}],
        }
    )
    for i, snap in enumerate(snaps):
        with open(os.path.join(tmpdir, f"snap_{i:04d}.json"), "w") as f:
            json.dump(snap, f)


def test_snapshot_flatten_schema(spark, tmp_path):
    tape = str(tmp_path / "tape1")
    os.makedirs(tape)
    _write_tape(tape)
    obs = read_snapshot_batch(spark, tape).filter("hex <> 'zz'")
    assert obs.columns[:3] == ["hex", "ts", "ts_sec"]
    assert obs.count() == 6 + 5  # plane a: 6 snapshots, plane b: 5
    assert obs.filter("flight IS NULL").count() == 5  # b never broadcasts


def test_duplicate_rows_keep_total_order(spark, tmp_path):
    """True duplicate (hex, ts) rows — the same aircraft listed twice in one
    snapshot, or identical rows in two files — get DISTINCT event_ids (the
    tie-break is salted with source file + array position), so replays have
    a total order."""
    tape = str(tmp_path / "dup_tape")
    os.makedirs(tape)
    entry = {"hex": "a", "lat": 35.7, "lon": -78.7, "alt_geom": 500.0, "seen": 0.1}
    with open(os.path.join(tape, "s0.json"), "w") as f:
        json.dump({"now": BASE, "aircraft": [entry, entry]}, f)
    with open(os.path.join(tape, "s1.json"), "w") as f:
        json.dump({"now": BASE, "aircraft": [entry]}, f)
    obs = read_snapshot_batch(spark, tape)
    rows = obs.collect()
    assert len(rows) == 3
    assert len({r["event_id"] for r in rows}) == 3  # all distinct
    # and deterministic across reads
    again = {r["event_id"] for r in read_snapshot_batch(spark, tape).collect()}
    assert {r["event_id"] for r in rows} == again


def test_stream_exact_boundary_gap_stays_one_session(spark, tmp_path):
    """A gap of EXACTLY remember seconds must not split the session on the
    streaming path either (reference strict >, airstrik.py:482; the
    session_window gap carries a +1 ms epsilon for this)."""
    tape = str(tmp_path / "edge_tape")
    os.makedirs(tape)
    snaps = [
        {"now": BASE, "aircraft": [{"hex": "a", "lat": 35.7, "lon": -78.7, "seen": 0.1}]},
        {"now": BASE + 60, "aircraft": [{"hex": "a", "lat": 35.71, "lon": -78.7, "seen": 0.1}]},
        {"now": BASE + 10000, "aircraft": [{"hex": "zz", "lat": 0.0, "lon": 0.0, "seen": 0.1}]},
    ]
    for i, snap in enumerate(snaps):
        with open(os.path.join(tape, f"s{i}.json"), "w") as f:
            json.dump(snap, f)
    run_to_memory(stream_trips(read_snapshot_stream(spark, tape), CFG), "edge_trips")
    rows = [r for r in spark.table("edge_trips").collect() if r["flight_id"] == "a"]
    assert len(rows) == 1
    assert rows[0]["n_obs"] == 2


def test_stream_equals_batch_trips(spark, tmp_path):
    tape = str(tmp_path / "tape2")
    os.makedirs(tape)
    _write_tape(tape)

    # streaming path: session_window over the file-source stream
    stream = read_snapshot_stream(spark, tape)
    run_to_memory(stream_trips(stream, CFG), "trips_stream")
    got = {
        (r["flight_id"], r["start_sec"]): (r["end_sec"], r["n_obs"], r["callsign"])
        for r in spark.table("trips_stream").collect()
        if r["flight_id"] != "zz"
    }

    # batch path: the W5 lag-cumsum operators on the same tape
    obs = read_snapshot_batch(spark, tape)
    batch = S.trips(
        S.with_session_id(K.with_distance_home(obs, CFG), CFG), CFG
    )
    want = {
        (r["flight_id"], r["start_sec"]): (r["end_sec"], r["n_obs"], r["callsign"])
        for r in batch.collect()
        if r["flight_id"] != "zz"
    }

    assert got == want
    # plane a: [0-40], [150-170], [300]; plane b: [0-40], [150-170] — every
    # >60 s silence gap closes a trip on both paths
    assert len(want) == 5


def test_stream_trips_independent_of_state_partitions(spark, tmp_path):
    """The trip query's state partition count is a cost choice, not a
    semantic one: the same tape drained in 5-file micro-batches gives the
    same trips with 1 state partition (what `run` uses) and with 4, and
    both equal the batch trips of the closed sessions."""
    from airstrik_py_spark.__main__ import _trips
    from airstrik_py_spark.sources.snapshot import SNAPSHOT_SCHEMA, flatten_snapshots
    from airstrik_py_spark.streaming.pipeline import session_conf

    tape = str(tmp_path / "parts_tape")
    os.makedirs(tape)
    # 12 planes, a snapshot every 20 s; each plane sits out one block of
    # five snapshots in three (a 120 s gap > remember), so trips close
    # mid-tape and state carries across micro-batches
    for i in range(30):
        aircraft = [
            {"hex": f"p{j:02d}", "flight": f"F{j}", "lat": 35.6 + 0.01 * i + 0.02 * j,
             "lon": -78.8 + 0.01 * j, "alt_geom": 400.0 + 50 * j, "seen": 0.1}
            for j in range(12)
            if (i // 5 + j) % 3
        ]
        with open(os.path.join(tape, f"snap_{i:04d}.json"), "w") as f:
            json.dump({"now": BASE + 20 * i, "aircraft": aircraft}, f)
    with open(os.path.join(tape, "snap_9999.json"), "w") as f:
        json.dump({"now": BASE + 10000, "aircraft": [{"hex": "zz", "lat": 0.0, "lon": 0.0, "seen": 0.1}]}, f)
    cols = ["flight_id", "start_sec", "end_sec", "n_obs", "callsign", "closest_dist", "closest_sec"]

    def drain(partitions: str, name: str) -> tuple[int, list]:
        stream = flatten_snapshots(
            spark.readStream.schema(SNAPSHOT_SCHEMA).option("maxFilesPerTrigger", 5).json(tape)
        )
        with session_conf(spark, "spark.sql.shuffle.partitions", partitions):
            q = (
                stream_trips(stream, CFG)
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        parts = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
        return parts, sorted(tuple(r) for r in spark.table(name).select(*cols).collect())

    before = spark.conf.get("spark.sql.shuffle.partitions")
    one = drain("1", "trips_parts_1")
    four = drain("4", "trips_parts_4")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert (one[0], four[0]) == (1, 4)
    assert one[1] == four[1]

    batch = _trips(read_snapshot_batch(spark, tape), CFG).filter("flight_id <> 'zz'")
    assert one[1] == sorted(tuple(r) for r in batch.select(*cols).collect())
    assert len(one[1]) > 12  # most planes close more than one trip


def test_stream_store_rollup_equals_batch_daily_stats(spark, tmp_path):
    """S6 streaming deployment shape: the trips stream drives the day-keyed
    stats upsert, and the stats store == daily_stats over batch trips."""
    from airstrik_py_spark.operators import kinematics as K
    from airstrik_py_spark.operators import sessions as S
    from airstrik_py_spark.operators.stats import daily_stats
    from airstrik_py_spark.sources.snapshot import read_snapshot_batch
    from airstrik_py_spark.streaming.pipeline import stats_upsert_foreach_batch

    tape = str(tmp_path / "tape_s6")
    os.makedirs(tape)
    _write_tape(tape)
    stats_store = str(tmp_path / "stats_store")
    q = (
        stream_trips(read_snapshot_stream(spark, tape), CFG)
        .writeStream.outputMode("append")
        .foreachBatch(
            stats_upsert_foreach_batch(str(tmp_path / "trips_store"), stats_store, CFG)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_s6"))
        .start()
    )
    q.awaitTermination()

    # planes and trips only: the stream's `alarmed` is the per-event
    # approximation (stream_trips docstring), not the batch sticky flag
    got = {day: c[:2] for day, c in _stats_rows(spark, stats_store).items()}
    # the sentinel plane's session is still open at tape end: the stream
    # never emits it (reference never-closed-at-shutdown behavior), so the
    # batch side excludes it for the comparison
    obs = read_snapshot_batch(spark, tape).filter(F.col("hex") != "zz")
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    batch_trips = S.trips(sess, CFG).select(
        "flight_id", "end_sec", F.col("alarmed")
    )
    want = {
        r["day"]: (r["unique_planes"], r["total_trips"])
        for r in daily_stats(batch_trips, CFG).collect()
    }
    assert got
    assert got == want


def test_snapshot_corrupt_quarantine(spark, tmp_path):
    """A malformed snapshot must land in quarantine with its raw payload,
    not silently vanish (the plain read's NULL-array explode drops it) and
    not kill the read (the reference's json.load would raise)."""
    import json as _json
    import os as _os

    from airstrik_py_spark.sources.snapshot import (
        read_snapshot_batch,
        read_snapshot_batch_quarantined,
    )

    tape = str(tmp_path / "qtape")
    _os.makedirs(tape)
    good = {
        "now": 1700000000.0,
        "aircraft": [{"hex": "a", "lat": 35.0, "lon": -78.0, "seen": 0.1}],
    }
    with open(f"{tape}/s0.json", "w") as f:
        _json.dump(good, f)
    with open(f"{tape}/s1.json", "w") as f:
        f.write('{"now": 1700000010.0, "aircraft": [BROKEN')

    obs, quarantine = read_snapshot_batch_quarantined(spark, tape)
    assert obs.count() == 1 and obs.collect()[0]["hex"] == "a"
    qrows = quarantine.collect()
    assert len(qrows) == 1
    assert "BROKEN" in qrows[0]["raw_payload"]
    assert qrows[0]["src_file"].endswith("s1.json")

    # the plain read silently drops the corrupt snapshot — same good rows
    assert read_snapshot_batch(spark, tape).count() == 1

    # ADVICE r7: a PRIOR call's quarantine frame stays valid after a newer
    # call (the r6 cache-eviction scheme uncached it, and the pruned
    # re-read then raised QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    _obs2, q2 = read_snapshot_batch_quarantined(spark, tape)
    assert q2.count() == 1
    assert len(quarantine.collect()) == 1

    # r8 review: corruption CONFINED to the aircraft column (well-formed
    # JSON, string where lat should be a double) must also quarantine —
    # a pruned {now, _corrupt_record} quarantine scan never parses
    # aircraft, so such records would vanish from BOTH outputs
    with open(f"{tape}/s2.json", "w") as f:
        _json.dump(
            {"now": 1700000020.0, "aircraft": [{"hex": "b", "lat": "oops"}]}, f
        )
    obs3, q3 = read_snapshot_batch_quarantined(spark, tape)
    assert obs3.count() == 1  # still only the good snapshot's row
    q3rows = {r["src_file"].rsplit("/", 1)[-1] for r in q3.collect()}
    assert q3rows == {"s1.json", "s2.json"}

    # ADVICE r8: past the driver cap the read FAILS LOUDLY instead of
    # OOMing the driver mid-incident
    import pytest as _pytest

    from airstrik_py_spark.sources import snapshot as snap_mod

    orig_cap = snap_mod.QUARANTINE_DRIVER_CAP
    snap_mod.QUARANTINE_DRIVER_CAP = 1
    try:
        with _pytest.raises(RuntimeError, match="quarantine exceeds"):
            read_snapshot_batch_quarantined(spark, tape)
    finally:
        snap_mod.QUARANTINE_DRIVER_CAP = orig_cap


def _store_key_rows(spark, store: str) -> dict:
    """(flight_id, start_sec) -> (end_sec, n_obs, epoch) for every row in
    the idempotent trips store, asserting key uniqueness on the way."""
    rows = spark.read.parquet(store).collect()
    out = {}
    for r in rows:
        k = (r["flight_id"], r["start_sec"])
        assert k not in out, f"duplicate trip {k} in store"
        out[k] = (r["end_sec"], r["n_obs"], r["_epoch"])
    return out


def test_idempotent_store_survives_crash_replay(spark, tmp_path):
    """VERDICT r11 #7: exercise the exactly-once claim under an actual
    failure, not just argue it.  foreachBatch is at-least-once: if the
    process dies AFTER the sink write but BEFORE the checkpoint commit,
    restart re-executes the same epoch with the same data.  Simulate
    exactly that window by deleting the checkpoint's commits/<last> marker
    (offsets/<last> stays — the batch is planned but uncommitted) and
    restarting the stream: Spark re-runs the final batch, the writer
    overwrites its own epoch partition, and the store must come out
    IDENTICAL — zero duplicate trips."""
    from airstrik_py_spark.streaming.pipeline import (
        foreach_batch_idempotent_parquet,
    )

    tape = str(tmp_path / "tape_crash")
    os.makedirs(tape)
    _write_tape(tape)
    store = str(tmp_path / "trips_store_crash")
    ckpt = str(tmp_path / "ckpt_crash")

    def run_stream():
        q = (
            stream_trips(read_snapshot_stream(spark, tape), CFG)
            .writeStream.outputMode("append")
            .foreachBatch(foreach_batch_idempotent_parquet(store))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_stream()
    before = _store_key_rows(spark, store)
    assert len(before) == 5  # the tape's five closed trips landed

    # crash window: last batch's sink write happened (parquet partition
    # exists) but the commit marker is gone
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", last))
    # the local FS keeps a Hadoop checksum sidecar next to the marker; a
    # crash before commit would have written neither, and a stale .crc
    # makes the recovery rename fail as a concurrent-query conflict
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run_stream()  # recovery: re-executes epoch `last` against the store
    after = _store_key_rows(spark, store)
    assert after == before  # same keys, same values, zero duplicates
    # and the re-run really happened: the commit marker is back
    assert last in os.listdir(os.path.join(ckpt, "commits"))


def test_idempotent_store_manual_epoch_replay(spark, tmp_path):
    """Same contract, driven directly: invoking the foreachBatch writer
    twice with one epoch_id (Spark's retry shape) must overwrite, never
    append — and a RETRY WITH FEWER ROWS (a task that partially wrote,
    then the batch replanned) must leave exactly the retry's rows."""
    from airstrik_py_spark.streaming.pipeline import (
        foreach_batch_idempotent_parquet,
    )

    store = str(tmp_path / "store_manual")
    write = foreach_batch_idempotent_parquet(store)
    df = spark.createDataFrame(
        [("f1", 1.0, 2.0, 3), ("f2", 4.0, 5.0, 6)],
        "flight_id string, start_sec double, end_sec double, n_obs int",
    )
    write(df, 0)
    write(df, 0)  # identical retry
    assert len(_store_key_rows(spark, store)) == 2
    write(df.limit(1), 0)  # replanned retry with a subset
    assert len(_store_key_rows(spark, store)) == 1
    write(df, 1)  # a NEW epoch appends normally
    assert len(spark.read.parquet(store).collect()) == 3


def _stats_rows(spark, stats_store: str) -> dict:
    """day -> counters from the stats store, asserting one row per day on
    the way (the reference's dup-key crash shape, airstrik.py:677-685)."""
    rows = spark.read.parquet(stats_store).collect()
    out = {}
    for r in rows:
        assert r["_id"] not in out, f"duplicate stats row for day {r['_id']}"
        out[r["_id"]] = (
            r["unique_planes"], r["total_trips"],
            r["unique_alarm_planes"], r["total_alarm_trips"],
        )
    return out


def test_stats_upsert_survives_batch_replay(spark, tmp_path):
    """VERDICT r12 #6: the daily-stats upsert path under replay.  The
    reference re-INSERTs an existing day's stats document on restart and
    dies on the duplicate key (airstrik.py:677-685); our day-partition
    REPLACE must instead converge.  Replay the same crash window as the
    trips-store test (delete the last commit marker, restart): the stats
    store must come out IDENTICAL — one row per day, no dup-key shape —
    and equal the batch daily_stats over the same trips."""
    from airstrik_py_spark.operators.stats import daily_stats
    from airstrik_py_spark.streaming.pipeline import stats_upsert_foreach_batch

    tape = str(tmp_path / "tape_stats_replay")
    os.makedirs(tape)
    _write_tape(tape)
    trips_store = str(tmp_path / "trips_store_stats")
    stats_store = str(tmp_path / "stats_store")
    ckpt = str(tmp_path / "ckpt_stats")

    def run_stream():
        q = (
            stream_trips(read_snapshot_stream(spark, tape), CFG)
            .writeStream.outputMode("append")
            .foreachBatch(
                stats_upsert_foreach_batch(trips_store, stats_store, CFG)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_stream()
    before = _stats_rows(spark, stats_store)
    assert before  # the tape's closed trips produced at least one day row

    # crash window: sink writes landed, commit marker didn't
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    last = commits[-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    run_stream()  # recovery re-executes epoch `last` through the upsert
    after = _stats_rows(spark, stats_store)
    assert after == before  # converged, not collided

    # and the store agrees with the batch rollup over the stored trips
    trips = spark.read.parquet(trips_store)
    want = {
        r["day"]: (
            r["unique_planes"], r["total_trips"],
            r["unique_alarm_planes"], r["total_alarm_trips"],
        )
        for r in daily_stats(
            trips.select("flight_id", "end_sec", "alarmed"), CFG
        ).collect()
    }
    assert after == want


def test_stats_upsert_manual_epoch_replay(spark, tmp_path):
    """Driven directly: the same epoch_id replayed through the stats
    writer must REPLACE its day partitions, and a second epoch adding
    trips to an already-written day must update that day's counters in
    place (the upsert the reference's insert-only flush lacked)."""
    from airstrik_py_spark.streaming.pipeline import stats_upsert_foreach_batch

    trips_store = str(tmp_path / "ts_manual")
    stats_store = str(tmp_path / "ss_manual")
    write = stats_upsert_foreach_batch(trips_store, stats_store, CFG)
    day0 = 1700000000.0  # 2023-11-14 UTC-4
    df = spark.createDataFrame(
        [("f1", day0 - 50.0, day0, 3, False), ("f2", day0 - 9.0, day0 + 1.0, 6, True)],
        "flight_id string, start_sec double, end_sec double, n_obs int, alarmed boolean",
    )
    write(df, 0)
    write(df, 0)  # identical retry: replace, not append
    first = _stats_rows(spark, stats_store)
    assert list(first.values()) == [(2, 2, 1, 1)]
    # a later epoch closes another trip on the SAME day: counters move
    df2 = spark.createDataFrame(
        [("f3", day0 + 10.0, day0 + 20.0, 2, False)],
        "flight_id string, start_sec double, end_sec double, n_obs int, alarmed boolean",
    )
    write(df2, 1)
    assert list(_stats_rows(spark, stats_store).values()) == [(3, 3, 1, 1)]


def test_stats_upsert_touched_day_with_no_rollup_row_zeroed(spark, tmp_path):
    """ADVICE r13: the writer iterates the batch's TOUCHED days, not the
    rollup rows, so a touched day absent from the rollup gets its stats
    partition overwritten with zero rows instead of keeping stale
    counters.  daily_stats covers every stored trip, so the branch fires
    only on degenerate input — a trip with NULL end_sec maps to a null
    day the rollup's isin() filter drops.  Pre-seed that day's partition
    with a stale row and prove the writer replaces it with nothing."""
    from airstrik_py_spark.streaming.pipeline import stats_upsert_foreach_batch

    trips_store = str(tmp_path / "ts_zero")
    stats_store = str(tmp_path / "ss_zero")
    schema = (
        "_id string, unique_planes long, total_trips long, "
        "unique_alarm_planes long, total_alarm_trips long"
    )
    # stale counters sitting in the partition the degenerate day maps to
    spark.createDataFrame([("None", 9, 9, 9, 9)], schema).coalesce(
        1
    ).write.parquet(f"{stats_store}/day=None")

    write = stats_upsert_foreach_batch(trips_store, stats_store, CFG)
    day0 = 1700000000.0
    df = spark.createDataFrame(
        [
            ("f1", day0 - 50.0, day0, 3, False),
            ("f2", day0 - 9.0, None, 2, False),  # NULL end_sec -> null day
        ],
        "flight_id string, start_sec double, end_sec double, n_obs int, alarmed boolean",
    )
    write(df, 0)
    rows = _stats_rows(spark, stats_store)
    # the real day has its counters (from the valid trip only); the
    # degenerate day's stale row is GONE, not preserved
    assert list(rows.values()) == [(1, 1, 0, 0)]
    assert "None" not in rows


def test_stats_upsert_replay_dropping_a_day_zeroes_it(spark, tmp_path):
    """ADVICE r14: a replayed epoch whose redelivered batch no longer
    contains day D's trips (present only in the PREVIOUS delivery of the
    same epoch) must still rewrite D's stats partition — the writer
    unions the batch's days with the days in the epoch partition being
    replaced, so D converges to the store state (no trips -> no row)
    instead of keeping the first delivery's counters."""
    from airstrik_py_spark.streaming.pipeline import stats_upsert_foreach_batch

    trips_store = str(tmp_path / "ts_replay_drop")
    stats_store = str(tmp_path / "ss_replay_drop")
    write = stats_upsert_foreach_batch(trips_store, stats_store, CFG)
    day0 = 1700000000.0  # 2023-11-14 UTC-4
    day1 = day0 + 86400.0  # next calendar day
    both = spark.createDataFrame(
        [
            ("f1", day0 - 50.0, day0, 3, False),
            ("f2", day1 - 9.0, day1, 6, True),
        ],
        "flight_id string, start_sec double, end_sec double, n_obs int, alarmed boolean",
    )
    write(both, 0)
    assert len(_stats_rows(spark, stats_store)) == 2
    # redelivery of epoch 0 lost the day1 trip entirely
    only_day0 = both.filter("flight_id = 'f1'")
    write(only_day0, 0)
    rows = _stats_rows(spark, stats_store)
    assert list(rows.values()) == [(1, 1, 0, 0)]  # day0 counters intact
    assert len(rows) == 1  # day1's stale partition was zeroed, not kept
