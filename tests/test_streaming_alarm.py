"""Live alarm path: snapshot stream -> foreachBatch kinematics + dead
reckoning -> payload sink (the reference's per-update alarm loop,
airstrik.py:697).

The tape is replayed with every snapshot in one micro-batch and with one
snapshot per micro-batch (the live cadence).  The second split loses the
warning: the kinematics look back only inside a micro-batch (ROADMAP
item 1), so that case is a strict xfail until the lookback spans batches."""

from __future__ import annotations

import json
import os
import threading

import pytest

from airstrik_py_spark.config import REFERENCE
from airstrik_py_spark.sources.snapshot import SNAPSHOT_SCHEMA, flatten_snapshots
from airstrik_py_spark.streaming.pipeline import alarm_foreach_batch

BASE = 1700000000.0


@pytest.mark.parametrize(
    "max_files",
    [
        pytest.param(
            1,
            marks=pytest.mark.xfail(
                strict=True,
                reason="ROADMAP item 1: per-batch kinematics lose cross-batch lookback",
            ),
        ),
        None,
    ],
    ids=["1", "all"],
)
def test_stream_alarm_payloads(spark, tmp_path, max_files):
    tape = str(tmp_path / "tape")
    os.makedirs(tape)
    # one plane diving toward home fast enough to trigger a warning
    for i, lat in enumerate([35.727 - 0.20, 35.727 - 0.12]):
        snap = {
            "now": BASE + 30 * i,
            "aircraft": [
                {"hex": "aa", "flight": "DAL1", "lat": lat, "lon": -78.696,
                 "alt_geom": 500.0, "seen": 0.1}
            ],
        }
        with open(os.path.join(tape, f"s{i}.json"), "w") as f:
            json.dump(snap, f)

    captured = []

    def sink(pay_df, epoch_id):
        captured.extend(pay_df.collect())

    reader = spark.readStream.schema(SNAPSHOT_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    q = (
        flatten_snapshots(reader.json(tape))
        .writeStream.foreachBatch(alarm_foreach_batch(REFERENCE, sink))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    warnings = [r for r in captured if r["topic"] == "airstrik-warning"]
    assert warnings, f"expected a warning payload, got {captured}"
    w = warnings[-1]
    assert w["plane_hex"] == "aa"
    assert 0 < w["eta"] <= REFERENCE.think_ahead
    assert w["plane_id"] == "DAL1"


def test_empty_batch_hands_sink_an_empty_payload(spark, tmp_path):
    """A snapshot with no aircraft makes an empty micro-batch: the callback
    must run the composition without error and hand the sink zero rows."""
    tape = tmp_path / "tape"
    os.makedirs(tape)
    (tape / "s0.json").write_text(json.dumps({"now": BASE, "aircraft": []}))
    calls = []

    def sink(pay_df, epoch_id):
        calls.append((epoch_id, pay_df.collect()))

    batch = flatten_snapshots(spark.read.schema(SNAPSHOT_SCHEMA).json(str(tape)))
    alarm_foreach_batch(REFERENCE, sink)(batch, 0)
    assert calls == [(0, [])]


def _plane_batch(spark, path, t0, planes):
    """A batch frame of two snapshots 20 s apart: each plane in `planes`,
    (hex, lat, lon, alt), moves 0.04 deg north between them, so the
    kinematics have a lookback inside the batch and near planes make
    warnings as well as alerts."""
    os.makedirs(path)
    for i in range(2):
        ac = [
            {"hex": h, "flight": f"F{h}", "lat": lat + 0.04 * i, "lon": lon,
             "alt_geom": alt, "seen": 0.1}
            for h, lat, lon, alt in planes
        ]
        (path / f"s{i}.json").write_text(json.dumps({"now": t0 + 20 * i, "aircraft": ac}))
    return flatten_snapshots(spark.read.schema(SNAPSHOT_SCHEMA).json(str(path)))


def _three_batches(spark, tmp_path):
    """Two plane batches with an empty snapshot between them."""
    first = _plane_batch(
        spark, tmp_path / "b0", BASE,
        [("aa", 35.55, -78.696, 500.0), ("ab", 35.70, -78.69, 800.0),
         ("ac", 36.40, -78.10, 9000.0), ("ad", 35.60, -78.70, None)],
    )
    (tmp_path / "b1").mkdir()
    (tmp_path / "b1" / "s0.json").write_text(json.dumps({"now": BASE + 60, "aircraft": []}))
    empty = flatten_snapshots(spark.read.schema(SNAPSHOT_SCHEMA).json(str(tmp_path / "b1")))
    second = _plane_batch(
        spark, tmp_path / "b2", BASE + 90,
        [("aa", 35.65, -78.696, 500.0), ("ba", 35.72, -78.70, 300.0),
         ("bb", 35.50, -78.60, 700.0)],
    )
    return [first, empty, second]


def _payloads(pay_df):
    return pay_df.columns, sorted(tuple(r) for r in pay_df.collect())


def test_prebuilt_columns_carry_no_per_batch_state(spark, tmp_path):
    """One callback run over three consecutive batches gives, for each
    batch, what a fresh callback and the slug composition give on it."""
    from airstrik_py_spark.operators.alarm import alarm_payload, dead_reckoning, latest_fix

    batches = _three_batches(spark, tmp_path)
    seen = {}

    def sink(pay_df, epoch_id):
        seen[epoch_id] = _payloads(pay_df)

    callback = alarm_foreach_batch(REFERENCE, sink)
    for epoch, batch in enumerate(batches):
        callback(batch, epoch)

    topics = set()
    for epoch, batch in enumerate(batches):
        fresh = {}
        alarm_foreach_batch(REFERENCE, lambda df, e: fresh.update(p=_payloads(df)))(batch, epoch)
        composed = _payloads(
            alarm_payload(dead_reckoning(latest_fix(batch, REFERENCE), REFERENCE), REFERENCE)
        )
        assert seen[epoch] == fresh["p"] == composed
        topics |= {row[-1] for row in seen[epoch][1]}
    assert seen[1][1] == []
    assert topics == {"airstrik-alert", "airstrik-warning"}


def test_alarm_callback_build_round_trips(spark, tmp_path, monkeypatch):
    """From callback entry to the sink call, a batch applies prebuilt
    Columns: a bounded number of py4j round trips, independent of how
    many Column calls the composition is written with.  Counted on the
    second of two batches, so one-time setup is not in the budget, and in
    this thread only: py4j's finalizer thread releases JVM references to
    earlier tests' garbage in the background."""
    from py4j.clientserver import ClientServerConnection

    batches = _three_batches(spark, tmp_path)[::2]
    sent = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == caller:
            sent[0] += 1
        return send(self, *args, **kwargs)

    at_sink = []
    callback = alarm_foreach_batch(REFERENCE, lambda df, e: at_sink.append(sent[0]))
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    for epoch, batch in enumerate(batches):
        sent[0] = 0
        callback(batch, epoch)
    assert len(at_sink) == 2
    assert at_sink[1] <= 250, f"{at_sink[1]} py4j round trips to build one batch"
