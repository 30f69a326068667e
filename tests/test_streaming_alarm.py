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
