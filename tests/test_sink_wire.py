"""Wire-contract test for the Kafka sink (VERDICT r10 #4).

No broker runs under the tests, so the writer CHAIN is captured with a
recording stub patched over DataFrame.write: the test pins exactly what
write_kafka would put on the wire — format, options and the full record
content, which must be the kafka_records golden bytes.  A drift in either
the payload serialization or the writer wiring fails here without any
broker.
"""

from __future__ import annotations

import json

import pyspark.sql
import pytest

from airstrik_py_spark import sinks
from tests.test_sinks_repl import KAFKA_PAYLOAD_SCHEMA


class _RecordingWriter:
    """Stand-in for DataFrameWriter: records the chain, collects the frame
    at save() so content is asserted exactly as it would be sent."""

    captured: list["_RecordingWriter"] = []

    def __init__(self, df):
        self.df = df
        self.fmt = None
        self.opts = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def save(self):
        self.rows = self.df.collect()
        _RecordingWriter.captured.append(self)


@pytest.fixture()
def capture_writes(monkeypatch):
    _RecordingWriter.captured = []
    # patch the CONCRETE class: in PySpark 4 classic mode df.write resolves
    # on pyspark.sql.classic.dataframe.DataFrame, not the abstract base
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ConcreteDF
    except ImportError:  # older pyspark: one DataFrame class
        _ConcreteDF = pyspark.sql.DataFrame
    monkeypatch.setattr(_ConcreteDF, "write", property(_RecordingWriter))
    return _RecordingWriter.captured


def test_write_kafka_wire(spark, capture_writes):
    """write_kafka must route payloads THROUGH kafka_records (key/value/
    topic golden bytes) and configure the kafka source with the broker."""
    pay = spark.createDataFrame(
        [
            ("abc123", "AAL1", 1700000000.25, 90.5, 500.25, None,
             35.7, -78.7, 8.5, 0, "airstrik-alert"),
            ("def456", "", 1700000010.0, 180.0, 420.0, 3500.0,
             35.81, -78.61, 15.25, 12, "airstrik-warning"),
        ],
        KAFKA_PAYLOAD_SCHEMA,
    )
    sinks.write_kafka(pay, "broker:9092")
    assert len(capture_writes) == 1
    w = capture_writes[0]
    assert w.fmt == "kafka"
    assert w.opts == {"kafka.bootstrap.servers": "broker:9092"}
    recs = {r["topic"]: r for r in w.rows}
    assert all(list(r.asDict()) == ["key", "value", "topic"] for r in w.rows)
    assert recs["airstrik-alert"]["key"] == "abc123"
    assert recs["airstrik-alert"]["value"] == (
        '{"plane_hex":"abc123","plane_id":"AAL1","plane_time":1.70000000025E9,'
        '"heading":90.5,"speed":500.25,"altitude":"unknown","latitude":35.7,'
        '"longitude":-78.7,"distance":8.5}'
    )
    assert recs["airstrik-warning"]["key"] == "def456"
    assert "eta" in json.loads(recs["airstrik-warning"]["value"])
    assert "eta" not in json.loads(recs["airstrik-alert"]["value"])

