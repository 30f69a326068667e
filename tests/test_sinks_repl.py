"""Sink writers, kafka record serialization, REPL dispatch, decimation
counter."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators import kinematics as K
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.operators.decimation import decimate
from airstrik_py_spark.repl import Repl
from airstrik_py_spark.sinks import kafka_records, write_csv, write_json
from tests.conftest import obs_rows

BASE = 1700000000.0
CFG = EngineConfig(remember_s=1000.0, min_trip_length_s=0.0, decimation_factor=3)


def _obs(spark, n=10):
    # lat AND lon both move: the reference only ever decimation-writes once
    # the sim has run, which needs >= 2 entries in BOTH axis histories
    # (airstrik.py:578-579, 595-600)
    rows = [
        ("a", BASE + 10 * i, "AAL1" if i == 0 else None,
         35.7 + 0.01 * i, -78.7 - 0.001 * i, 0.0, 500.0, 1)
        for i in range(n)
    ]
    return obs_rows(spark, rows)


def test_decimation_every_nth(spark):
    out = decimate(_obs(spark), CFG)
    seqs = sorted(r["update_seq"] for r in out.collect())
    assert seqs == [3, 6, 9]  # every 3rd changed update (airstrik.py:584-626)


def test_decimation_change_gate(spark):
    rows = [("a", BASE + i, None, 35.7, -78.7, 0.0, 500.0, 1) for i in range(9)]
    frozen = obs_rows(spark, rows)  # position never changes
    assert decimate(frozen, CFG).count() == 0  # never 2 fixes -> never eligible


def test_decimation_frozen_after_motion_writes_once(spark):
    """Reference exactness (airstrik.py:612-625): the "if new data" gate
    compares a (value, ts) pair to a scalar — vacuously true — so once two
    moving fixes baseline the state, EVERY eligible packet writes, frozen
    or not (the packet countdown still spaces them every Nth)."""
    cfg = EngineConfig(
        remember_s=1000.0, min_trip_length_s=0.0,
        decimation_factor=3, decimation_force_new_data=False,
    )
    rows = [
        ("a", BASE + 0, None, 35.70, -78.70, 0.0, 500.0, 1),
        ("a", BASE + 10, None, 35.71, -78.71, 0.0, 500.0, 1),
    ] + [
        ("a", BASE + 20 + i, None, 35.71, -78.71, 0.0, 500.0, 1)
        for i in range(12)
    ]
    out = decimate(obs_rows(spark, rows), cfg).collect()
    assert sorted(r["update_seq"] for r in out) == [2, 5, 8, 11, 14]
    # frozen packets re-emit the LAST KNOWN position with its entry ts
    last = max(out, key=lambda r: r["update_seq"])
    assert (last["lat"], last["lon"]) == (35.71, -78.71)
    assert last["lat_sec"] == BASE + 10


def test_decimation_unchanged_packets_burn_countdown(spark):
    """force_new=True: an unchanged packet still decrements the reference's
    tracker (airstrik.py:626), shifting later writes to PACKET cadence, not
    unique-fix cadence."""
    rows = [
        # packets 1-3 move (write at packet 3), packet 4 repeats, 5-6 move
        ("a", BASE + 0, None, 35.70, -78.70, 0.0, 500.0, 1),
        ("a", BASE + 10, None, 35.71, -78.71, 0.0, 500.0, 1),
        ("a", BASE + 20, None, 35.72, -78.72, 0.0, 500.0, 1),
        ("a", BASE + 30, None, 35.72, -78.72, 0.0, 500.0, 1),  # repeat
        ("a", BASE + 40, None, 35.73, -78.73, 0.0, 500.0, 1),
        ("a", BASE + 50, None, 35.74, -78.74, 0.0, 500.0, 1),
    ]
    out = decimate(obs_rows(spark, rows), CFG).collect()
    # n=3: write at packet 3 (tracker->2), packets 4,5 decrement, packet 6
    # eligible + moved -> write.  Unique-fix counting would say packet 7.
    assert [r["update_seq"] for r in out] == [3, 6]


def test_decimation_phase_without_force_new(spark):
    """Without the change gate the first eligible packet writes immediately
    (airstrik.py:612-616): fix #2, then every Nth."""
    cfg = EngineConfig(
        remember_s=1000.0, min_trip_length_s=0.0,
        decimation_factor=3, decimation_force_new_data=False,
    )
    seqs = sorted(r["update_seq"] for r in decimate(_obs(spark), cfg).collect())
    assert seqs == [2, 5, 8]


def test_decimation_factor_zero_closest_only(spark):
    """decimation_factor=0 is the documented closest-only mode
    (config.yaml:7): no per-update samples (and no modulo-by-zero), the
    closest-approach sample is stored instead."""
    from airstrik_py_spark.operators import kinematics as K
    from airstrik_py_spark.operators.decimation import decimate_closest

    cfg = EngineConfig(remember_s=1000.0, min_trip_length_s=0.0, decimation_factor=0)
    obs = K.with_distance_home(_obs(spark), cfg)
    assert decimate(obs, cfg).count() == 0
    closest = decimate_closest(obs, cfg).collect()
    assert len(closest) == 1
    expected = min(obs.collect(), key=lambda r: (r["distance"], r["ts_sec"]))
    assert closest[0]["ts_sec"] == expected["ts_sec"]
    assert closest[0]["distance"] == expected["distance"]


def test_store_roundtrip(spark, tmp_path):
    sess = S.with_session_id(K.with_distance_home(_obs(spark), CFG), CFG)
    trips = S.trips(sess, CFG)
    out = str(tmp_path / "store")
    trips.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == trips.count()
    assert set(back.columns) == set(trips.columns)


def test_csv_and_json_writers(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    write_csv(df, str(tmp_path / "csv"))
    write_json(df, str(tmp_path / "json"))
    assert spark.read.option("header", True).csv(str(tmp_path / "csv")).count() == 2
    assert spark.read.json(str(tmp_path / "json")).count() == 2


KAFKA_PAYLOAD_SCHEMA = (
    "plane_hex string, plane_id string, plane_time double, heading double, "
    "speed double, altitude double, latitude double, longitude double, "
    "distance double, eta long, topic string"
)


def test_kafka_record_contract(spark):
    pay = spark.createDataFrame(
        [("abc123", "AAL1", BASE, 90.0, 500.0, None, 35.7, -78.7, 8.0, 0, "airstrik-alert")],
        KAFKA_PAYLOAD_SCHEMA,
    )
    rec = kafka_records(pay).first()
    assert rec["key"] == "abc123"
    assert rec["topic"] == "airstrik-alert"
    body = json.loads(rec["value"])
    assert body["altitude"] == "unknown"  # README.md:63 missing-alt contract
    assert body["plane_hex"] == "abc123"


def test_kafka_wire_golden_alert_and_warning(spark):
    """Byte-level wire golden for the Kafka value JSON (VERDICT r7 #4;
    contract README.md:57-68, raise_alarm dicts airstrik.py:345-368).
    Pins: alert messages carry NO eta key (README.md:66 — warning-only);
    missing altitude stringifies as 'unknown' (README.md:63); key order is
    the reference dict's insertion order.  Doubles render in Java
    E-notation (json.loads-identical numeric value) — frozen so ANY
    serializer drift fails this test."""
    pay = spark.createDataFrame(
        [
            ("abc123", "AAL1", 1700000000.25, 90.5, 500.25, None,
             35.7, -78.7, 8.5, 0, "airstrik-alert"),
            ("def456", "", 1700000010.0, 180.0, 420.0, 3500.0,
             35.81, -78.61, 15.25, 12, "airstrik-warning"),
        ],
        KAFKA_PAYLOAD_SCHEMA,
    )
    recs = {r["topic"]: r for r in kafka_records(pay).collect()}
    alert, warn = recs["airstrik-alert"], recs["airstrik-warning"]
    assert alert["key"] == "abc123" and warn["key"] == "def456"
    assert alert["value"] == (
        '{"plane_hex":"abc123","plane_id":"AAL1","plane_time":1.70000000025E9,'
        '"heading":90.5,"speed":500.25,"altitude":"unknown","latitude":35.7,'
        '"longitude":-78.7,"distance":8.5}'
    )
    assert warn["value"] == (
        '{"plane_hex":"def456","plane_id":"","plane_time":1.70000001E9,'
        '"heading":180.0,"speed":420.0,"altitude":"3500.0","latitude":35.81,'
        '"longitude":-78.61,"distance":15.25,"eta":12}'
    )
    assert list(json.loads(warn["value"])) == [
        "plane_hex", "plane_id", "plane_time", "heading", "speed",
        "altitude", "latitude", "longitude", "distance", "eta",
    ]
    assert "eta" not in json.loads(alert["value"])


def test_flight_records_document_golden(spark):
    """Exact flight_records document golden (VERDICT r7 #4; assembled
    write airstrik.py:522-543): one hand-built closed trip through
    trip_documents, the full nested document asserted value-for-value —
    this is the BSON/parquet document a Mongo reader sees.  asof_dist 8.5
    matches `close` (10 km) but not `tooclose` (5 km), so the filters map
    carries exactly the matched geofence like match_filters
    (airstrik.py:524-535)."""
    from airstrik_py_spark.sinks import trip_documents

    cfg = EngineConfig(remember_s=1000.0, min_trip_length_s=0.0)
    assembled = spark.createDataFrame(
        [(
            "abc123", "AAL1 (p)", 1700000100.0,
            1700000000.0, 1700000120.0,
            35.7, 1700000110.0,
            -78.7, 1700000111.0,
            800.0, 1700000112.0,
            8.5, 1700000113.0,
        )],
        "flight_id string, trip_name string, asof_flight_sec double, "
        "start_sec double, end_sec double, asof_lat double, asof_lat_sec double, "
        "asof_lon double, asof_lon_sec double, asof_alt double, asof_alt_sec double, "
        "asof_dist double, asof_dist_sec double",
    )
    doc = trip_documents(assembled, cfg).first().asDict(recursive=True)
    assert doc == {
        "flight_id": "abc123",
        "flight_name_id": [{"value": "AAL1 (p)", "ts": 1700000100.0}],
        "lat": {"value": 35.7, "ts": 1700000110.0},
        "lon": {"value": -78.7, "ts": 1700000111.0},
        "alt_geom": {"value": 800.0, "ts": 1700000112.0},
        "distance": {"value": 8.5, "ts": 1700000113.0},
        "extras": {"start_time": 1700000000.0, "end_time": 1700000120.0},
        "filters": {"close": {"dist": 10.0, "alt": 1000.0}},
    }


def test_stats_and_decimated_document_golden(spark):
    """Exact store-document goldens on the frozen sf0.001 fixture
    (VERDICT r7 #4): the daily stats doc (`_id` date string + 4 counters,
    airstrik.py:670-676) and the decimated live-sample doc
    (airstrik.py:601-624)."""
    from airstrik_py_spark.registry.sinks_q import q_sink_mongo_decimated
    from airstrik_py_spark.registry.stats_q import q_sink_stats_daily

    sf = "/root/testdata/sf0.001"
    stats = q_sink_stats_daily(spark, sf).orderBy("_id").first().asDict()
    assert stats == {
        "_id": "2023-12-31",
        "unique_planes": 1,
        "total_trips": 1,
        "unique_alarm_planes": 0,
        "total_alarm_trips": 0,
    }
    dec = (
        q_sink_mongo_decimated(spark, sf)
        .orderBy("flight_id", "lat_sec")
        .first()
        .asDict()
    )
    assert dec == {
        "flight_id": "0",
        "lat_value": 35.3,
        "lat_sec": 1705496097.878354,
        "lon_value": -78.685,
        "lon_sec": 1705496097.878354,
    }


def test_repl_dispatch(spark, tmp_path):
    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    trips = S.trips(sess, CFG)
    repl = Repl(spark, obs, trips)

    listing = repl.execute("list")[0].collect()
    assert listing[0]["flight_id"] == "a" and listing[0]["n_trips"] == 1

    found = repl.execute("search lat>35.74 & dump " + str(tmp_path / "dump"))[0]
    assert found.count() == 1  # plane a matches
    assert spark.read.json(str(tmp_path / "dump")).count() > 0


@pytest.mark.parametrize(
    "line", ["drop", "search lat>35.74 & dump", "list & "], ids=["drop", "dump", "empty"]
)
def test_repl_usage_errors(spark, line):
    """A missing argument or an empty statement is a ValueError with a
    usage message (which `repl --command` prints), not an IndexError or a
    tuple-unpacking error."""
    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    repl = Repl(spark, obs, S.trips(sess, CFG))
    with pytest.raises(ValueError, match=r"^(usage: |empty statement)"):
        repl.execute(line)


def test_repl_use_and_reset(spark):
    """use/reset parity (dbread.py:170-175, 62-76): database switching plus
    the consent-gated drop-all."""
    from airstrik_py_spark.repl import RESET_CONSENT

    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    trips = S.trips(sess, CFG)
    answers = []
    repl = Repl(spark, obs, trips, input_fn=lambda prompt: answers.pop(0))

    assert repl.execute("use")[0].first()["current_db"] == "default"
    assert repl.execute("use jun9_1090")[0].first()["current_db"] == "jun9_1090"
    assert "jun9_1090" in [d.name for d in spark.catalog.listDatabases()]

    # wrong consent sentence -> nothing dropped
    answers.append("yes please")
    assert repl.execute("reset")[0].first()["status"] == "Does not match."
    assert "jun9_1090" in [d.name for d in spark.catalog.listDatabases()]

    # exact consent -> non-default databases gone, back on default
    answers.append(RESET_CONSENT)
    assert repl.execute("reset")[0].first()["current_db"] == "default"
    assert "jun9_1090" not in [d.name for d in spark.catalog.listDatabases()]

    # the REPL stays usable after reset: base views re-registered empty
    assert repl.execute("list")[0].count() == 0


def test_repl_drop_confirmation(spark):
    """drop requires re-typing the name (drop_command, dbread.py:155-168)."""
    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    trips = S.trips(sess, CFG)
    answers = []
    repl = Repl(spark, obs, trips, input_fn=lambda prompt: answers.pop(0))

    spark.range(1).createOrReplaceTempView("probe_view")
    answers.append("wrong_name")
    assert repl.execute("drop probe_view")[0].first()["status"] == "abort"
    assert any(t.name == "probe_view" for t in spark.catalog.listTables())
    answers.append("probe_view")
    repl.execute("drop probe_view")
    assert not any(t.name == "probe_view" for t in spark.catalog.listTables())
    answers.append("no_such_thing")
    out = repl.execute("drop no_such_thing")[0].first()["status"]
    assert out.startswith("ERR")

    # a PERMANENT catalog table must really be dropped too (not the silent
    # dropTempView no-op)
    spark.sql("DROP TABLE IF EXISTS perm_probe")
    spark.range(3).write.mode("overwrite").saveAsTable("perm_probe")
    answers.append("perm_probe")
    repl.execute("drop perm_probe")
    assert not any(t.name == "perm_probe" for t in spark.catalog.listTables())


def test_trip_documents_nested_schema(spark, tmp_path):
    """FIXTURES.md A3 golden shape: pair structs, extras, filters map."""
    from airstrik_py_spark.config import EngineConfig
    from airstrik_py_spark.sinks import trip_documents

    cfg = EngineConfig(remember_s=1000.0, min_trip_length_s=0.0)
    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, cfg), cfg)
    assembled = S.trips(sess, cfg).withColumn(
        "trip_name", F.col("callsign")
    )
    docs = trip_documents(assembled, cfg)
    # schema shape
    s = dict(docs.dtypes)
    assert s["lat"] == "struct<value:double,ts:double>"
    assert s["extras"] == "struct<start_time:double,end_time:double>"
    assert s["filters"] == "map<string,struct<dist:double,alt:double>>"
    assert s["flight_name_id"].startswith("array<struct<value:string")
    row = docs.first()
    assert row["extras"]["start_time"] <= row["extras"]["end_time"]
    assert row["lat"]["value"] is not None
    # parquet round-trip preserves nesting
    out = str(tmp_path / "docs")
    docs.write.parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes) == s


def test_decimate_zero_mode_schema_matches_live_branch(spark):
    """Review fix: the factor=0 empty frame derives from the real plan, so
    its schema is identical to the live branch's by construction."""
    from airstrik_py_spark.config import EngineConfig
    from airstrik_py_spark.operators.decimation import decimate
    from tests.conftest import obs_rows

    rows = [("a", 1000.0 + i, None, 35.7 + 0.01 * i, -78.7, 0.0, 500.0, 1) for i in range(4)]
    df = obs_rows(spark, rows)
    live = decimate(df, EngineConfig(remember_s=60.0, min_trip_length_s=0.0, decimation_factor=2))
    zero = decimate(df, EngineConfig(remember_s=60.0, min_trip_length_s=0.0, decimation_factor=0))
    assert zero.schema == live.schema
    assert zero.count() == 0


def test_ddl_drop_reset_lifecycle_rows(spark):
    """S10 (dbread.py:62-76, 157-169): the reshaped reset cycle creates the
    three collection analogs, drops them all, and reports a deterministic
    all-green lifecycle — the static shape its DuckDB oracle pins."""
    from airstrik_py_spark.registry.sinks_q import (
        DDL_PROBE_OBJECTS,
        q_ddl_drop_reset,
    )

    rows = q_ddl_drop_reset(spark, "/root/testdata/sf0.001").collect()
    assert [(r["object"], r["created"], r["verified_gone"]) for r in rows] == [
        (n, True, True) for n in DDL_PROBE_OBJECTS
    ]
    # and the probes really are gone from the live catalog
    names = {t.name for t in spark.catalog.listTables()}
    assert not (set(DDL_PROBE_OBJECTS) & names)


def test_legacy_commentary_passthrough(spark, tmp_path):
    """r6 (VERDICT r4 #8): a legacy store's `commentary` field rides trip
    assembly into the REPL plane view (dbread.py:48 prints it per trip) and
    is SKIPPED by csv export (csvdump.py:89's legacy-db skip rule); a
    non-legacy schema is untouched."""
    legacy = _obs(spark).withColumn(
        "commentary", F.lit("logged by legacy collector")
    )
    sess = S.with_session_id(K.with_distance_home(legacy, CFG), CFG)
    trips = S.trips(sess, CFG)
    assert "commentary" in trips.columns

    repl = Repl(spark, legacy, trips)
    plane = repl.execute("plane a")[0].collect()
    assert plane[0]["trip"] == 1
    assert plane[0]["commentary"] == "logged by legacy collector"

    # csv export mirrors csvdump.py:89 and drops the field
    out_dir = str(tmp_path / "legacy_csv")
    write_csv(trips, out_dir)
    back = spark.read.option("header", True).csv(out_dir)
    assert "commentary" not in back.columns
    assert back.count() == trips.count()

    # trip_documents carries it top-level (where dbread reads it)
    from airstrik_py_spark.sinks import trip_documents

    assembled = S.trips(sess, CFG).withColumn(
        "trip_name", F.col("callsign")
    )
    assert "commentary" in assembled.columns
    docs = trip_documents(assembled, CFG)
    assert "commentary" in docs.columns
    assert docs.collect()[0]["commentary"] == "logged by legacy collector"

    # non-legacy input: no commentary column materializes anywhere
    plain_trips = S.trips(
        S.with_session_id(K.with_distance_home(_obs(spark), CFG), CFG), CFG
    )
    assert "commentary" not in plain_trips.columns
    repl2 = Repl(spark, _obs(spark), plain_trips)
    plane2 = repl2.execute("plane a")[0].collect()
    assert plane2[0]["commentary"] is None


def test_repl_list_variants_packet_exit(spark):
    """dbread parity: `list db` lists databases, `list db/<name>` lists
    that database's tables, `packet` is the reference's no-op stub, and
    `exit` raises SystemExit like dbread.py:187."""
    obs = _obs(spark)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    trips = S.trips(sess, CFG)
    repl = Repl(spark, obs, trips)

    dbs = [r[0] for r in repl.execute("list db")[0].collect()]
    assert "default" in dbs

    spark.sql("CREATE DATABASE IF NOT EXISTS repl_lv")
    try:
        spark.sql("CREATE TABLE IF NOT EXISTS repl_lv.t1 (x INT) USING parquet")
        tables = [r["tableName"] for r in repl.execute("list db/repl_lv")[0].collect()]
        assert "t1" in tables
    finally:
        spark.sql("DROP DATABASE IF EXISTS repl_lv CASCADE")

    assert repl.execute("packet")[0].count() == 0
    with pytest.raises(SystemExit):
        repl.execute("exit")


def test_store_schema_evolution_merge(spark, tmp_path):
    """A store written in two epochs — legacy (with commentary) and
    current (without) — must read back as ONE schema with NULLs where
    the column is absent, mirroring dbread's tolerance of both layouts."""
    from airstrik_py_spark.sinks import read_store

    legacy = _obs(spark).withColumn("commentary", F.lit("old collector"))
    sess_l = S.with_session_id(K.with_distance_home(legacy, CFG), CFG)
    trips_l = S.trips(sess_l, CFG)

    plain = _obs(spark).withColumn("hex", F.lit("b"))
    sess_p = S.with_session_id(K.with_distance_home(plain, CFG), CFG)
    trips_p = S.trips(sess_p, CFG)

    store = str(tmp_path / "evolving_store")
    trips_l.write.mode("overwrite").parquet(store)
    trips_p.write.mode("append").parquet(store)

    back = read_store(spark, store)
    assert "commentary" in back.columns
    rows = {r["flight_id"]: r for r in back.collect()}
    assert rows["a"]["commentary"] == "old collector"
    assert rows["b"]["commentary"] is None


def test_repl_search_equals_raw_spark_sql(spark):
    """SURVEY §3.2's load-bearing claim — 'this whole REPL is spark.sql()':
    the REPL's `search` (DataFrame intersect path, operators/search.py) must
    be IDENTICAL to the same predicate conjunction expressed as raw ANSI SQL
    over the very temp view the Repl registers, run through the Repl's own
    `sql` escape hatch (VERDICT r11 #8).  Multi-plane fixture so the
    conjunction actually discriminates: plane a satisfies both predicates at
    a shared timestamp, plane b satisfies each predicate only at DIFFERENT
    timestamps (the set-intersection subtlety, dbread.py:114-118), plane c
    never satisfies the altitude predicate."""
    rows = [
        # hex, ts_sec, flight, lat, lon, nav_heading, alt_geom, seen
        ("a", BASE + 0, "AAL1", 35.80, -78.7, 0.0, 400.0, 1),   # both here
        ("a", BASE + 10, None, 35.70, -78.7, 0.0, 900.0, 1),
        ("b", BASE + 0, None, 35.80, -78.6, 0.0, 900.0, 1),    # lat only
        ("b", BASE + 10, None, 35.70, -78.6, 0.0, 400.0, 1),   # alt only
        ("c", BASE + 0, None, 35.90, -78.5, 0.0, 2000.0, 1),
    ]
    obs = obs_rows(spark, rows)
    sess = S.with_session_id(K.with_distance_home(obs, CFG), CFG)
    repl = Repl(spark, obs, S.trips(sess, CFG))

    got = repl.execute("search lat>35.74 alt_geom<500")[0]
    want_sql = """
        SELECT DISTINCT hex FROM (
            SELECT hex, ts_sec, event_id FROM obs WHERE lat > 35.74
            INTERSECT
            SELECT hex, ts_sec, event_id FROM obs WHERE alt_geom < 500
        )
    """
    want = repl.execute("sql " + " ".join(want_sql.split()))[0]
    assert got.columns == want.columns == ["hex"]
    assert sorted(r["hex"] for r in got.collect()) == sorted(
        r["hex"] for r in want.collect()
    ) == ["a"]  # b's per-timestamp split and c's miss both excluded
    # physical-plan sanity: both paths push each predicate into its own
    # scan leg (no post-intersect filtering)
    for df in (got, want):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lat" in plan and "alt_geom" in plan
