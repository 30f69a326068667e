"""Bucketed co-location: the join/agg over hex-bucketed tables must run
with ZERO exchanges (broadcast disabled so a shuffle can't hide behind a
small side)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airstrik_py_spark.operators.bucketing import write_bucketed


def test_bucketed_agg_join_has_no_exchange(spark, tmp_path):
    df = spark.range(0, 5000).select(
        (F.col("id") % 40).cast("string").alias("hex"), F.col("id").alias("v")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = write_bucketed(spark, df, "tb_a", "hex", path=str(tmp_path / "a"))
        b = write_bucketed(spark, df, "tb_b", "hex", path=str(tmp_path / "b"))
        ga = a.groupBy("hex").agg(F.count("*").alias("n_a"))
        gb = b.groupBy("hex").agg(F.sum("v").alias("s_b"))
        j = ga.join(gb, "hex")
        assert j.count() == 40
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tb_a")
        spark.sql("DROP TABLE IF EXISTS tb_b")


def test_write_bucketed_idempotent(spark, tmp_path):
    df = spark.range(0, 100).select(
        (F.col("id") % 5).cast("string").alias("hex"), F.col("id").alias("v")
    )
    for _ in range(2):  # second run must overwrite cleanly
        t = write_bucketed(spark, df, "tb_i", "hex", path=str(tmp_path / "i"))
    assert t.count() == 100
    spark.sql("DROP TABLE IF EXISTS tb_i")


def test_zorder_interleave_and_binning(spark):
    from datetime import datetime, timezone

    from airstrik_py_spark.operators.bucketing import zorder_plan

    def ts(us):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)

    # ts spans [0, 65535] us, user_id spans [0, 65535]: bins == raw values
    rows = [
        (0, ts(0), 0),          # zkey 0
        (1, ts(65535), 65535),  # all 32 bits set
        (2, ts(3), 1),          # a=0b11 -> bits 0,2; b=0b1 -> bit 1 => 0b111
        (3, ts(0), 65535),      # odd bits only
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id int"
    )
    out = {r["event_id"]: r for r in zorder_plan(ev).collect()}
    assert (out[0]["ts_bin"], out[0]["uid_bin"], out[0]["zkey"]) == (0, 0, 0)
    assert out[1]["zkey"] == (1 << 32) - 1
    assert out[2]["zkey"] == 0b111
    odd_mask = sum(1 << (2 * i + 1) for i in range(16))
    assert out[3]["zkey"] == odd_mask
    # file buckets cover [0, 1024)
    assert out[1]["file_id"] == ((1 << 32) - 1) >> 22
    assert out[0]["file_id"] == 0


def test_zorder_locality_beats_linear_sort(spark):
    """The point of the curve: sorting by zkey packs rows close in BOTH
    dimensions into the same file, so a 2-D box query touches fewer files
    than under a single-column sort with the same file count."""
    from datetime import datetime, timezone

    from airstrik_py_spark.operators.bucketing import zorder_plan

    def ts(us):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)

    n = 4096
    rows = [(i, ts((i * 2654435761) % 65536), (i * 40503) % 65536) for i in range(n)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id int")
    plan = {r["event_id"]: r for r in zorder_plan(ev).collect()}
    n_files = 64
    rows_per_file = n // n_files
    by_z = sorted(plan.values(), key=lambda r: (r["zkey"], r["event_id"]))
    by_ts = sorted(plan.values(), key=lambda r: (r["ts_bin"], r["event_id"]))
    # box predicate: middle quarter of each dimension
    lo, hi = 16384, 32768
    def files_touched(order):
        return len({
            i // rows_per_file
            for i, r in enumerate(order)
            if lo <= r["ts_bin"] < hi and lo <= r["uid_bin"] < hi
        })
    assert files_touched(by_z) < files_touched(by_ts)
