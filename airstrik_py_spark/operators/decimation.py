"""Decimated detail-sink gate — SURVEY.md §2.2 F4.

The reference writes every Nth live update per plane, optionally only when
the position actually changed (airstrik.py:584-626: decimation_tracker
counter at :558/:616/:623/:626, change-check at :612-624).

CLOSED-FORM CADENCE (r3 — replaces the r2 per-trip Column fold).  The
reference's imperative countdown has a provable closed form, so the whole
operator is window functions + one filter — no collect_list, no fold, no
explode, one exchange:

  * the tracker starts at 0 (airstrik.py:558) and only DECREMENTS on
    ineligible packets (:626); a packet is ELIGIBLE when tracker <= 0 and
    len(lat_history) > 1 (:584-586).  Every eligible packet that resets the
    tracker sets it to factor-1 (:598, :616, :623), so after any reset the
    next eligible packet is exactly `factor` packets later: eligible
    positions form the arithmetic grid E0, E0+N, E0+2N, ... where E0 is the
    first packet with n_lat >= 2 (tracker is already <= 0 there, having
    only decremented since session start);
  * branch ladder at an eligible packet: A (:595-600) calc_heading still
    empty (sim not run, i.e. NOT (n_lat>=2 and n_lon>=2), the :578-579
    gate) -> tracker reset, no write; B (:612-616) last_written empty and
    not force_new -> WRITE; D (:619 fails, force_new first time) -> no
    write, records last_written, tracker UNCHANGED (still <= 0) so the
    very next packet is eligible; C -> WRITE (see the bug note below);
  * sim_ran and lw_set are monotone, so the event sequence is: A's on the
    grid while the sim hasn't run, then at S = first grid position with
    sim_ran (S = E0 + N*ceil((F - E0)/N), F = first packet with
    n_lat>=2 and n_lon>=2) either B (write, not force_new) or D; after a
    D the write starts at S+1 (the one off-grid event) and re-anchors.
    Writes therefore sit at S' + k*N for k >= 0, with S' = S+1 when
    decimation_force_new_data else S — a pure per-packet filter.

Replicated reference BUG (deliberate, same policy as the ±90-lon clamp):
the "if new data" gate at :619-621 compares last_written['lat'] — the
full (value, ts) PAIR stored at :625 — against the SCALAR
lat_history[-1][0]; a tuple never equals a float in Python, so the gate
is vacuously true and the reference writes on EVERY eligible packet once
last_written is non-empty.  decimation_force_new_data therefore only
delays the FIRST write (the :612 branch needs last_written empty); it
never suppresses repeats — which is exactly why the cadence closed form
exists (branch C never skips).  Since r10 the REGISTERED DuckDB oracle is
the closed-form cadence too (registry/sinks_q.py::_decim_closed_ctes —
the recursive fold's depth = longest trip blew the 900 s oracle budget on
the adversarial 200k-row hot hex, VERDICT r9 #4); the packet-by-packet
fold lives in tests/test_decimation_oracle.py as the independent
derivation, pinned equal to the closed form on the real fixtures.

A write emits the history HEADS — the last known (value, entry-ts) pair
per attribute (airstrik.py:602-604), not the triggering packet's own
possibly-null fields; `update_seq` is the packet index within the trip
(1-based).  Sessions restart all state (the closure deletes the
plane_history entry on trip close, airstrik.py:548).

decimation_factor = 0 is the documented "only the closest will be stored"
mode (config.yaml:7): no per-update samples pass; callers store the
closest-approach sample instead (`decimate_closest`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.session import shuffle_partitions


def decimate(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The reference's decimated live-write gate (airstrik.py:574-626) via
    the closed-form write cadence (module docstring): per-packet window
    state (history sizes + heads) and two per-session scalars (E0, F) feed
    one filter.  Scale contract: ONE hash exchange on hex (explicit
    REPARTITION_BY_NUM so AQE's byte-based coalesce can't under-parallelize
    the window sorts), window sorts are per-key and spill-safe — no
    per-key array materialization at all (the r2 fold collected whole trips;
    this keeps rows as rows).  factor=0 passes nothing (closest-only mode —
    use decimate_closest); its empty frame derives from the REAL plan via
    filter(false), so the two branches can never drift in schema."""
    from airstrik_py_spark.operators.sessions import with_session_id

    n = int(cfg.decimation_factor)
    zero_mode = n == 0
    if zero_mode:
        n = 1  # build the real plan (locks the schema); filtered empty below
    spark = df.sparkSession
    n_part = shuffle_partitions(spark)
    df = df.repartition(n_part, "hex")

    if "session_id" not in df.columns:
        df = with_session_id(df, cfg)

    ws = Window.partitionBy("hex", "session_id").orderBy("ts_sec", "event_id")
    run = ws.rowsBetween(Window.unboundedPreceding, 0)
    before = ws.rowsBetween(Window.unboundedPreceding, -1)
    la, lo = F.col("lat"), F.col("lon")
    # per-attribute history append test (:574-577): non-null and different
    # from the current history head
    prev_la = F.last(la, ignorenulls=True).over(before)
    prev_lo = F.last(lo, ignorenulls=True).over(before)
    lat_new = la.isNotNull() & (prev_la.isNull() | (la != prev_la))
    lon_new = lo.isNotNull() & (prev_lo.isNull() | (lo != prev_lo))

    st = df.select(
        "hex",
        "session_id",
        "ts",
        "ts_sec",
        "event_id",
        F.row_number().over(ws).alias("i"),
        F.sum(F.when(lat_new, 1).otherwise(0)).over(run).alias("n_lat"),
        F.sum(F.when(lon_new, 1).otherwise(0)).over(run).alias("n_lon"),
        # history heads after this packet's append (a write emits these
        # (value, entry-ts) pairs, airstrik.py:602-604)
        F.last(la, ignorenulls=True).over(run).alias("head_la"),
        F.last(lo, ignorenulls=True).over(run).alias("head_lo"),
        F.last(F.when(lat_new, F.col("ts_sec")), ignorenulls=True)
        .over(run)
        .alias("head_la_t"),
        F.last(F.when(lon_new, F.col("ts_sec")), ignorenulls=True)
        .over(run)
        .alias("head_lo_t"),
    )

    full = Window.partitionBy("hex", "session_id")
    e0 = F.min(F.when(F.col("n_lat") >= 2, F.col("i"))).over(full)
    f0 = F.min(
        F.when((F.col("n_lat") >= 2) & (F.col("n_lon") >= 2), F.col("i"))
    ).over(full)
    st = st.withColumn("e0", e0).withColumn("f0", f0)

    # S = first eligible grid position with the sim run; the force_new
    # D-branch shifts the first write one packet right and re-anchors
    s = F.col("e0") + F.lit(n) * F.ceil(
        (F.col("f0") - F.col("e0")) / F.lit(n)
    ).cast("int")
    s1 = s + F.lit(1) if cfg.decimation_force_new_data else s
    out = st.withColumn("s1", s1).filter(
        F.col("f0").isNotNull()
        & (F.col("i") >= F.col("s1"))
        & ((F.col("i") - F.col("s1")) % F.lit(n) == 0)
    )
    result = out.select(
        "hex",
        "ts",
        "ts_sec",
        "event_id",
        F.col("head_la").alias("lat"),
        F.col("head_la_t").alias("lat_sec"),
        F.col("head_lo").alias("lon"),
        F.col("head_lo_t").alias("lon_sec"),
        "session_id",
        F.col("i").alias("update_seq"),
    )
    # zero_mode: same plan, statically empty — Catalyst folds the filter
    # to an empty LocalRelation with the locked schema, no jobs run
    return result.filter(F.lit(False)) if zero_mode else result


def decimate_closest(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """decimation_factor = 0: store ONLY the closest-approach sample per key
    (config.yaml:7).  `df` needs a `distance` column; ties break
    deterministically on (distance, ts_sec, event_id) — the reference's
    strict-< scan keeps the first minimum (airstrik.py:494-497)."""
    closest = F.min(
        F.struct(
            F.col("distance").alias("d"),
            F.col("ts_sec").alias("t"),
            F.col("event_id").alias("e"),
            F.col("lat").alias("la"),
            F.col("lon").alias("lo"),
        )
    )
    return df.groupBy("hex").agg(
        closest.getField("d").alias("distance"),
        closest.getField("t").alias("ts_sec"),
        closest.getField("la").alias("lat"),
        closest.getField("lo").alias("lon"),
    )
