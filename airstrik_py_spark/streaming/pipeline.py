"""Structured Streaming parity layer (SURVEY §2.8): the reference's live loop
as a streaming query.

Mapping:
  trigger            <- poll-until-`now`-changes (airstrik.py:195-208)
  event time + WM    <- snapshot `now`; watermark = remember + slack
  session close      <- F.session_window(ts, remember): gap-based session
                        whose watermark-driven emission IS the reference's
                        "seen > remember -> close trip" path (airstrik.py:482)
  sticky alarm flag  <- max(bool) over the session (airstrik.py:277)
  exactly-once       <- foreachBatch idempotent write keyed on
                        (hex, session_start) — upgrade over the reference's
                        at-least-once inserts (airstrik.py:677-685)

Stream==batch equivalence is the core Structured Streaming property; tests
replay a snapshot tape with availableNow and assert the emitted trips equal
the batch operators' output.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators import kinematics as K


@contextmanager
def session_conf(spark, key: str, value: str) -> Iterator[None]:
    """Set one runtime conf on the session for the block, then put the
    previous value back."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def stream_trips(obs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """W5 in pure streaming form: session_window(gap=remember) + the A2/A3/A4
    trip fold as streaming-safe aggregates.  Emission happens when the
    watermark passes session end + gap — the reference's close condition.

    Boundary semantics: the reference closes a session only when the gap is
    STRICTLY greater than `remember` (airstrik.py:482), but session_window's
    end is exclusive — an event exactly `remember` after the last would
    start a new session.  The +1 microsecond epsilon keeps exact-boundary
    gaps in the same session while staying below timestamp resolution, so a
    gap strictly greater than `remember` can never merge here yet split in
    batch with_session_id (ts_sec is a microsecond-precision double).

    The `alarmed` flag here is the per-event approximation that a pure
    streaming aggregate can express (strict-< zone test + same-row altitude
    ceiling); the fully faithful sticky flag — running last-altitude and the
    >=2-unique-fix sim gate (airstrik.py:272-277) — needs keyed state and
    lives in streaming/stateful.py::tracked_stream."""
    gap = f"{int(cfg.remember_s * 1_000_000) + 1} microseconds"
    watermark = f"{int(cfg.remember_s * 2)} seconds"
    clean_flight = F.regexp_replace("flight", " ", "")
    closest = F.min(
        F.struct(
            F.col("distance").alias("d"),
            F.col("ts_sec").alias("t"),
            F.col("event_id").alias("e"),
        )
    )
    first_callsign = F.min(
        F.when(
            F.col("flight").isNotNull(),
            F.struct(
                F.col("ts_sec").alias("t"),
                F.col("event_id").alias("e"),
                clean_flight.alias("v"),
            ),
        )
    )
    return (
        K.with_distance_home(obs, cfg)
        .withWatermark("ts", watermark)
        .groupBy(F.col("hex"), F.session_window("ts", gap))
        .agg(
            F.min("ts_sec").alias("start_sec"),
            F.max("ts_sec").alias("end_sec"),
            F.count("*").alias("n_obs"),
            first_callsign.getField("v").alias("callsign"),
            closest.getField("d").alias("closest_dist"),
            closest.getField("t").alias("closest_sec"),
            F.max(
                F.when(
                    (F.col("distance") < F.lit(cfg.most_generous_dist_km))
                    & (
                        F.col("alt_geom").isNull()
                        | (F.col("alt_geom") <= F.lit(cfg.most_generous_alt_m))
                    ),
                    True,
                ).otherwise(False)
            ).alias("alarmed"),
        )
        .select(
            F.col("hex").alias("flight_id"),
            "start_sec",
            "end_sec",
            "n_obs",
            "callsign",
            "closest_dist",
            "closest_sec",
            "alarmed",
        )
    )


def alarm_foreach_batch(cfg: EngineConfig, sink):
    """The live alarm path (airstrik.py:697->578-580->223-368) as a
    foreachBatch: each micro-batch is a bounded DataFrame, and runs the
    `alarm_event_routing` slug's composition (latest_fix -> dead_reckoning
    -> alarm_payload) over that batch's fixes.  `sink` receives the
    alert/warning payload frame (Kafka write or collect-print when no
    broker is configured, matching the reference's empty-address
    fallback); an empty batch hands it an empty frame.  The Column
    expressions are built here, once, and each batch only applies them."""
    from airstrik_py_spark.operators import alarm as AL

    fix = AL.build_latest_fix(cfg)
    reckon = AL.build_dead_reckoning(cfg)
    payload = AL.build_alarm_payload(cfg)

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        sink(payload(reckon(fix(batch_df))), epoch_id)

    return run


def foreach_batch_idempotent_parquet(out_dir: str):
    """Exactly-once-ish sink: partition the output by batch epoch and
    overwrite that partition on replay — idempotent under micro-batch
    retries (the Delta-less MERGE substitute)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return write


def stats_upsert_foreach_batch(
    trips_store_dir: str, stats_store_dir: str, cfg: EngineConfig
):
    """S6 day-keyed stats upsert, made replay-safe (VERDICT r12 #6).

    The reference flushes one stats document at day rollover and its
    restart path re-INSERTs a day whose document already exists — the
    known duplicate-key crash (airstrik.py:677-685).  Here the day is the
    store key and the write is a partition REPLACE, so at-least-once
    redelivery converges instead of colliding: each micro-batch

      1. lands its closed trips in the epoch-partitioned idempotent trips
         store (foreach_batch_idempotent_parquet — replay overwrites the
         same epoch partition);
      2. recomputes the daily rollup FROM THE STORE for only the calendar
         days this batch touched (the store, not the batch, is the source
         of truth: a day's trips can span many epochs);
      3. overwrites exactly those day= partitions of the stats store.

    Re-executing the same epoch after a crash re-runs 1-3 against the
    same store state and rewrites the same partitions with the same rows:
    one row per day, never a dup-key failure.  The touched-day collect()
    is bounded by the batch's calendar span (a micro-batch covers minutes
    to hours — a handful of days), not by data volume.  Row shape matches
    the reference's stats doc (`_id` = day string + the four counters,
    airstrik.py:670-676)."""
    from airstrik_py_spark.operators.stats import daily_stats, day_str

    write_trips = foreach_batch_idempotent_parquet(trips_store_dir)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # Replay can REMOVE a day's trips: if the epoch partition being
        # replaced held day D's only trips and the redelivered batch no
        # longer does, D is absent from the batch yet its stats partition
        # is now stale (ADVICE r14).  Capture the outgoing partition's
        # days BEFORE the REPLACE and union them with the batch's days so
        # every possibly-invalidated partition gets rewritten.
        prior_days: set[str] = set()
        try:
            prior_days = {
                r["day"]
                for r in spark.read.parquet(f"{trips_store_dir}/epoch={epoch_id}")
                .select(day_str(F.col("end_sec"), cfg).alias("day"))
                .distinct()
                .collect()
            }
        except Exception:  # first delivery of this epoch: nothing replaced
            pass
        write_trips(batch_df, epoch_id)
        days = sorted(
            prior_days
            | {  # a NULL end_sec maps to day None — sortable via the key
                # below, and still a touched partition to zero out
                r["day"]
                for r in batch_df.select(
                    day_str(F.col("end_sec"), cfg).alias("day")
                )
                .distinct()
                .collect()
            },
            key=lambda d: (d is None, d),
        )
        if not days:
            return
        trips = spark.read.parquet(trips_store_dir)
        # ONE store pass: collect the rollup rows (bounded by the batch's
        # touched-day count, never by data volume) and write each day
        # partition from the collected row — a lazy per-day
        # rollup.filter(...).write would re-scan the whole store once per
        # touched day (self-review r13)
        rollup_rows = (
            daily_stats(trips.select("flight_id", "end_sec", "alarmed"), cfg)
            .filter(F.col("day").isin(days))
            .collect()
        )
        by_day = {row["day"]: row for row in rollup_rows}
        schema = (
            "_id string, unique_planes long, total_trips long, "
            "unique_alarm_planes long, total_alarm_trips long"
        )
        # iterate over the TOUCHED days (batch days ∪ replaced-partition
        # days), not the rollup rows (ADVICE r13/r14): when the REPLACE
        # removed a day's last trips — whether the day appears in this
        # batch or only in the partition just replaced — the rollup yields
        # no row for it, and its stats partition must be overwritten with
        # zero rows so the store converges instead of keeping old counters
        for day in days:
            row = by_day.get(day)
            rows = (
                [
                    (
                        row["day"],
                        row["unique_planes"],
                        row["total_trips"],
                        row["unique_alarm_planes"],
                        int(row["total_alarm_trips"]),
                    )
                ]
                if row is not None
                else []
            )
            (
                spark.createDataFrame(rows, schema)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{stats_store_dir}/day={day}")
            )

    return write
