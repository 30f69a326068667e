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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airstrik_py_spark.config import EngineConfig
from airstrik_py_spark.operators import kinematics as K


# Measured in r9 on a partitions x state-volume grid over the stream-stream
# interval join (the grid tool is removed; git history has it): state-store
# commit overhead is per partition per micro-batch, so below ~this many
# state rows per partition, extra partitions cost more in commits than
# they win in parallelism.
STATE_ROWS_PER_PARTITION = 4000


def state_shuffle_partitions(est_state_rows: int, max_partitions: int = 128) -> int:
    """Shuffle-partition count for a STATEFUL streaming query, sized to
    state VOLUME rather than CPU count (the r8 stream-join profile,
    made a formula by the r9 state grid; both probe tools are removed,
    git history has them): P = clamp(ceil(state_rows /
    STATE_ROWS_PER_PARTITION), 1, max_partitions).  est_state_rows for
    the interval join is (clicks + purchases) within the watermark span;
    for keyed aggregations it is the live key count."""
    import math

    return max(1, min(max_partitions, math.ceil(max(est_state_rows, 1) / STATE_ROWS_PER_PARTITION)))


def configure_state_partitions(spark, est_state_rows: int, max_partitions: int = 128) -> int:
    """Apply state_shuffle_partitions to the session BEFORE the stateful
    query's first start (the count binds at start and is sticky in the
    checkpoint).  Returns the applied value."""
    p = state_shuffle_partitions(est_state_rows, max_partitions)
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    return p


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


def stream_dedup_events(obs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Streaming exact deduplication of the observation stream on
    (hex, ts): `dropDuplicatesWithinWatermark` keeps per-key state only
    until the watermark passes, so state is bounded by (event rate x
    watermark) instead of growing forever — the streaming counterpart of
    the batch dedup suite (W1 dedups CONSECUTIVE repeats; this drops exact
    replays, e.g. an upstream at-least-once tape re-delivering snapshots).
    State TTL = 2x remember, matching the session watermark."""
    return obs.withWatermark("ts", f"{int(cfg.remember_s * 2)} seconds").dropDuplicatesWithinWatermark(
        ["hex", "ts"]
    )


def stream_sessionize_events(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Streaming twin of operators/events.py::sessionize_events: the same
    gap sessionization as a watermarked F.session_window aggregate, emitted
    when the watermark passes session end + gap.  The +1 ms epsilon keeps
    exact-boundary gaps in one session (session_window's end is exclusive,
    the batch boundary is strict->), matching stream_trips' convention.
    Output drops the batch per-user session ordinal (a rank over completed
    sessions is not streaming-expressible); parity is on the exact
    microsecond bounds — see tests/test_streaming_events.py."""
    # epsilon BELOW the microsecond timestamp resolution: a +1 ms epsilon
    # would merge gaps in (gap_s, gap_s + 1ms) that the batch sessionizer
    # (strict >) splits — +1 us keeps exact-boundary gaps in one session
    # while matching batch on every representable timestamp difference
    gap = f"{gap_s * 1_000_000 + 1} microseconds"
    us = F.unix_micros(F.col("ts"))
    return (
        events.withWatermark("ts", f"{gap_s * 2} seconds")
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us", "duration_us")
    )


def stream_dedup_docs(
    docs: DataFrame,
    corpus_digests: DataFrame | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ingest dedup for the documents table — the streaming twin
    of operators/dedup.py::dedup_incremental (the LLM-data-curation
    extension family's streaming lane; the reference engine has no document
    pipeline).  Content digest = md5(text), same as every batch dedup
    operator, so the accepted-digest set matches the batch decision
    exactly (tests/test_streaming_docs.py).

    Two layers, mirroring the batch accept rule:
      * stream-vs-CORPUS (`seen_before`): a stream-static LEFT ANTI join
        against the accepted corpus' distinct digest set.  The static side
        is re-read per micro-batch; at 100 TB this side is a digest-only
        column scan (16 B/doc) served from a bucketed digest dim — or the
        whole operator becomes a Delta/Iceberg MERGE — never a scan of the
        corpus text.
      * stream-vs-STREAM (`first_in_batch`): dropDuplicatesWithinWatermark
        on digest — first arrival wins and later replays are suppressed,
        with per-digest state held only inside the watermark horizon, so
        state = ingest rate x watermark, never corpus-sized.

    The stream must carry an `ingest_ts` timestamp column (arrival time);
    accepted rows are emitted immediately (append mode), the watermark
    only bounds suppression state."""
    d = docs.withColumn("digest", F.md5("text"))
    if corpus_digests is not None:
        d = d.join(
            corpus_digests.select("digest").distinct(), "digest", "left_anti"
        )
    return d.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )


def stream_touch_conversion_pairs(
    events: DataFrame, window_s: int = 3600, watermark_s: int = 7200
) -> DataFrame:
    """Stream-STREAM interval join (the canonical Structured Streaming
    two-stream pattern): every purchase pairs with every click by the
    SAME user in the strictly-preceding `window_s` seconds.  Both sides
    carry watermarks and the join condition bounds click_ts to
    [purchase_ts - window, purchase_ts), so the state store can evict
    clicks once the purchase-side watermark passes — state is bounded by
    the window span per user, not the stream.

    Batch twin for parity: the same inner join on static frames
    (tests/test_streaming_events.py) — at batch scale the binned
    equi-join (events.py::preceding_window_counts) is the scale shape;
    the streaming join IS the binned form internally (symmetric hash
    join keyed on user, state pruned by watermark).

    Deployment note (r8 stream-join profile; the probe tool is removed,
    git history has it): size
    spark.sql.shuffle.partitions to state VOLUME, not CPU count — the
    join keeps keyed stores on BOTH sides, each snapshotted per
    partition per micro-batch, so at small state the commit overhead
    dominates (32 partitions spent 52 s of cumulative stateCommitMs
    inside an 8.3 s drain; 8 partitions ran the same tape 3.4× faster).
    The partition count binds at first query start and is sticky in the
    checkpoint."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{watermark_s} seconds")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{watermark_s} seconds")
    )
    j = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_s} SECONDS")
        )
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    )
    return j.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "gap_us"
        ),
    )


def docs_ingest_foreach_batch(out_dir: str, digest_store_dir: str):
    """The durable completion of stream_dedup_docs: a foreachBatch ingest
    loop whose accepted digests FEED BACK into the persistent corpus
    digest store, closing the late-replay window that watermark-bounded
    state alone leaves open (dropDuplicatesWithinWatermark evicts a
    digest once the watermark passes, so a duplicate arriving later
    would be re-accepted; the store is permanent, so it is not).

    Per micro-batch: digest the batch, keep the first arrival per digest
    within the batch (min (ingest_ts, doc_id) — deterministic under any
    partitioning), LEFT ANTI join the store, append accepted rows to
    `out_dir` and their digests to `digest_store_dir` — both
    epoch-partitioned overwrites, so a retried batch rewrites its own
    partition instead of double-inserting (same idempotency contract as
    foreach_batch_idempotent_parquet).  At 100 TB the store is a
    digest-only column table (16 B/doc), bucketable by digest so the
    anti-join is bucket-local."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.withColumn("digest", F.md5("text"))
        first = b.groupBy("digest").agg(
            F.min(F.struct("ingest_ts", "doc_id")).alias("w")
        )
        winners = b.join(
            first.select(
                "digest",
                F.col("w.ingest_ts").alias("ingest_ts"),
                F.col("w.doc_id").alias("doc_id"),
            ),
            ["digest", "ingest_ts", "doc_id"],
        )
        spark = batch_df.sparkSession
        try:
            # exclude THIS epoch's partition: a retried batch must not
            # anti-join against its own failed attempt's digests (it
            # would reject itself and overwrite its partition as empty)
            store = (
                spark.read.parquet(digest_store_dir)
                .filter(F.col("epoch") != epoch_id)
                .select("digest")
            )
        except Exception:  # first batch: no store yet
            store = None
        accepted = (
            winners if store is None else winners.join(store, "digest", "left_anti")
        )
        accepted.withColumn("_epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/epoch={epoch_id}")
        accepted.select("digest").write.mode("overwrite").parquet(
            f"{digest_store_dir}/epoch={epoch_id}"
        )

    return run


def run_to_memory(trips_stream: DataFrame, name: str) -> None:
    """Drive a bounded replay to completion synchronously (availableNow) into
    an in-memory table — the test/replay harness."""
    q = (
        trips_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


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


def stream_stats_rollup(spark, trips_store_dir: str, cfg: EngineConfig) -> DataFrame:
    """S6 in streaming deployment shape: the trips stream lands in the
    idempotent parquet store (foreach_batch_idempotent_parquet), and the
    daily rollup is a BATCH aggregate over that store — streaming exact
    countDistinct is not expressible with bounded state, so the production
    pattern is ingest-streaming + rollup-batch over the store (micro-batch
    cadence = rollup freshness; reference day-flush parity at
    airstrik.py:659-691).  Column mapping matches operators/stats.py."""
    from airstrik_py_spark.operators.stats import daily_stats

    trips = spark.read.parquet(trips_store_dir)
    return daily_stats(trips.select("flight_id", "end_sec", "alarmed"), cfg)


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
