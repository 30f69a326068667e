"""CLI — the reference's three entry points as subcommands, so an airstrik.py
user can switch 1:1:

  python -m airstrik_py_spark run --landing-dir DIR --out DIR [--config config.yaml]
      ≙ airstrik.py: stream aircraft.json snapshots -> live alarm payloads
        (printed, reference empty-kafka fallback) + closed-trip store.
  python -m airstrik_py_spark repl --landing-dir DIR [--config ...]
      ≙ dbread.py: list / search / dump / drop / sql over the replayed store.
  python -m airstrik_py_spark csvdump --landing-dir DIR --out DIR --mode trip|stats
      ≙ csvdump.py: batch export of trips or daily stats to CSV.
"""

from __future__ import annotations

import argparse
import sys

from airstrik_py_spark.config import REFERENCE, load_config
from airstrik_py_spark.session import get_spark


def _cfg(args):
    return load_config(args.config) if args.config else REFERENCE


def _landing(args, cfg):
    """--landing-dir wins; otherwise config.yaml's dump1090_dir
    (config.yaml:11 / airstrik.py:90) — drop-in config fidelity."""
    return args.landing_dir or cfg.dump1090_dir


def _batch_obs(spark, landing_dir):
    """Observations from the well-formed snapshots; malformed ones are
    reported on stderr, never dropped silently."""
    from airstrik_py_spark.sources.snapshot import read_snapshot_batch_quarantined

    obs, quarantine = read_snapshot_batch_quarantined(spark, landing_dir)
    bad = [r["src_file"] for r in quarantine.collect()]
    if bad:
        print(
            f"{len(bad)} malformed snapshot(s) quarantined: {', '.join(bad)}",
            file=sys.stderr,
        )
    return obs


def trigger_kwargs(cfg, once: bool) -> dict:
    """Micro-batch cadence: --once -> drain-and-exit; json_speed > 0 ->
    trigger(processingTime=...) (config.yaml:12 / airstrik.py:86 sets the
    snapshot update period); 0 -> as fast as possible (default trigger)."""
    if once:
        return {"availableNow": True}
    if cfg.json_speed_s > 0:
        return {"processingTime": f"{cfg.json_speed_s} seconds"}
    return {}


def _with_trigger(writer, kwargs: dict):
    return writer.trigger(**kwargs) if kwargs else writer


def cmd_run(args) -> None:
    import os

    cfg = _cfg(args)
    spark = get_spark("airstrik-run")
    from airstrik_py_spark.sources.snapshot import read_snapshot_stream
    from airstrik_py_spark.streaming.pipeline import (
        alarm_foreach_batch,
        foreach_batch_idempotent_parquet,
        session_conf,
        stream_trips,
    )

    stream = read_snapshot_stream(spark, _landing(args, cfg))

    def print_sink(pay_df, epoch_id):
        # reference: empty kafka address -> print (airstrik.py:345-368)
        for row in pay_df.collect():
            print(f"[{row['topic']}] {row.asDict()}")

    if cfg.kafka_address:
        from airstrik_py_spark.sinks import write_kafka

        def alarm_sink(pay_df, epoch_id):
            write_kafka(pay_df, cfg.kafka_address)
    else:
        alarm_sink = print_sink

    # ≙ database[args.database_out] (airstrik.py:649-650): the trip store
    # lands under <out>/<database-out>
    store = os.path.join(args.out, args.database_out)
    trig = trigger_kwargs(cfg, bool(args.once))
    # Each micro-batch's files are listed again in getBatch; past the
    # threshold (32 paths by default) Spark does that in a distributed job
    # with one task per file, which took seconds per query on a 300-file
    # backlog.  latestOffset has already listed the landing dir on the
    # driver, so the second listing only stats known paths: milliseconds
    # on the local dir dump1090 writes to.  The trade-off: with an
    # object-store landing dir a backlog is stat'ed one file at a time on
    # the driver.  The file source reads the setting from this session at
    # every getBatch, so it holds until both queries have ended.
    with session_conf(
        spark, "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
    ):
        alarms = _with_trigger(
            stream.writeStream.foreachBatch(alarm_foreach_batch(cfg, alarm_sink)), trig
        ).start()
        # One state partition for the trip query: state commits cost per
        # partition per batch, and one receiver's open sessions are few —
        # the seed-1 perfbench replay tape peaks at 471, and a 3,000-snapshot
        # backlog drained as one batch at 3,591.  The count binds when the
        # query starts (start() clones the session conf and the checkpoint
        # keeps it), so the block only covers start(); the alarm query keeps
        # the CPU-sized count.  Live, the trip query wakes once per
        # `remember`, whatever json_speed is: a session closes only after
        # that much silence (airstrik.py:482), so per snapshot only the
        # alarm batch runs, not also a trip data batch and a trip no-data
        # batch competing with it for the CPU, and the session fold gives
        # the same trips however the snapshots fall into batches.  The
        # costs: a closed trip reaches the store up to `remember` seconds
        # later; a stop leaves the trips closed since the last wake-up
        # unwritten; and a trip store that breaks after the start batch
        # ends `run` only at the next wake-up.
        with session_conf(spark, "spark.sql.shuffle.partitions", "1"):
            trips_q = _with_trigger(
                stream_trips(read_snapshot_stream(spark, _landing(args, cfg)), cfg)
                .writeStream.foreachBatch(foreach_batch_idempotent_parquet(store)),
                trig if args.once else {"processingTime": f"{cfg.remember_s} seconds"},
            ).start()
        # Wait on both: whichever query fails first ends `run` with its
        # error and stops the survivor; --once returns once both have
        # drained.
        try:
            while alarms.isActive or trips_q.isActive:
                spark.streams.awaitAnyTermination()
                spark.streams.resetTerminated()
        finally:
            alarms.stop()
            trips_q.stop()
        # a failure that landed between awaitAnyTermination and
        # resetTerminated still surfaces here
        alarms.awaitTermination()
        trips_q.awaitTermination()
    print(f"trips written under {store}")


def cmd_repl(args) -> None:
    cfg = _cfg(args)
    spark = get_spark("airstrik-repl")
    from airstrik_py_spark.operators.sessions import trips_from_obs
    from airstrik_py_spark.repl import Repl

    obs = _batch_obs(spark, _landing(args, cfg))
    repl = Repl(spark, obs, trips_from_obs(obs, cfg))
    if args.command:
        try:
            for df in repl.execute(args.command):
                df.show(50, truncate=False)
        except ValueError as exc:
            raise SystemExit(f"error: {exc}") from exc
        return
    while True:  # pragma: no cover - interactive
        try:
            line = input("airstrik> ").strip()
        except EOFError:
            break
        if line in ("quit", "exit"):
            break
        if not line:
            continue
        try:
            for df in repl.execute(line):
                df.show(50, truncate=False)
        except Exception as exc:  # noqa: BLE001
            print(f"error: {exc}")


def cmd_csvdump(args) -> None:
    cfg = _cfg(args)
    spark = get_spark("airstrik-csvdump")
    from pyspark.sql import functions as F

    from airstrik_py_spark.operators import stats as ST
    from airstrik_py_spark.operators.sessions import trips_from_obs
    from airstrik_py_spark.sinks import write_csv

    trips = trips_from_obs(_batch_obs(spark, _landing(args, cfg)), cfg)
    if args.mode == "trip":
        # csvdump.py:88-90 writes human-readable datetimes, not epochs
        def fmt(col):
            return F.date_format(
                F.timestamp_micros(F.round(col * 1000000.0, 0).cast("long")),
                "yyyy-MM-dd HH:mm:ss",
            )

        out = trips.select(
            "flight_id",
            F.col("callsign").alias("flight_name"),
            F.round("asof_lat", 6).alias("lat"),
            F.round("asof_lon", 6).alias("lon"),
            F.round("asof_alt", 6).alias("alt_geom"),
            "closest_dist",
            fmt(F.col("start_sec")).alias("start_time"),
            fmt(F.col("end_sec")).alias("end_time"),
        )
    else:
        out = ST.daily_stats(trips, cfg)
    write_csv(out, args.out)
    print(f"{args.mode} csv written to {args.out}")


def main() -> None:
    p = argparse.ArgumentParser(prog="airstrik_py_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="streaming engine (airstrik.py equivalent)")
    run.add_argument("--landing-dir", help="overrides config dump1090_dir")
    run.add_argument("--out", required=True)
    run.add_argument("--config")
    run.add_argument("--once", action="store_true", help="drain and exit (replay)")
    run.add_argument(
        "--database-out",
        default="airstrikdb",
        help="store (sub)database to write trips to (airstrik.py:23)",
    )
    run.set_defaults(fn=cmd_run)

    repl = sub.add_parser("repl", help="interactive queries (dbread.py equivalent)")
    repl.add_argument("--landing-dir", help="overrides config dump1090_dir")
    repl.add_argument("--config")
    repl.add_argument("--command", help="run one command and exit")
    repl.set_defaults(fn=cmd_repl)

    dump = sub.add_parser("csvdump", help="CSV export (csvdump.py equivalent)")
    dump.add_argument("--landing-dir", help="overrides config dump1090_dir")
    dump.add_argument("--out", required=True)
    dump.add_argument("--mode", choices=("trip", "stats"), default="trip")
    # drop-in alias for the reference's flag shape (csvdump.py:17 -s/--stats)
    dump.add_argument(
        "-s", "--stats", action="store_const", dest="mode", const="stats"
    )
    dump.add_argument("--config")
    dump.set_defaults(fn=cmd_csvdump)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
