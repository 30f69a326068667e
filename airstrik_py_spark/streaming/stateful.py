"""Keyed-state streaming operators on applyInPandasWithState.

The plane tracker (SURVEY §4 item 3) is the reference's per-plane ingest
bookkeeping that window functions cannot express on an unbounded stream:
consecutive-duplicate suppression (airstrik.py:576-577), the decimation
counter (airstrik.py:558, 616-626) and the sticky alarm_triggered flag
(airstrik.py:277).  Batch mode expresses all three with lag/row_number
windows (operators/kinematics.py, operators/decimation.py).  State per
plane is O(1) (last position + two counters), evicted via processing-time
timeout = 2x the session gap — bounded exactly like the reference's
`del plane_history[hex]`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from airstrik_py_spark.config import EngineConfig

OUT_SCHEMA = T.StructType(
    [
        T.StructField("hex", T.StringType()),
        T.StructField("ts_sec", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("update_seq", T.IntegerType()),
        T.StructField("emit", T.BooleanType()),
        T.StructField("alarm_triggered", T.BooleanType()),
    ]
)

# (last_lat, last_lon, last_alt, update_count, n_lat, n_lon, alarm_triggered)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_lat", T.DoubleType()),
        T.StructField("last_lon", T.DoubleType()),
        T.StructField("last_alt", T.DoubleType()),
        T.StructField("update_count", T.IntegerType()),
        T.StructField("n_lat", T.IntegerType()),
        T.StructField("n_lon", T.IntegerType()),
        T.StructField("alarm_triggered", T.BooleanType()),
    ]
)


def make_tracker(cfg: EngineConfig, live: bool = True):
    """Returns the applyInPandasWithState function closure over config.
    `live` enables the processing-time state TTL; bounded replays pass
    False (a pending TTL keeps the query ticking, so processAllAvailable
    on a finite tape would never return).

    The sticky alarm flag replicates airstrik.py:272-277 exactly as the
    batch `operators/sessions.py::_alarmed_row` does: the sim must be able
    to run (>= 2 unique fixes), the running distance is STRICT < the zone,
    and the running last altitude (if any) is within the zone ceiling."""
    n = int(cfg.decimation_factor)
    force_new = cfg.decimation_force_new_data
    zone_km = cfg.most_generous_dist_km
    alt_max = cfg.most_generous_alt_m
    # reference write phase (see operators/decimation.py docstring):
    # fix #3 with force_new (the first eligible packet only baselines
    # last_written), fix #2 without; factor=0 stores no live samples at all
    first_write = 3 if force_new else 2

    def track(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_lat, last_lon, last_alt, count, n_lat, n_lon, sticky = (
            state.get if state.exists else (None, None, None, 0, 0, 0, False)
        )
        out = []
        # one sort over ALL of the key's chunks: a group may arrive split
        # across Arrow batches in shuffle order, so per-chunk sorts would
        # count fixes out of time order
        pdfs = list(batches)
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            for row in pdf.sort_values("ts_sec").itertuples(index=False):
                # per-ATTRIBUTE history appends (airstrik.py:574-577): lat and
                # lon histories grow independently, each only when its value
                # changed — the sim gate below needs both >= 2
                has_lat = row.lat is not None and not pd.isna(row.lat)
                has_lon = row.lon is not None and not pd.isna(row.lon)
                if has_lat and (n_lat == 0 or row.lat != last_lat):
                    n_lat += 1
                if has_lon and (n_lon == 0 or row.lon != last_lon):
                    n_lon += 1
                changed = (
                    last_lat is None
                    or last_lon is None
                    or row.lat != last_lat
                    or row.lon != last_lon
                )
                alt = getattr(row, "alt_geom", None)
                if alt is not None and not pd.isna(alt):
                    last_alt = float(alt)
                # sticky alarm runs on EVERY packet once the sim gate holds
                # (airstrik.py:578-580 calls the calc unconditionally) — an
                # unchanged-position packet can still newly satisfy the alt
                # ceiling, so this must precede the dup suppression below
                if (
                    min(n_lat, n_lon) >= 2  # sim gate (airstrik.py:578-579)
                    and row.distance is not None
                    and row.distance < zone_km  # strict < (airstrik.py:276)
                    and (last_alt is None or last_alt <= alt_max)  # :272-275
                ):
                    sticky = True  # airstrik.py:277 sticky alarm_triggered
                if has_lat:
                    last_lat = row.lat
                if has_lon:
                    last_lon = row.lon
                if force_new and not changed:
                    continue  # airstrik.py:576-577 consecutive-dup suppression
                count += 1
                emit = (
                    n > 0
                    and count >= first_write
                    and (count - first_write) % n == 0
                )
                out.append(
                    (
                        key[0],
                        row.ts_sec,
                        row.lat,
                        row.lon,
                        count,
                        emit,  # airstrik.py:584-626 decimation gate
                        sticky,
                    )
                )
        state.update((last_lat, last_lon, last_alt, count, n_lat, n_lon, sticky))
        if live:
            # state eviction ≙ the reference's `del plane_history[hex]`
            state.setTimeoutDuration(int(2 * cfg.remember_s * 1000))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in OUT_SCHEMA.fields])

    return track


def tracked_stream(
    obs_with_distance: DataFrame, cfg: EngineConfig, live: bool = True
) -> DataFrame:
    """Apply the keyed tracker to a (possibly streaming) observation frame
    carrying a `distance` column."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if live else GroupStateTimeout.NoTimeout
    )
    return (
        obs_with_distance.select("hex", "ts_sec", "lat", "lon", "alt_geom", "distance")
        .groupBy("hex")
        .applyInPandasWithState(
            make_tracker(cfg, live),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )

