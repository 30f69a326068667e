"""Engine configuration — the semantics of the reference's config.yaml
(/root/reference/config.yaml:1-19, loaded at /root/reference/airstrik.py:28-46)
as a typed dataclass.

Two profiles ship:
  * REFERENCE — the reference's literal defaults (1 Hz ADS-B cadence).
  * TESTDATA  — the same operator structure scaled to the driver's `events`
    table cadence (~2 events/user/hour over 30 days), so sessionization,
    decimation and min-trip-length produce non-degenerate output on the
    fixtures.  Geofence radii/altitudes and think_ahead stay at reference
    values.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Geofence:
    """Named filter `[max_dist_km, max_alt_m]` (config.yaml:17-19,
    airstrik.py:415-427)."""

    name: str
    max_dist_km: float
    max_alt_m: float


@dataclass(frozen=True)
class EngineConfig:
    # config.yaml:4-6 / airstrik.py:35 — origin for distance + alarm.
    # Dataclass defaults are the ROUNDED fixture origin (tests + TESTDATA
    # oracles use these literals); the REFERENCE profile overrides with
    # config.yaml's full-precision coordinates.
    home_lat: float = 35.727
    home_lon: float = -78.696
    # config.yaml:1-2 / airstrik.py:242 — dead-reckoning horizon (seconds)
    think_ahead: int = 60
    # config.yaml:3 / airstrik.py:379-388 — speed-smoothing lookback (ROWS)
    lookback_rows: int = 10
    # config.yaml:10 / airstrik.py:482,551 — session gap timeout (seconds)
    remember_s: float = 60.0
    # config.yaml:13 / airstrik.py:487-490 — min session duration to persist
    min_trip_length_s: float = 90.0
    # config.yaml:7 / airstrik.py:584-626 — write every Nth live update
    decimation_factor: int = 15
    # config.yaml:8 / airstrik.py:612-624 — only write when lat/lon changed
    decimation_force_new_data: bool = True
    # config.yaml:9 / airstrik.py:663-664 — day boundary tz offset for stats
    utc_time_offset_h: int = -4
    # config.yaml:14 / airstrik.py:308 — top-K display limit
    print_top_planes: int = 25
    # config.yaml:12 / airstrik.py:86 — seconds between snapshot updates;
    # 0 = as fast as possible (maps to Spark's default micro-batch trigger,
    # > 0 maps to trigger(processingTime=...))
    json_speed_s: float = 0.0
    # config.yaml:16 / airstrik.py:345,654-656 — empty = print fallback
    kafka_address: str = ""
    # config.yaml:11 / airstrik.py:90 — snapshot landing directory; the CLI's
    # --landing-dir overrides it (drop-in config.yaml fidelity)
    dump1090_dir: str = "./dump1090"
    # config.yaml:17-19 / airstrik.py:415-427
    filters: tuple[Geofence, ...] = (
        Geofence("close", 10.0, 1000.0),
        Geofence("tooclose", 5.0, 1000.0),
    )

    @property
    def most_generous_dist_km(self) -> float:
        # airstrik.py:665 — max over configured filter distances
        return max(f.max_dist_km for f in self.filters)

    @property
    def most_generous_alt_m(self) -> float:
        # airstrik.py:666
        return max(f.max_alt_m for f in self.filters)


def load_config(path: str) -> EngineConfig:
    """Load the reference's config.yaml shape (config.yaml:1-19, parsed at
    airstrik.py:28-46) into an EngineConfig — a drop-in for existing
    deployments' config files.  Keys with no engine counterpart, such as
    config.yaml:15's document-store address (the store is parquet under
    `--out`), are ignored."""
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    filters = tuple(
        Geofence(name, float(v[0]), float(v[1]))
        for name, v in (raw.get("filters") or {}).items()
    )
    home = raw.get("home") or {}
    defaults = REFERENCE  # an absent key keeps the reference's value
    return EngineConfig(
        home_lat=float(home.get("lat", defaults.home_lat)),
        home_lon=float(home.get("lon", defaults.home_lon)),
        think_ahead=int(raw.get("think_ahead", defaults.think_ahead)),
        lookback_rows=int(
            raw.get("lat_lon_packet_age_max", defaults.lookback_rows)
        ),
        remember_s=float(raw.get("remember", defaults.remember_s)),
        min_trip_length_s=float(
            raw.get("min_trip_length", defaults.min_trip_length_s)
        ),
        decimation_factor=int(
            raw.get("decimation_factor", defaults.decimation_factor)
        ),
        decimation_force_new_data=bool(
            raw.get("decimation_force_new_data", defaults.decimation_force_new_data)
        ),
        utc_time_offset_h=int(raw.get("utc_time_offset", defaults.utc_time_offset_h)),
        print_top_planes=int(raw.get("print_top_planes", defaults.print_top_planes)),
        json_speed_s=float(raw.get("json_speed", defaults.json_speed_s)),
        kafka_address=str(raw.get("kafka_address", defaults.kafka_address)),
        dump1090_dir=str(raw.get("dump1090_dir", defaults.dump1090_dir)),
        filters=filters or defaults.filters,
    )


# The reference's literal defaults — home is config.yaml:5-6's
# full-precision origin (the rounded 4-dp origin is a ~40 m shift that
# changes every distance on a real deployment).
REFERENCE = EngineConfig(home_lat=35.7270309, home_lon=-78.695587)

# Same structure, cadence-scaled for the driver's `events` table (median
# inter-event gap per key ~7 h): remember 60 s -> 6 h, min trip 90 s -> 1 h.
# Keeps the ROUNDED fixture origin: the DuckDB oracle constants embed it.
TESTDATA = EngineConfig(
    home_lat=35.727,
    home_lon=-78.696,
    remember_s=21600.0,
    min_trip_length_s=3600.0,
)
