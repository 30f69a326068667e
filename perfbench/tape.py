"""Seeded aircraft.json tape: snapshots, their ground-truth sessions, and
atomic landing into a watched directory.

A tape is a list of snapshots taken every ``PERIOD_S`` seconds.  Each
snapshot holds ``SLOTS`` receiver slots; a slot carries one aircraft on a
straight leg, then falls silent for longer than ``remember`` (so its
session closes), then carries the next leg.  Slot 0 is a loiterer that
circles home inside the ``tooclose`` fence for the whole tape, so every
snapshot owes an ``airstrik-alert``.  Slots 1..INBOUND fly straight at home
from 14-18 km out, so a multi-snapshot batch owes ``airstrik-warning``s.

Everything is a pure function of the seed except ``now`` on a live landing,
which is the generator's wall clock.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass

PERIOD_S = 2  # the reference's json_speed: 2 update period
SLOTS = 200
INBOUND = 4
HOME_LAT = 35.7270309  # config.REFERENCE home (config.yaml:5-6)
HOME_LON = -78.695587
REMEMBER_S = 60  # config.REFERENCE remember_s
KM_PER_DEG = 111.195
REPLAY_T0 = 1_700_000_000  # fixed epoch of a replay tape's first snapshot


@dataclass
class Leg:
    hex: str
    flight: str | None
    first: int  # index of the first snapshot carrying the leg
    n: int  # snapshots carried
    x0: float  # km east of home at `first`
    y0: float  # km north of home at `first`
    heading: float  # degrees from north
    speed_kmh: float
    alt_m: float


def _hex(rng: random.Random) -> str:
    return f"{rng.randrange(0xA00000, 0xAFFFFF):06x}"


def _callsign(rng: random.Random) -> str | None:
    if rng.random() < 0.1:
        return None
    return f"{rng.choice(('AAL', 'DAL', 'UAL', 'SWA', 'JBU', 'N'))}{rng.randrange(10, 9999)}".ljust(8)


def plan_legs(seed: int, n_snaps: int) -> list[Leg]:
    """Every leg of every slot over ``n_snaps`` snapshots (slot 0 excluded)."""
    rng = random.Random(seed)
    legs: list[Leg] = []
    used: set[str] = set()

    def fresh_hex() -> str:
        h = _hex(rng)
        while h in used:
            h = _hex(rng)
        used.add(h)
        return h

    for slot in range(1, SLOTS):
        k = -rng.randrange(0, 100)  # slots start mid-leg at the tape head
        hexcode = fresh_hex()
        while k < n_snaps:
            inbound = slot <= INBOUND
            n = rng.randrange(20, 40) if inbound else rng.randrange(30, 200)
            if inbound:
                r, ang = rng.uniform(14.0, 18.0), rng.uniform(0.0, 360.0)
                heading = (ang + 180.0) % 360.0
                speed, alt = rng.uniform(450.0, 650.0), rng.uniform(400.0, 900.0)
            else:
                r, ang = rng.uniform(15.0, 60.0), rng.uniform(0.0, 360.0)
                heading = rng.uniform(0.0, 360.0)
                speed, alt = rng.uniform(250.0, 850.0), rng.uniform(1500.0, 11000.0)
            x0, y0 = r * math.sin(math.radians(ang)), r * math.cos(math.radians(ang))
            first = max(k, 0)
            if first > k:  # started before the tape: advance to the head
                step = (first - k) * PERIOD_S * speed / 3600.0
                x0 += step * math.sin(math.radians(heading))
                y0 += step * math.cos(math.radians(heading))
            if k + n > 0:
                legs.append(
                    Leg(hexcode, _callsign(rng), first, min(k + n, n_snaps) - first,
                        x0, y0, heading, speed, alt)
                )
            # silent for 70-180 s: always longer than remember, so the
            # session closes; the plane comes back under the same hex half
            # of the time (a new session of the same flight_id)
            k += n + rng.randrange(35, 91)
            if rng.random() < 0.5:
                hexcode = fresh_hex()
    return legs


def _ll(x_km: float, y_km: float) -> tuple[float, float]:
    lat = HOME_LAT + y_km / KM_PER_DEG
    lon = HOME_LON + x_km / (KM_PER_DEG * math.cos(math.radians(HOME_LAT)))
    return round(lat, 6), round(lon, 6)


def loiterer_hex(seed: int) -> str:
    return f"{seed % 0xFFFFF:05x}f"


def snapshot_aircraft(seed: int, legs: list[Leg], k: int) -> list[dict]:
    """The ``aircraft`` array of snapshot ``k``: the loiterer first, then
    every leg live at ``k`` in slot order."""
    rng = random.Random(f"{seed}:{k}")
    ang = 2.0 * math.pi * (k * PERIOD_S) / 120.0
    lat, lon = _ll(0.5 + 3.0 * math.sin(ang), 3.0 * math.cos(ang))
    out = [{
        "hex": loiterer_hex(seed),
        "flight": "LOITER1 ",
        "lat": lat,
        "lon": lon,
        "nav_heading": round(math.degrees(ang + math.pi / 2) % 360.0, 1),
        "alt_geom": 600.0,
        "seen": round(rng.uniform(0.0, 2.0), 1),
    }]
    for leg in legs:
        if not leg.first <= k < leg.first + leg.n:
            continue
        d = (k - leg.first) * PERIOD_S * leg.speed_kmh / 3600.0
        lat, lon = _ll(
            leg.x0 + d * math.sin(math.radians(leg.heading)),
            leg.y0 + d * math.cos(math.radians(leg.heading)),
        )
        ac = {
            "hex": leg.hex,
            "lat": lat,
            "lon": lon,
            "nav_heading": round(leg.heading, 1),
            "alt_geom": round(leg.alt_m, 0),
            "seen": round(rng.uniform(0.0, 5.0), 1),
        }
        if leg.flight is not None:
            ac["flight"] = leg.flight
        out.append(ac)
    return out


def snapshot_line(now: float, aircraft: list[dict]) -> str:
    """One snapshot as the single JSON line the file source reads."""
    return json.dumps({"now": now, "messages": len(aircraft), "aircraft": aircraft},
                      separators=(",", ":")) + "\n"


def land(landing_dir: str, name: str, line: str) -> None:
    """Write beside the landing dir, then rename in: the file source never
    sees a partial snapshot."""
    tmp = os.path.join(os.path.dirname(os.path.abspath(landing_dir)), f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(line)
    os.replace(tmp, os.path.join(landing_dir, name))


def snap_name(k: int) -> str:
    return f"aircraft-{k:06d}.json"


def write_replay(landing_dir: str, seed: int, n_snaps: int) -> int:
    """Land a whole replay tape (``now`` = REPLAY_T0 + 2k); returns the
    observation count."""
    os.makedirs(landing_dir, exist_ok=True)
    legs = plan_legs(seed, n_snaps)
    n_obs = 0
    for k in range(n_snaps):
        ac = snapshot_aircraft(seed, legs, k)
        n_obs += len(ac)
        land(landing_dir, snap_name(k), snapshot_line(float(REPLAY_T0 + PERIOD_S * k), ac))
    return n_obs


def closed_sessions(seed: int, n_snaps: int) -> list[tuple[str, float, float, int]]:
    """Ground truth for a drained replay tape: the (flight_id, start_sec,
    end_sec, n_obs) of every session the trip query must have emitted.

    stream_trips keys sessions on hex with gap ``remember`` and a watermark
    2 x remember behind the newest event, and emits a session once the
    watermark passes its end (last fix + remember).  So a session is
    closed when its last fix is more than 3 x remember before the tape's
    last snapshot.  Legs of one hex never sit closer than remember apart,
    so each leg is one session; the loiterer never closes.
    """
    last_now = REPLAY_T0 + PERIOD_S * (n_snaps - 1)
    out = []
    for leg in plan_legs(seed, n_snaps):
        start = REPLAY_T0 + PERIOD_S * leg.first
        end = REPLAY_T0 + PERIOD_S * (leg.first + leg.n - 1)
        if end < last_now - 3 * REMEMBER_S:
            out.append((leg.hex, float(start), float(end), leg.n))
    return sorted(out)
