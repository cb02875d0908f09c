"""The expected trip table, computed in plain Python from the generator's
own record of the events it wrote.

It follows the documented trip semantics (one row per trip):
  - readings with equal timestamps collapse to the first to arrive (the
    generators only repeat identical readings, so no expected row depends
    on arrival order);
  - distance_km: haversine over consecutive GPS points in time order;
  - stopped_s: summed length of maximal runs of speed < 5 km/h;
  - total_s: last minus first epoch second over GPS and speed readings;
  - moving_s = total_s - stopped_s;
  - n_events: every valid row of the trip, duplicates included;
  - vehicle_id: the TripStart's vin.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

STOPPED_KMH = 5
EARTH_RADIUS_KM = 6371.0
COLUMNS = ("trip_id", "vehicle_id", "n_events", "distance_km", "total_s", "moving_s", "stopped_s")
EXACT = ("vehicle_id", "n_events", "total_s", "moving_s", "stopped_s")
DISTANCE_TOL_KM = 1e-6


def haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def trip_row(trip_id: int, vin: str | None, readings: Iterable, other_rows: int) -> dict:
    """One expected row from a trip's readings (objects with ts, lat,
    lon, speed; ts in whole epoch seconds)."""
    readings = list(readings)
    gps_at: dict[int, tuple] = {}
    speed_at: dict[int, int] = {}
    for r in readings:  # in arrival order: the first reading at a timestamp wins
        if r.lat is not None:
            gps_at.setdefault(r.ts, (r.lat, r.lon))
        if r.speed is not None:
            speed_at.setdefault(r.ts, r.speed)
    gps, speed = sorted(gps_at.items()), sorted(speed_at.items())
    dist = sum(
        haversine_km(*gps[i - 1][1], *gps[i][1]) for i in range(1, len(gps))
    )
    stopped = sum(
        speed[i][0] - speed[i - 1][0]
        for i in range(1, len(speed))
        if speed[i][1] < STOPPED_KMH and speed[i - 1][1] < STOPPED_KMH
    )
    stamps = [t for t, _ in gps] + [t for t, _ in speed]
    total = max(stamps) - min(stamps) if stamps else 0
    return {
        "trip_id": trip_id,
        "vehicle_id": vin,
        "n_events": len(readings) + other_rows,
        "distance_km": dist,
        "total_s": total,
        "moving_s": total - stopped,
        "stopped_s": stopped,
    }


def expected_table(trips) -> dict[int, dict]:
    """trip_id -> expected row, for a ``gen.TripSet``."""
    return {
        t: trip_row(t, trips.vins.get(t), rs, trips.other_rows.get(t, 0))
        for t, rs in trips.readings.items()
    }


def compare(expected: dict[int, dict], got: Iterable[dict]) -> tuple[int, int, list[str]]:
    """(attempted, failed, first few messages). One attempt per expected
    trip; a missing, extra, duplicated or differing row is one failure."""
    failed, msgs = 0, []
    seen: set[int] = set()
    for row in got:
        t = row["trip_id"]
        exp = expected.get(t)
        if exp is None or t in seen:
            failed += 1
            msgs.append(f"unexpected or repeated trip {t}")
            continue
        seen.add(t)
        bad = [c for c in EXACT if row[c] != exp[c]]
        if abs(row["distance_km"] - exp["distance_km"]) > DISTANCE_TOL_KM:
            bad.append("distance_km")
        if bad:
            failed += 1
            msgs.append(f"trip {t}: " + ", ".join(f"{c} {row[c]!r} != {exp[c]!r}" for c in bad))
    missing = set(expected) - seen
    failed += len(missing)
    msgs += [f"missing trip {t}" for t in sorted(missing)[:5]]
    return len(expected), failed, msgs[:10]
