"""Deterministic trip-event JSON fixture generator (FIXTURES.md §A1).

Produces the reference's wire format (envelope ``{"body": {...}}``,
discriminator ``body.type``, ISO-8601 offset timestamps) including every
adversarial case the parse layer must survive: malformed JSON, unknown
event type, unknown pidData key, invalid enum, duplicate timestamps
(quirk Q4), out-of-order events, and ignored TripEnd records (quirk Q1).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

_T0 = datetime(2017, 9, 1, 12)


def _ts(second: float, offset: str = "-05:00") -> str:
    """Wall time ``second`` seconds after 12:00 local, with millis."""
    base_min = int(second // 60)
    sec = second - 60 * base_min
    frac = "" if sec == int(sec) else f".{int(round((sec % 1) * 1000)):03d}"
    clock = _T0 + timedelta(minutes=base_min, seconds=int(sec))
    return f"{clock:%Y-%m-%dT%H:%M:%S}{frac}{offset}"


def _start(trip: int, second: float, vin: str, protocol: str = "CAN11Bit") -> str:
    return json.dumps(
        {
            "body": {
                "tripNumber": trip,
                "timestamp": _ts(second),
                "type": "TripStartRelativeTime",
                "odometer": 10000 + trip,
                "vehicleProtocol": protocol,
                "vin": vin,
            }
        }
    )


def _data(
    trip: int,
    second: float,
    lat: float | None = None,
    lon: float | None = None,
    speed: int | None = None,
    extra_pid: dict | None = None,
) -> str:
    pid: dict = {}
    if lat is not None:
        pid["GpsReading"] = {
            "heading": 90.0,
            "horizontalDilutionOfPrecision": 0.8,
            "latitude": lat,
            "longitude": lon,
            "numberOfSatellites": 7,
            "hemisphere": "NorthWest",
            "fixQuality": "Standard",
        }
    if speed is not None:
        pid["VehicleSpeed"] = speed
    if extra_pid:
        pid.update(extra_pid)
    return json.dumps(
        {
            "body": {
                "tripNumber": trip,
                "timestamp": _ts(second),
                "type": "TripData",
                "pidData": pid,
            }
        }
    )


def _end(trip: int, second: float) -> str:
    return json.dumps(
        {
            "body": {
                "tripNumber": trip,
                "timestamp": _ts(second),
                "type": "TripEnd",
                "odometer": 10100 + trip,
                "fuelConsumed": 1.5,
            }
        }
    )


# (lat, lon) path for trip 1; speeds drive a stopped run in the middle.
TRIP1_POINTS = [
    (0, 19.40, -99.10, 60),
    (10, 19.41, -99.11, 55),
    (20, 19.42, -99.12, 3),   # stopped run starts (speed < 5)
    (30, 19.42, -99.12, 2),
    (40, 19.42, -99.12, 4),   # stopped run ends: 20 s stopped (40-20)
    (50, 19.43, -99.13, 45),
]
TRIP2_POINTS = [
    (5, 19.50, -99.20, 0),    # stopped from the start
    (15, 19.50, -99.20, 1),   # 10 s stopped
    (25, 19.51, -99.21, 30),
    (35, 19.52, -99.22, 80),
]


def fixture_lines() -> list[str]:
    lines: list[str] = []
    lines.append(_start(1, 0, "VIN00001"))
    lines.append(_start(2, 5, "VIN00002", protocol="ISO9141"))
    # interleave trips 1 and 2
    t1 = [_data(1, s, lat, lon, sp) for s, lat, lon, sp in TRIP1_POINTS]
    t2 = [_data(2, s, lat, lon, sp) for s, lat, lon, sp in TRIP2_POINTS]
    lines += [t1[0], t2[0], t1[1], t2[1], t1[2], t2[2], t1[3], t2[3], t1[4], t1[5]]
    # duplicate timestamp for trip 1 at s=10 (quirk Q4 — must be ignored):
    # different GPS+speed would perturb results if dedup were missing.
    lines.append(_data(1, 10, 80.0, 80.0, 200))
    # out-of-order event within the trip (s=12, arrives after s=50)
    lines.append(_data(1, 12, 19.415, -99.115, 50))
    # TripEnd records — parsed but ignored by aggregation (quirk Q1)
    lines.append(_end(1, 60))
    lines.append(_end(2, 45))
    # malformed JSON line → dropped
    lines.append("{not json at all")
    # unknown event type → dropped
    lines.append(
        json.dumps(
            {"body": {"tripNumber": 9, "timestamp": _ts(0), "type": "Bogus"}}
        )
    )
    # unknown pidData key → key ignored, row kept
    lines.append(_data(1, 55, None, None, 40, extra_pid={"NotAPid": 123}))
    # invalid enum (hemisphere) → row dropped
    bad = json.loads(_data(2, 40, 19.53, -99.23, 10))
    bad["body"]["pidData"]["GpsReading"]["hemisphere"] = "MiddleEarth"
    lines.append(json.dumps(bad))
    # invalid vehicleProtocol on a TripStart → row dropped (trip 3 gets no vin)
    lines.append(_start(3, 0, "VIN00003", protocol="WARP9"))
    lines.append(_data(3, 2, None, None, 10))
    return lines


def write_fixture(path: str) -> None:
    with open(path, "w") as f:
        f.write("\n".join(fixture_lines()) + "\n")


def write_scaled_fixture(
    path: str, n_trips: int = 2000, events_per_trip: int = 50, n_shards: int = 32
) -> int:
    """Deterministic large fixture for throughput measurement: each trip
    is a TripStart followed by GPS+speed TripData readings every 2 s.

    Written as a DIRECTORY of ``n_shards`` files (trips hashed across
    shards) — one giant line file caps Spark's scan at
    size/maxPartitionBytes splits (2 tasks for ~200 MB), which measures
    file-layout accident, not engine throughput; a Kafka topic or a
    lake ingest directory is many-sharded exactly like this.
    ``n_shards=1`` with a file path keeps the old single-file behavior.
    Returns the number of event lines written."""
    import os

    def trip_lines(t: int):
        base = (t * 7) % 40  # stagger start seconds
        yield _start(t, base, f"VIN{t:05d}")
        for e in range(events_per_trip - 1):
            sec = base + 2.0 * (e + 1)
            lat = 19.0 + (t % 100) * 0.001 + e * 0.0001
            lon = -99.0 - (t % 100) * 0.001 - e * 0.0001
            speed = (t + e) % 80
            yield _data(t, sec, lat=lat, lon=lon, speed=speed)

    n = 0
    if n_shards <= 1:
        with open(path, "w") as f:
            for t in range(1, n_trips + 1):
                for line in trip_lines(t):
                    f.write(line + "\n")
                    n += 1
        return n

    os.makedirs(path, exist_ok=True)
    files = [
        open(os.path.join(path, f"part-{s:04d}.jsonl"), "w")
        for s in range(n_shards)
    ]
    try:
        for t in range(1, n_trips + 1):
            f = files[t % n_shards]
            for line in trip_lines(t):
                f.write(line + "\n")
                n += 1
    finally:
        for f in files:
            f.close()
    return n
