"""Seeded input generators: the same seed gives byte-identical inputs.

Trip events are written in the reference wire format (one JSON envelope
``{"body": {...}}`` per line, ISO-8601 timestamps with a UTC offset).
Timestamps come from real ``datetime`` arithmetic, so a trip may run past
the hour. The repo's ``sources/trip_fixtures.write_scaled_fixture`` is not
used: its ``_ts`` pins the hour at 12 and writes minute 60 and above as
``12:60:00``, which ``try_to_timestamp`` turns into NULL, so parse drops
those events silently once a trip spans more than about an hour
(``events_per_trip`` >= ~1780). That defect is left for a later change.

Each generator returns the events it wrote as plain tuples, so the
expected trip table (``expected.py``) is computed from the generator's own
record of what it wrote, never from the engine.

The query tables are fitted to the repo's TPC-H-like test data (same
columns and types; the same value ranges, vocabularies and category
shares; see the README for the per-query comparison) at a chosen scale
factor.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

BASE_UTC = datetime(2017, 9, 1, 6, 0, 0, tzinfo=timezone.utc)
OFFSETS = [timezone(timedelta(hours=h)) for h in (-5, -3, 0, 1, 2, 9)]
PROTOCOLS = ["CAN11Bit", "CAN29Bit", "ISO9141", "ISO14230", "PWM"]
HEMISPHERES = ["NorthWest", "NorthEast", "SouthWest", "SouthEast"]


@dataclass(frozen=True)
class Reading:
    """One TripData event as written: epoch second, GPS and speed.
    ``lat``/``lon`` or ``speed`` may be None (that stream is absent)."""

    trip: int
    ts: int
    lat: float | None
    lon: float | None
    speed: int | None


@dataclass
class TripSet:
    """What a generator wrote: the valid events per trip, and counts."""

    vins: dict[int, str] = field(default_factory=dict)
    readings: dict[int, list[Reading]] = field(default_factory=dict)
    # valid non-reading rows per trip (TripStart, TripEnd): they count
    # toward n_events but carry no GPS or speed
    other_rows: dict[int, int] = field(default_factory=dict)
    lines: int = 0
    valid: int = 0


def _iso(ts: int, tz: timezone) -> str:
    return datetime.fromtimestamp(ts, tz).isoformat()


def _start_line(trip: int, ts: int, tz: timezone, vin: str, proto: str) -> str:
    return json.dumps(
        {
            "body": {
                "tripNumber": trip,
                "timestamp": _iso(ts, tz),
                "type": "TripStartRelativeTime",
                "odometer": 10000 + trip,
                "vehicleProtocol": proto,
                "vin": vin,
            }
        }
    )


def _end_line(trip: int, ts: int, tz: timezone) -> str:
    return json.dumps(
        {
            "body": {
                "tripNumber": trip,
                "timestamp": _iso(ts, tz),
                "type": "TripEnd",
                "odometer": 10100 + trip,
                "fuelConsumed": 1.5,
            }
        }
    )


def _data_line(r: Reading, tz: timezone, hemisphere: str = "NorthWest") -> str:
    # hand-formatted for speed; the same JSON json.dumps would write
    pid = []
    if r.lat is not None:
        pid.append(
            '"GpsReading": {"heading": 90.0, "horizontalDilutionOfPrecision": 0.8, '
            f'"latitude": {r.lat!r}, "longitude": {r.lon!r}, "numberOfSatellites": 7, '
            f'"hemisphere": "{hemisphere}", "fixQuality": "Standard"}}'
        )
    if r.speed is not None:
        pid.append(f'"VehicleSpeed": {r.speed}')
    return (
        f'{{"body": {{"tripNumber": {r.trip}, "timestamp": "{_iso(r.ts, tz)}", '
        f'"type": "TripData", "pidData": {{{", ".join(pid)}}}}}}}'
    )


def _trip_readings(rng: random.Random, trip: int, t0: int, n: int) -> list[Reading]:
    """n readings from epoch second t0 on, 1-3 s apart, with stopped runs
    (speed < 5 km/h) mixed into moving stretches. A few readings carry
    only GPS or only speed, so both aggregate streams see gaps."""
    out = []
    ts = t0
    rand = rng.random
    lat = rng.uniform(-60.0, 60.0)
    lon = rng.uniform(-170.0, 170.0)
    stopped = False
    for _ in range(n):
        if rand() < 0.15:
            stopped = not stopped
        speed = int(rand() * 5) if stopped else 5 + int(rand() * 126)
        if not stopped:
            lat = round(lat + (rand() - 0.5) * 0.004, 6)
            lon = round(lon + (rand() - 0.5) * 0.004, 6)
        kind = rand()
        if kind < 0.05:
            out.append(Reading(trip, ts, lat, lon, None))
        elif kind < 0.10:
            out.append(Reading(trip, ts, None, None, speed))
        else:
            out.append(Reading(trip, ts, lat, lon, speed))
        ts += 1 + int(rand() * 3)
    return out


def write_batch_trips(
    path: str, seed: int, n_trips: int, events_per_trip: int, n_shards: int
) -> TripSet:
    """Many short, clean trips, each whole in one of ``n_shards`` files.
    Every line is valid, so parse keeps every line."""
    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)
    shards: list[list[str]] = [[] for _ in range(n_shards)]
    ts_base = int(BASE_UTC.timestamp())
    out = TripSet()
    for trip in range(1, n_trips + 1):
        tz = rng.choice(OFFSETS)
        t0 = ts_base + rng.randint(0, 86_400)
        vin = f"VIN{seed % 1000:03d}{trip:07d}"
        reads = _trip_readings(rng, trip, t0 + 1, events_per_trip - 2)
        lines = [_start_line(trip, t0, tz, vin, rng.choice(PROTOCOLS))]
        lines += [_data_line(r, tz, rng.choice(HEMISPHERES)) for r in reads]
        lines.append(_end_line(trip, reads[-1].ts + 1, tz))
        shards[trip % n_shards].extend(lines)
        out.vins[trip] = vin
        out.readings[trip] = reads
        out.other_rows[trip] = 2
        out.lines += len(lines)
    out.valid = out.lines
    for s, lines in enumerate(shards):
        with open(os.path.join(path, f"part-{s:04d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return out


@dataclass
class StreamSet(TripSet):
    """A stream input: slice files in arrival order, plus what was planted."""

    files: list[str] = field(default_factory=list)
    late: int = 0
    duplicates: int = 0
    invalid: int = 0
    sentinel_trip: int = 0


def write_stream_trips(
    path: str,
    seed: int,
    n_trips: int,
    readings_per_trip: int,
    n_slices: int,
    slice_s: int,
    late_per_run: int = 5,
) -> StreamSet:
    """Fewer, longer trips whose events arrive in event-time slices, one
    file per slice, so a trip's state crosses micro-batches.

    Planted on purpose:
      - exact duplicate readings (same slice, so never late);
      - shuffled order within each slice;
      - malformed, unknown-type, bad-enum and bad-timestamp lines;
      - ``late_per_run`` readings whose event time is far below the
        watermark when they arrive (3 s delay; they are dropped);
      - one final sentinel event far in the future, which pushes the
        watermark past every trip's session gap, so all trips emit.
    The late readings and the sentinel form one last file, after the
    ``n_slices`` data slices.
    """
    if n_slices < 2:
        raise ValueError("late readings need two data slices before them")
    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)
    t_base = int(BASE_UTC.timestamp())
    horizon = n_slices * slice_s
    if horizon <= 3 * readings_per_trip + 4:
        raise ValueError("trips must fit within n_slices * slice_s seconds")
    out = StreamSet()
    slices: list[list[str]] = [[] for _ in range(n_slices)]
    tzs: dict[int, timezone] = {}

    def slice_of(ts: int) -> int:
        return min((ts - t_base) // slice_s, n_slices - 1)

    for trip in range(1, n_trips + 1):
        tz = tzs[trip] = rng.choice(OFFSETS)
        # readings are 1-3 s apart, so a trip lasts at most 3 * n seconds
        t0 = t_base + rng.randint(0, horizon - 3 * readings_per_trip - 4)
        reads = _trip_readings(rng, trip, t0 + 1, readings_per_trip)
        vin = f"VIN{seed % 1000:03d}{trip:07d}"
        slices[slice_of(t0)].append(_start_line(trip, t0, tz, vin, rng.choice(PROTOCOLS)))
        out.readings[trip] = []
        for i, r in enumerate(reads):
            line = _data_line(r, tz, rng.choice(HEMISPHERES))
            copies = 2 if i % 50 == 25 else 1  # an exact duplicate, same slice
            slices[slice_of(r.ts)] += [line] * copies
            out.readings[trip] += [r] * copies
            out.duplicates += copies - 1
        out.vins[trip] = vin
        out.other_rows[trip] = 1

    # invalid lines, two per slice: each one trips a parse drop rule
    bad_kinds = [
        lambda ts, tz: "{not json at all",
        lambda ts, tz: json.dumps(
            {"body": {"tripNumber": 1, "timestamp": _iso(ts, tz), "type": "Bogus"}}
        ),
        lambda ts, tz: _data_line(Reading(1, ts, 10.0, 10.0, 5), tz, "MiddleEarth"),
        lambda ts, tz: _data_line(Reading(1, ts, 10.0, 10.0, 5), tz).replace(
            _iso(ts, tz), datetime.fromtimestamp(ts, tz).strftime("%Y-%m-%dT%H:60:00")
        ),
    ]
    for s in range(n_slices):
        for _ in range(2):
            ts = t_base + s * slice_s + rng.randint(0, slice_s - 1)
            slices[s].append(rng.choice(bad_kinds)(ts, OFFSETS[0]))
            out.invalid += 1

    for lines in slices:
        rng.shuffle(lines)

    # the last file: the late readings, then one valid sentinel event of a
    # trip of its own, far past the end, which pushes the watermark past
    # every trip's session gap. Spark drops a row as late against the
    # watermark of two batches back (the late-event watermark trails the
    # eviction watermark by one batch), so the late readings sit 10-15 s
    # before the second-to-last data slice begins.
    # (Where a late row is only one batch behind it reaches the state
    # function, and a late row for a trip with no open state fails the
    # query: its event-time timeout lies below the current watermark.)
    trips = sorted(out.readings)
    last: list[str] = []
    t_late = t_base + (n_slices - 2) * slice_s - 10
    for _ in range(late_per_run):
        trip = rng.choice(trips)
        last.append(_data_line(Reading(trip, t_late - rng.randint(0, 5), 1.0, 1.0, 50), tzs[trip]))
        out.late += 1
    sentinel = n_trips + 1
    last.append(_data_line(Reading(sentinel, t_base + horizon + 3600, 0.0, 0.0, 0), OFFSETS[0]))
    slices.append(last)
    out.sentinel_trip = sentinel

    for s, lines in enumerate(slices):
        f = os.path.join(path, f"slice-{s:04d}.jsonl")
        with open(f, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        out.files.append(f)
        out.lines += len(lines)
    n_reads = sum(len(v) for v in out.readings.values())
    out.valid = n_reads + n_trips + out.late + 1
    return out


# --- query tables ---------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def write_tables(path: str, seed: int, sf: float) -> dict[str, int]:
    """The ten query tables at scale factor ``sf``. Row counts scale from
    sf0.1 (600k lineitem, 150k orders, 15k customers, 100k events, 5k
    documents, 2k embeddings), with at least 500 documents and 500
    embeddings, as in the repo's test data. Columns are independent, with
    the value ranges, vocabularies and shares of that data; event times
    spread over 30 days at every scale. Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    k = sf / 0.1

    def rows(n: int, least: int = 1) -> int:
        return max(least, round(n * k))

    n_cust, n_supp, n_part = rows(15000), rows(1000, 10), rows(20000)
    n_ord, n_li, n_ev = rows(150000), rows(600000), rows(100000)
    n_doc, n_emb = rows(5000, 500), rows(2000, 500)
    day = np.timedelta64(1, "D")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def dates(start, n_days, n):
        return np.datetime64(start, "D") + rng.integers(0, n_days, n) * day

    def ts(a):
        return pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_part), pick(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": ts(dates("1995-01-01", 2405, n_ord)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": ts(dates("1995-01-02", 2499, n_li)),
        },
    }

    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, rows(1500, 15), n_ev),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }

    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_doc, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }

    os.makedirs(path, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
