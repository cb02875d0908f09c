"""Stateful streaming trip sessionization — the Spark-native rebuild of
the reference's windowing core (SURVEY.md §2.3 W3+W4+W5):

reference                                   → here
GlobalWindows per trip id                   → keyed GroupState
ProcessingTimeTrigger(min=10 ms, max=4 s)   → ProcessingTimeTimeout with
  (ProcessingTimeTrigger.kt:9-76)             the same re-arm rule
FIRE_AND_PURGE + clear()                    → emit on timeout + state.remove()
AggregateFunction add/getResult             → buffered state + pandas finalize
  (TripAggregatorApplication.kt:58-164)

One state function, ``_session_fn``, serves both timeout policies. The
only difference between them is the deadline rule it is handed (``arm``):
``_arm_processing_time`` (the reference's trigger) or ``_arm_event_time``
(the watermark-driven dual for replays).

Re-arm rule (ProcessingTimeTrigger.kt:30-42): on an element, if there is
no deadline, or the existing deadline is closer than now+min_retention,
register a timer at now+max_retention; otherwise keep the existing
deadline. On timer fire: emit the aggregate and purge (FIRE_AND_PURGE,
:15-24). Late events after a purge re-open a fresh session (W6).

State stays bounded per key (the reference's retention bound, SURVEY.md
§4.1): buffers hold only PID-bearing readings, deduped by timestamp ON
INSERT (the reference's TreeSet behavior) — state is bounded by the
session's distinct timestamps, not raw event count — and are dropped on
every emit.

Input: the operator reads 7 columns of the parsed stream, ``trip_id, ts,
event_type, vin, speed_kmh, lat, lon`` (``INPUT_COLUMNS``), and projects
to them before the stateful node, so the nested ``pid`` struct and the
other parse columns are never Arrow-encoded for the Python side. The
fold over a key's rows is column-wise numpy, not a per-row loop.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from functools import partial
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_template_spark.operators.trip_agg import STOPPED_SPEED_KMH

MIN_RETENTION_MS = 10
MAX_RETENTION_MS = 4000

INPUT_COLUMNS = ["trip_id", "ts", "event_type", "vin", "speed_kmh", "lat", "lon"]

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("trip_id", T.LongType()),
        T.StructField("vehicle_id", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("distance_km", T.DoubleType()),
        T.StructField("total_s", T.LongType()),
        T.StructField("moving_s", T.LongType()),
        T.StructField("stopped_s", T.LongType()),
    ]
)

# Per-stream parallel arrays, already DEDUPED by timestamp (the
# reference's TreeSet semantics, TripAggregation.kt:17-19 / quirk Q4:
# the second insert at an equal timestamp is ignored ON INSERT). State
# is therefore bounded by the session's DISTINCT timestamps, not its
# raw event count — the retention bound of SURVEY.md §4.1 / hard-part 4.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("gps_ts", T.ArrayType(T.LongType())),
        T.StructField("gps_lat", T.ArrayType(T.DoubleType())),
        T.StructField("gps_lon", T.ArrayType(T.DoubleType())),
        T.StructField("sp_ts", T.ArrayType(T.LongType())),
        T.StructField("sp_kmh", T.ArrayType(T.IntegerType())),
        T.StructField("vin", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("deadline_ms", T.LongType()),
    ]
)


def _haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    r = 6371.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def _finalize(trip_id: int, st: dict[str, Any]) -> pd.DataFrame:
    """A6-A9 over the session state (already ts-deduped on insert, so
    each buffer's timestamps are unique; intended semantics — see
    operators.trip_agg for the quirk ledger)."""
    gps = sorted(zip(st["gps_ts"], st["gps_lat"], st["gps_lon"]))
    dist = sum(
        _haversine_km(a[1], a[2], b[1], b[2]) for a, b in zip(gps, gps[1:])
    )

    sp = sorted(zip(st["sp_ts"], st["sp_kmh"]))
    stopped_us = 0
    run_start = None
    prev_ts = None
    for ts, v in sp:
        if v < STOPPED_SPEED_KMH:
            if run_start is None:
                run_start = ts
            prev_ts = ts
        else:
            if run_start is not None:
                stopped_us += prev_ts - run_start
                run_start = None
    if run_start is not None:
        stopped_us += prev_ts - run_start

    all_ts = [*st["gps_ts"], *st["sp_ts"]]
    total_s = (max(all_ts) // 1_000_000 - min(all_ts) // 1_000_000) if all_ts else 0
    stopped_s = stopped_us // 1_000_000
    return pd.DataFrame(
        [
            {
                "trip_id": trip_id,
                "vehicle_id": st["vin"],
                "n_events": st["n_events"],
                "distance_km": float(dist),
                "total_s": int(total_s),
                "moving_s": int(total_s - stopped_s),
                "stopped_s": int(stopped_s),
            }
        ]
    )


def _first_new(ts: np.ndarray, has: np.ndarray, known: list) -> np.ndarray:
    """Indices, in arrival order, of the rows that carry a reading
    (``has``) at a timestamp that no earlier row and no ``known`` entry
    holds: the reference's TreeSet insert, where the first arrival wins."""
    idx = np.flatnonzero(has)
    idx = idx[np.sort(np.unique(ts[idx], return_index=True)[1])]
    if known:
        idx = idx[~np.isin(ts[idx], np.asarray(known, dtype=np.int64))]
    return idx


def _fold(prev: tuple | None, pdfs: Iterator[pd.DataFrame]):
    """Fold a batch of rows into the (possibly existing) session
    buffers. Returns the updated buffers plus the max event-time seen,
    in epoch ms (0 if the batch had no rows)."""
    if prev is not None:
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms = prev
        gps_ts, gps_lat, gps_lon = list(gps_ts), list(gps_lat), list(gps_lon)
        sp_ts, sp_kmh = list(sp_ts), list(sp_kmh)
    else:
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh = [], [], [], [], []
        vin, n_events, deadline_ms = None, 0, 0

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return (
            gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms, 0,
        )
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    n_events += len(pdf)
    if vin is None:
        starts = pdf["vin"][(pdf["event_type"] == "TripStartRelativeTime").to_numpy()]
        vin = next((v for v in starts if v is not None), None)
    ts = pdf["ts"].to_numpy(dtype="datetime64[ns]").view(np.int64) // 1_000  # ns → us
    max_event_ms = max(0, int(ts.max()) // 1_000)

    lat = pdf["lat"].to_numpy(dtype=np.float64, na_value=np.nan)
    lon = pdf["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
    g = _first_new(ts, ~np.isnan(lat), gps_ts)
    gps_ts += ts[g].tolist()
    gps_lat += lat[g].tolist()
    gps_lon += lon[g].tolist()

    kmh = pdf["speed_kmh"].to_numpy(dtype=np.float64, na_value=np.nan)
    k = _first_new(ts, ~np.isnan(kmh), sp_ts)
    sp_ts += ts[k].tolist()
    sp_kmh += kmh[k].astype(np.int64).tolist()
    return (
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms,
        max_event_ms,
    )


def _arm_processing_time(
    state: GroupState, deadline_ms: int, max_event_ms: int
) -> int:
    """ProcessingTimeTrigger re-arm rule (ProcessingTimeTrigger.kt:30-42):
    with no deadline, or one closer than now + MIN_RETENTION_MS, arm
    now + MAX_RETENTION_MS; otherwise keep the existing deadline."""
    now = state.getCurrentProcessingTimeMs()
    if deadline_ms == 0 or deadline_ms < now + MIN_RETENTION_MS:
        deadline_ms = now + MAX_RETENTION_MS
    state.setTimeoutDuration(max(int(deadline_ms - now), 1))
    return deadline_ms


def _arm_event_time(state: GroupState, deadline_ms: int, max_event_ms: int) -> int:
    """Event-time session gap: the deadline only ever moves FORWARD to
    last-event-time + gap (late rows below the old deadline don't
    shrink it); fires when the watermark passes it — replay-
    deterministic, unlike any wall-clock rule. A row one batch behind
    passes the late-row filter (last batch's watermark) but can sit
    more than the gap below this batch's watermark, for a closed trip
    (W6: a late event re-opens a session) or one whose deadline this
    watermark passed; Spark rejects a timeout below the watermark, so
    the deadline is clamped to it and the session fires next batch."""
    deadline_ms = max(
        deadline_ms,
        max_event_ms + MAX_RETENTION_MS,
        state.getCurrentWatermarkMs(),
    )
    state.setTimeoutTimestamp(deadline_ms)
    return deadline_ms


Arm = Callable[[GroupState, int, int], int]


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, arm: Arm
) -> Iterator[pd.DataFrame]:
    """On timeout emit the session and purge it (FIRE_AND_PURGE);
    otherwise fold the rows into the state and let ``arm`` set the
    key's next deadline."""
    (trip_id,) = key
    if state.hasTimedOut:
        st = dict(zip(STATE_SCHEMA.fieldNames(), state.get))
        state.remove()
        yield _finalize(trip_id, st)
        return

    *buffers, deadline_ms, max_event_ms = _fold(
        state.get if state.exists else None, pdfs
    )
    deadline_ms = arm(state, deadline_ms, max_event_ms)
    state.update((*buffers, deadline_ms))


def keyed_trips(parsed_stream: DataFrame, watermark: str) -> GroupedData:
    """The stateful operators' input: the ``INPUT_COLUMNS`` of the parsed
    stream, watermarked on ``ts`` and grouped by ``trip_id``."""
    return (
        parsed_stream.select(*INPUT_COLUMNS)
        .withWatermark("ts", watermark)
        .groupBy("trip_id")
    )


def _sessionize(
    parsed_stream: DataFrame, watermark: str, arm: Arm, timeout: str
) -> DataFrame:
    return keyed_trips(parsed_stream, watermark).applyInPandasWithState(
        partial(_session_fn, arm=arm), OUTPUT_SCHEMA, STATE_SCHEMA, "append", timeout
    )


def sessionize_trips(
    parsed_stream: DataFrame, watermark: str = "3 seconds"
) -> DataFrame:
    """parsed trip-event stream → per-session aggregate rows (append mode,
    emitted when a trip goes quiet for MAX_RETENTION_MS of processing
    time, exactly like the reference's session trigger).

    The 3 s event-time watermark is the reference's W1
    (BoundedOutOfOrdernessTimestampExtractor,
    TripAggregatorApplication.kt:168-174); firing remains purely
    processing-time-driven (the reference's onEventTime is CONTINUE).

    Not for bounded replays: under ``trigger(availableNow=True)`` the
    ProcessingTimeTimeout keeps the query scheduling empty ~0.75 s
    batches while any session is open (146 empty batches in 120 s at 5k
    events), so the query never terminates. Replays use
    ``sessionize_trips_event_time``."""
    return _sessionize(
        parsed_stream, watermark, _arm_processing_time,
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_trips_event_time(
    parsed_stream: DataFrame, watermark: str = "3 seconds"
) -> DataFrame:
    """Watermark-driven sessionization dual: a session closes when event
    time (not wall clock) goes quiet for MAX_RETENTION_MS — i.e. the
    watermark passes last-event + gap. Same state, same finalize, same
    FIRE_AND_PURGE; this is the variant to use when replaying history
    (a backfill at 100 TB replays days of events in minutes of wall
    clock — a processing-time trigger would merge everything into one
    session, the event-time gap reproduces production sessions exactly).
    """
    return _sessionize(
        parsed_stream, watermark, _arm_event_time,
        GroupStateTimeout.EventTimeTimeout,
    )
