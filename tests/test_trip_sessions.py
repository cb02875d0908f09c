"""The trip sessionizer's Python side: the column-wise fold against the
per-row fold it replaced, the state function's two deadline rules and
its timeout emit (on a fake GroupState, no Spark), the 7-column input of
the stateful node, and a row one micro-batch behind the watermark."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pytest

from flink_template_spark.parse import read_trip_events_stream
from flink_template_spark.sources.trip_fixtures import _data, _start
from flink_template_spark.streaming.trip_sessions import (
    INPUT_COLUMNS,
    MAX_RETENTION_MS,
    MIN_RETENTION_MS,
    STATE_SCHEMA,
    _arm_event_time,
    _arm_processing_time,
    _finalize,
    _fold,
    _session_fn,
    sessionize_trips,
    sessionize_trips_event_time,
)

TYPES = ["TripStartRelativeTime", "TripData", "TripData", "TripData", "TripEnd"]


def _row_fold(prev, pdfs):
    """The per-row fold the engine used before the column-wise one: the
    reference for equality."""
    if prev is not None:
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms = prev
        gps_ts, gps_lat, gps_lon = list(gps_ts), list(gps_lat), list(gps_lon)
        sp_ts, sp_kmh = list(sp_ts), list(sp_kmh)
    else:
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh = [], [], [], [], []
        vin, n_events, deadline_ms = None, 0, 0

    max_event_ms = 0
    gps_known, sp_known = set(gps_ts), set(sp_ts)
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            n_events += 1
            if row.event_type == "TripStartRelativeTime" and vin is None:
                vin = row.vin
            ts = int(row.ts.value // 1_000)
            max_event_ms = max(max_event_ms, ts // 1_000)
            if row.lat is not None and not pd.isna(row.lat) and ts not in gps_known:
                gps_known.add(ts)
                gps_ts.append(ts)
                gps_lat.append(float(row.lat))
                gps_lon.append(float(row.lon))
            if (
                row.speed_kmh is not None
                and not pd.isna(row.speed_kmh)
                and ts not in sp_known
            ):
                sp_known.add(ts)
                sp_ts.append(ts)
                sp_kmh.append(int(row.speed_kmh))
    return (
        gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms,
        max_event_ms,
    )


def _same(got, want) -> bool:
    """Equal values and element types; a NaN longitude equals NaN."""
    def canon(t):
        return repr(t), [type(x) for v in t if isinstance(v, list) for x in v]

    return canon(got) == canon(want)


def _frame(rng: np.random.Generator, n: int, speed_dtype: str) -> pd.DataFrame:
    """n readings of one trip over few distinct timestamps, so equal-ts
    readings conflict; NaN/NULL lat, lon and speed; exact duplicates."""
    ts = pd.Timestamp("2017-09-01 17:00:00") + pd.to_timedelta(
        rng.integers(0, max(2, n // 3), n) * 1_000_000 + rng.integers(0, 3, n) * 250,
        unit="us",
    )
    lat = np.round(rng.uniform(19, 20, n), 6)
    lat[rng.random(n) < 0.3] = np.nan
    lon = np.round(rng.uniform(-100, -99, n), 6)
    lon[np.isnan(lat) & (rng.random(n) < 0.8)] = np.nan
    lon[rng.random(n) < 0.05] = np.nan  # a fix with a latitude but no longitude
    speed = rng.integers(0, 120, n).astype("float64")
    speed[rng.random(n) < 0.3] = np.nan
    etype = rng.choice(TYPES, n)
    vin = np.array([f"VIN{rng.integers(0, 99):05d}" for _ in range(n)], dtype=object)
    vin[(etype != "TripStartRelativeTime") | (rng.random(n) < 0.3)] = None
    pdf = pd.DataFrame(
        {
            "trip_id": np.full(n, 7, dtype=np.int64),
            "ts": ts,
            "event_type": etype,
            "vin": vin,
            "speed_kmh": speed,
            "lat": lat,
            "lon": lon,
        }
    )
    if speed_dtype == "Int32":
        pdf["speed_kmh"] = pdf["speed_kmh"].astype("Int32")
    elif speed_dtype == "object":
        pdf["speed_kmh"] = pdf["speed_kmh"].astype(object).where(pdf["speed_kmh"].notna(), None)
    dup = rng.random(n) < 0.1
    return pd.concat([pdf, pdf[dup]]).sample(frac=1, random_state=int(rng.integers(1 << 30)))


def _chunks(pdf: pd.DataFrame, rng: np.random.Generator) -> list[pd.DataFrame]:
    cuts = np.sort(rng.choice(np.arange(1, len(pdf)), size=min(3, len(pdf) - 1), replace=False))
    bounds = [0, *cuts.tolist(), len(pdf)]
    return [pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("speed_dtype", ["float64", "Int32", "object"])
def test_fold_matches_row_fold_over_two_calls(seed, speed_dtype):
    rng = np.random.default_rng(seed)
    first = _frame(rng, int(rng.integers(2, 60)), speed_dtype)
    second = _frame(rng, int(rng.integers(2, 60)), speed_dtype)
    c1 = _chunks(first, rng)
    c2 = _chunks(second, rng)

    got = _fold(None, iter(c1))
    assert _same(got, _row_fold(None, iter(c1)))
    state = tuple(got[:7]) + (12345,)  # what state.update / state.get carries
    assert _same(_fold(state, iter(c2)), _row_fold(state, iter(c2)))


def test_fold_first_arrival_wins_and_vin_from_first_trip_start():
    t = pd.Timestamp("2017-09-01 17:00:00")
    s = pd.Timedelta(seconds=1)

    def frame(rows):
        return pd.DataFrame(rows, columns=INPUT_COLUMNS)

    us = 1_504_285_200_000_000  # t in epoch microseconds
    prev = ([us], [1.0], [2.0], [us], [9], None, 3, 500)
    c1 = frame(
        [
            (1, t, "TripData", None, 50.0, 10.0, 20.0),           # ts held by prev
            (1, t + s, "TripStartRelativeTime", None, np.nan, np.nan, np.nan),
            (1, t + s, "TripData", None, 60.0, 11.0, 21.0),       # first at ts 1
            (1, t + s, "TripData", None, 61.0, 12.0, 22.0),       # loses within chunk
        ]
    )
    c2 = frame(
        [
            (1, t + s, "TripData", None, 62.0, 13.0, 23.0),       # loses across chunks
            (1, t + 2 * s, "TripStartRelativeTime", "VIN_A", np.nan, np.nan, np.nan),
            (1, t + 2 * s, "TripStartRelativeTime", "VIN_B", np.nan, np.nan, np.nan),
            (1, t + 2 * s, "TripData", None, np.nan, 14.0, np.nan),
            (1, t + 2 * s, "TripData", None, np.nan, 14.0, np.nan),  # duplicate row
        ]
    )
    got = _fold(prev, iter([c1, c2]))
    assert _same(got, _row_fold(prev, iter([c1, c2])))
    gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline, max_ms = got
    assert gps_ts == [us, us + 1_000_000, us + 2_000_000]
    assert gps_lat == [1.0, 11.0, 14.0]
    assert sp_ts == [us, us + 1_000_000] and sp_kmh == [9, 60]
    assert (vin, n_events, deadline, max_ms) == ("VIN_A", 12, 500, us // 1000 + 2000)
    assert _fold(None, iter([])) == _row_fold(None, iter([]))


class FakeState:
    """The part of pyspark's GroupState the state function uses. Like
    Spark, it rejects a timeout timestamp below the watermark."""

    def __init__(self, now_ms=0):
        self.value, self.now_ms, self.watermark_ms = None, now_ms, 0
        self.hasTimedOut = False
        self.duration_ms = self.timestamp_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutDuration(self, ms):
        self.duration_ms = ms

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.watermark_ms, "timeout below the watermark"
        self.timestamp_ms = ms


T0 = pd.Timestamp("2017-09-01 17:00:00")
T0_MS = T0.value // 1_000_000


def _reading(second: int) -> pd.DataFrame:
    return pd.DataFrame(
        [(7, T0 + pd.Timedelta(seconds=second), "TripData", None, 30.0, 19.4, -99.1)],
        columns=INPUT_COLUMNS,
    )


def _step(state: FakeState, arm, second: int = 0) -> int:
    """One call of the state function with one reading; returns the
    stored deadline."""
    assert list(_session_fn((7,), iter([_reading(second)]), state, arm)) == []
    return state.get[-1]


def test_processing_time_arm_follows_the_reference_rearm_rule():
    now = 1_000_000
    state = FakeState(now_ms=now)
    assert _step(state, _arm_processing_time) == now + MAX_RETENTION_MS
    assert state.duration_ms == MAX_RETENTION_MS
    assert state.get[6] == 1  # n_events: the row was folded in

    deadline = now + MAX_RETENTION_MS
    # an armed deadline at least MIN_RETENTION_MS away is kept ...
    for t in (now + 1000, deadline - MIN_RETENTION_MS):
        state.now_ms = t
        assert _step(state, _arm_processing_time) == deadline
        assert state.duration_ms == deadline - t
    # ... a closer one is re-armed at now + MAX_RETENTION_MS
    state.now_ms = deadline - MIN_RETENTION_MS + 1
    assert _step(state, _arm_processing_time) == state.now_ms + MAX_RETENTION_MS
    assert state.duration_ms == MAX_RETENTION_MS
    assert state.timestamp_ms is None


def test_event_time_arm_moves_forward_and_clamps_to_the_watermark():
    state = FakeState()
    first = T0_MS + 10_000 + MAX_RETENTION_MS
    assert _step(state, _arm_event_time, second=10) == first
    assert state.timestamp_ms == first
    # a late reading does not pull the deadline back
    assert _step(state, _arm_event_time, second=2) == first
    # a later one pushes it forward
    assert _step(state, _arm_event_time, second=20) == first + 10_000
    # a watermark past every candidate deadline is the deadline
    state.watermark_ms = first + 60_000
    assert _step(state, _arm_event_time, second=21) == first + 60_000
    assert state.timestamp_ms == first + 60_000
    assert state.duration_ms is None


@pytest.mark.parametrize("arm", [_arm_processing_time, _arm_event_time])
def test_timed_out_key_emits_one_row_and_removes_its_state(arm):
    state = FakeState(now_ms=T0_MS)
    for second in (0, 3, 6):
        _step(state, arm, second)
    st = dict(zip(STATE_SCHEMA.fieldNames(), state.get))
    state.hasTimedOut = True
    out = list(_session_fn((7,), iter([]), state, arm))
    assert len(out) == 1 and len(out[0]) == 1
    pd.testing.assert_frame_equal(out[0], _finalize(7, st))
    assert (out[0].n_events[0], out[0].total_s[0]) == (3, 6)
    assert not state.exists


def _stateful_input(df) -> list[str]:
    node = df._jdf.queryExecution().analyzed()
    while not node.nodeName().startswith("FlatMapGroupsInPandasWithState"):
        node = node.children().apply(0)
    out = node.children().apply(0).output()
    return [out.apply(i).name() for i in range(out.size())]


def test_stateful_node_reads_seven_columns(spark, tmp_path):
    parsed = read_trip_events_stream(spark, str(tmp_path))
    assert "pid" in parsed.columns
    for sessionize in (sessionize_trips, sessionize_trips_event_time):
        assert _stateful_input(sessionize(parsed)) == INPUT_COLUMNS


def test_row_one_batch_behind_the_watermark_reopens_a_session(spark, tmp_path):
    """Each file is one micro-batch. After the second, the watermark is
    97 s while the late-row filter still uses the first batch's 7 s. The
    third file's rows (trip 1 at 9 s, whose deadline of 14 s this
    watermark passes, and closed-or-new trip 3 at 60 s) reach the state
    function with deadlines below the watermark; they must clamp to it,
    not fail the query. The sentinel's watermark then fires all three."""
    src = tmp_path / "in"
    src.mkdir()
    files = [
        [_start(1, 0, "VIN00001")] + [_data(1, s, 19.4, -99.1, 30) for s in (2, 4, 6, 8, 10)],
        [_data(2, 100, 19.5, -99.2, 40)],
        [_data(1, 9, 19.41, -99.11, 20), _data(3, 60, 19.6, -99.3, 50)],
        [_start(99, 1000, "VIN00099")],
    ]
    now = time.time()
    for i, lines in enumerate(files):
        p = src / f"part-{i}.jsonl"
        p.write_text("\n".join(lines) + "\n")
        os.utime(p, (now - len(files) + i, now - len(files) + i))

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(str(src))
    from flink_template_spark.parse import parse_trip_events

    q = (
        sessionize_trips_event_time(parse_trip_events(raw))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_one_batch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        assert q.exception() is None
        rows = {r.trip_id: r for r in spark.sql("SELECT * FROM late_one_batch").collect()}
    finally:
        q.stop()
        spark.sql("DROP VIEW IF EXISTS late_one_batch")
    assert set(rows) == {1, 2, 3}
    assert (rows[1].vehicle_id, rows[1].n_events, rows[1].total_s) == ("VIN00001", 7, 8)
    assert (rows[3].vehicle_id, rows[3].n_events, rows[3].total_s) == (None, 1, 0)
