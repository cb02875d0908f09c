"""Trip sessionization on Spark 4's arbitrary-state API v2
(``transformWithStateInPandas``) — the modern dual of
``trip_sessions.sessionize_trips``.

This is the closest structural match yet to the reference's windowing
core (SURVEY.md §2.3 W3+W4+W5, ProcessingTimeTrigger.kt:9-76):

reference (Flink)                         → here (state API v2)
keyed ValueState<Long> deadline           → handle.getValueState("session")
ctx.registerProcessingTimeTimer(deadline) → handle.registerTimer(deadline)
ctx.deleteProcessingTimeTimer(old)        → handle.deleteTimer(old)
onProcessingTime → FIRE_AND_PURGE         → handleExpiredTimer → emit + clear

Unlike the v1 ``applyInPandasWithState`` build — where Spark tracks one
implicit timeout per key (``setTimeoutDuration``) — state API v2 exposes
the reference's actual primitives: explicit named timers that are
registered and *deleted* per the re-arm rule (ProcessingTimeTrigger.kt:
30-42), so the deadline bookkeeping is the same code shape as the
reference instead of an emulation.

Scale notes (100 TB / 1000-executor design):
- state lives in the per-partition RocksDB state store (required by the
  v2 API; enable with ``rocksdb_conf()``) — keyed state never transits
  the driver, scales with executor count, and supports changelog
  checkpointing for fast recovery;
- the per-key state row is bounded by distinct event timestamps (Q4
  TreeSet dedup on insert), and every emit purges the key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from flink_template_spark.streaming.trip_sessions import (
    MAX_RETENTION_MS,
    MIN_RETENTION_MS,
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _STATE_FIELDS,
    _finalize,
    _fold,
    keyed_trips,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_conf() -> dict[str, str]:
    """Session confs required by the state API v2 (RocksDB state store)."""
    return {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}


class TripSessionProcessor(StatefulProcessor):
    """Per-trip session aggregate with FIRE_AND_PURGE on a
    processing-time deadline (ProcessingTimeTrigger semantics)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._session = handle.getValueState("session", STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        st = _fold(self._session.get(), rows)
        (gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms, _) = st

        # ProcessingTimeTrigger re-arm rule (ProcessingTimeTrigger.kt:30-42):
        # keep an existing deadline unless it is closer than now + min
        # retention; otherwise (re-)register at now + max retention.
        now = timerValues.getCurrentProcessingTimeInMs()
        if deadline_ms == 0 or deadline_ms < now + MIN_RETENTION_MS:
            if deadline_ms:
                self._handle.deleteTimer(deadline_ms)
            deadline_ms = now + MAX_RETENTION_MS
            self._handle.registerTimer(deadline_ms)

        self._session.update(
            (gps_ts, gps_lat, gps_lon, sp_ts, sp_kmh, vin, n_events, deadline_ms)
        )
        return iter(())

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        prev = self._session.get()
        if prev is None:  # timer raced a purge; nothing to emit
            return iter(())
        # FIRE_AND_PURGE (ProcessingTimeTrigger.kt:15-24): emit the final
        # aggregate and drop all keyed state.
        (trip_id,) = key
        st = dict(zip(_STATE_FIELDS, prev))
        self._session.clear()
        return iter((_finalize(trip_id, st),))

    def close(self) -> None:
        pass


def sessionize_trips_v2(
    parsed_stream: DataFrame, watermark: str = "3 seconds"
) -> DataFrame:
    """parsed trip-event stream → per-session aggregate rows via the
    state API v2. Same observable behavior as ``sessionize_trips``; the
    session's Spark conf must include :func:`rocksdb_conf`."""
    return (
        keyed_trips(parsed_stream, watermark)
        .transformWithStateInPandas(
            statefulProcessor=TripSessionProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="ProcessingTime",
        )
    )
