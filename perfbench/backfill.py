"""The reference job as a batch backfill, measured layer by layer.

JSON text -> ``parse.parse_trip_events`` -> ``operators.trip_agg.
aggregate_trips`` -> noop sink, over many short clean trips, each whole in
one of nproc file shards, one pass at a time. A pass is timed from the
first scan to the last row at the sink; plan building is timed apart
(``*.build_ms``). Self time per layer comes from prefix differences:
a read-only pass, a read+parse pass and the full pass over the same input.
The traced ``trip_stream`` run calls ``measure``.
"""

from __future__ import annotations

import os
import time

from perfbench import eventlog, expected, gen
from perfbench.common import Ctx, median, noop, start_session, stop_session

N_TRIPS = 2000
EVENTS_PER_TRIP = 50
WARM_MIN, WARM_MAX, SETTLE = 2, 3, 0.15
PREFIX_REPEATS = 2


class Pipeline:
    def __init__(self, spark, src: str) -> None:
        from flink_template_spark.operators.trip_agg import aggregate_trips
        from flink_template_spark.parse import parse_trip_events

        self.spark, self.src = spark, src
        self._parse, self._agg = parse_trip_events, aggregate_trips
        self.build_ms: dict[str, list[float]] = {"parse": [], "trip_agg": []}

    def read(self):
        return self.spark.read.text(self.src)

    def parsed(self):
        raw = self.read()
        t0 = time.perf_counter()
        df = self._parse(raw)
        self.build_ms["parse"].append((time.perf_counter() - t0) * 1e3)
        return df

    def trips(self):
        parsed = self.parsed()
        t0 = time.perf_counter()
        df = self._agg(parsed)
        self.build_ms["trip_agg"].append((time.perf_counter() - t0) * 1e3)
        return df

    def timed(self, df, keep=None) -> float:
        """Run ``df`` to the noop sink; returns the wall time. ``keep`` is
        called after timing and before the persisted projection is dropped."""
        t0 = time.perf_counter()
        noop(df)
        dt = time.perf_counter() - t0
        if keep is not None:
            keep()
        if hasattr(df, "input"):
            df.input.unpersist(True)
        return dt


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _prefix_self_times(
    ctx: Ctx, p: Pipeline, full_s: list[float], tag: str, repeats: int = PREFIX_REPEATS
) -> dict:
    """Self time per layer by prefix difference: read-only, read+parse and
    full passes over the same input."""
    tr = ctx.tracer
    read_s, parse_s = [], []
    for _ in range(repeats):
        with tr.span(f"sources{tag}"):
            read_s.append(p.timed(p.read()))
        with tr.span(f"parse{tag}"):
            parse_s.append(p.timed(p.parsed()))
    r, rp, f = median(read_s), median(parse_s), median(full_s)
    return {"sources": r, "parse": rp - r, "trip_agg": f - rp, "samples": [read_s, parse_s, full_s]}


def measure(ctx: Ctx) -> dict:
    """The traced run's batch backfill: per-layer numbers for sources,
    parse and trip_agg, at local[nproc] and at local[1]. Stops the
    session it is given. Its checks count toward the run's failures."""
    tr = ctx.tracer
    spark = ctx.spark
    src = os.path.join(ctx.work, "backfill")
    with tr.span("backfill.generate"):
        trips = gen.write_batch_trips(src, ctx.seed, N_TRIPS, EVENTS_PER_TRIP, ctx.nproc)
        want = expected.expected_table(trips)
    p = Pipeline(spark, src)

    # parse keeps every generated event, and the trip rows match the
    # expected table
    with tr.span("backfill.check"):
        rows_out = p.parsed().count()
        ctx.expect("backfill parse.rows_out", rows_out, trips.valid)
        out = p.trips()
        got = [r.asDict() for r in out.collect()]
        out.input.unpersist(True)
        ctx.check(*expected.compare(want, got))

    warm = []
    while len(warm) < WARM_MAX:
        warm.append(p.timed(p.trips()))
        if len(warm) >= WARM_MIN and abs(warm[-1] - warm[-2]) <= SETTLE * warm[-2]:
            break
    full, cached = [], []
    for _ in range(PREFIX_REPEATS):
        with tr.span("trip_agg"):
            full.append(p.timed(p.trips(), lambda: cached.append(_cached_bytes(spark))))
    self_n = _prefix_self_times(ctx, p, full, "")
    stop_session(ctx)

    with tr.span("session.local1"):
        spark1, _ = start_session(ctx, master="local[1]")
    p1 = Pipeline(spark1, src)
    p1.timed(p1.trips())  # the new session's first pass
    with tr.span("trip_agg.local1"):
        full1 = [p1.timed(p1.trips())]
    self_1 = _prefix_self_times(ctx, p1, full1, ".local1", repeats=1)
    stop_session(ctx)

    counts = eventlog.read(ctx.event_log_dir)
    src_c = eventlog.total(counts, tr.ids("sources")[:1])
    agg_spans = tr.ids("trip_agg")
    agg = eventlog.total(counts, agg_spans)
    k = max(1, len(agg_spans))
    ctx.detail["backfill"] = {
        "events": trips.valid,
        "trips": len(want),
        "warmup_pass_s": warm,
        "prefix_samples": {"local_n": self_n["samples"], "local_1": self_1["samples"]},
    }
    return {
        "sources.self_s": self_n["sources"],
        "sources.lines": src_c["input_records"],
        "sources.bytes": src_c["input_bytes"],
        "sources.tasks": src_c["tasks"],
        "parse.self_s": self_n["parse"],
        "parse.build_ms": median(p.build_ms["parse"]),
        "parse.rows_out": rows_out,
        "parse.keep_ratio": rows_out / trips.lines,
        "trip_agg.self_s": self_n["trip_agg"],
        "trip_agg.build_ms": median(p.build_ms["trip_agg"]),
        "trip_agg.stages": agg["stages"] / k,
        "trip_agg.tasks": agg["tasks"] / k,
        "trip_agg.shuffle_write_bytes": agg["shuffle_write_bytes"] / k,
        "trip_agg.cached_bytes": median(cached),
        "trip_agg.spill_bytes": agg["spill_bytes"] / k,
        "trip_agg.gc_ms": agg["gc_ms"] / k,
        "trip_agg.fetch_wait_ms": agg["fetch_wait_ms"] / k,
        "trip_agg.failed_tasks": agg["failed_tasks"],
        "sources.self_s_1cpu": self_1["sources"],
        "parse.self_s_1cpu": self_1["parse"],
        "trip_agg.self_s_1cpu": self_1["trip_agg"],
    }
