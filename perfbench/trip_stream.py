"""trip_stream: the reference job as it actually runs.

A file stream (one slice file per micro-batch, ``availableNow``) feeds
``parse.parse_trip_events``, then ``streaming.trip_sessions.
sessionize_trips_event_time``, then a sink. Trips are longer than a
slice of event time, so most trips' state crosses a batch boundary.
Closed loop: the source releases the next file only after the previous
batch commits. Per-batch numbers come from ``StreamingQuery.recentProgress``.
One whole untimed run warms up; then at least one run is timed. The
timed runs write to a memory sink, so each run's trips are checked.

Two data slices keep a run at four micro-batches (two slices, the file of
late rows and the sentinel, and the no-data batch that fires the session
timeouts): each batch costs seconds here, and a run must fit the
benchmark's time budget (README.md). The traced run also measures the
batch backfill's layers (``backfill.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import backfill, expected, gen
from perfbench.common import Ctx, median, start_session, tail

N_TRIPS = 100
READINGS_PER_TRIP = 40
N_SLICES = 2
SLICE_S = 90
LATE = 5
RUN_TIMEOUT_S = 90


class Stream:
    def __init__(self, ctx: Ctx, src: str) -> None:
        from flink_template_spark.parse import parse_trip_events
        from flink_template_spark.streaming.trip_sessions import sessionize_trips_event_time

        self.ctx, self.src = ctx, src
        self._parse, self._sessions = parse_trip_events, sessionize_trips_event_time
        self.n = 0

    def raw(self):
        return (
            self.ctx.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(self.src)
        )

    def frame(self, stage: str):
        """The pipeline cut after ``stage`` (sources, parse or trip_sessions)."""
        df = self.raw()
        if stage != "sources":
            df = self._parse(df)
        if stage == "trip_sessions":
            df = self._sessions(df)
        return df

    def run(self, stage: str = "trip_sessions", sink: str = "noop"):
        """One availableNow run from a fresh checkpoint. Returns (wall s,
        progress list, memory-sink table name or None)."""
        self.n += 1
        ckpt = os.path.join(self.ctx.work, f"ckpt-{self.n}")
        w = self.frame(stage).writeStream.outputMode("append").option("checkpointLocation", ckpt)
        name = None
        if sink == "memory":
            name = f"perfbench_trips_{self.n}"
            w = w.format("memory").queryName(name)
        else:
            w = w.format("noop")
        t0 = time.perf_counter()
        q = w.trigger(availableNow=True).start()
        done = q.awaitTermination(RUN_TIMEOUT_S)
        wall = time.perf_counter() - t0
        if not done:
            q.stop()
            raise TimeoutError(f"stream run passed {RUN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception())[:300])
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, progress, name


def _dropped(progress: list[dict]) -> int:
    return sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for s in p.get("stateOperators") or []
    )


def _state_summary(progress: list[dict]) -> dict:
    ops = [s for p in progress for s in p.get("stateOperators") or []]
    dur = [p.get("durationMs") or {} for p in progress]
    return {
        "batches": len(progress),
        "add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "query_planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "latest_offset_ms": median([d.get("latestOffset", 0) for d in dur]),
        "wal_commit_ms": median([d.get("walCommit", 0) for d in dur]),
        "state_rows_max": max([s.get("numRowsTotal", 0) for s in ops], default=0),
        "state_bytes_max": max([s.get("memoryUsedBytes", 0) for s in ops], default=0),
        "state_rows_updated": sum(s.get("numRowsUpdated", 0) for s in ops),
        "state_update_ms": sum(s.get("allUpdatesTimeMs", 0) for s in ops),
        "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in ops),
        "late_rows_dropped": _dropped(progress),
    }


def run(ctx: Ctx) -> None:
    tr = ctx.tracer
    with tr.span("session"):
        spark, start_s = start_session(ctx)
    ctx.layers["session.start_s"] = start_s
    t_setup = time.perf_counter()
    src = os.path.join(ctx.work, "slices")
    with tr.span("generate"):
        trips = gen.write_stream_trips(
            src, ctx.seed, N_TRIPS, READINGS_PER_TRIP, N_SLICES, SLICE_S, LATE
        )
        # the file source takes files oldest first: pin the arrival order
        now = time.time()
        for i, f in enumerate(trips.files):
            os.utime(f, (now - len(trips.files) + i, now - len(trips.files) + i))
        want = expected.expected_table(trips)
        want.pop(trips.sentinel_trip, None)
    t_gen = time.perf_counter()
    s = Stream(ctx, src)

    # before timing: parse keeps exactly the valid lines; then one whole
    # untimed run to the noop sink. Its first micro-batch carries the JIT
    # and Python-worker start, and its last one is the first to fire
    # session timeouts and emit trips; a timed run no longer pays either.
    with tr.span("warmup"):
        from flink_template_spark.parse import parse_trip_events

        rows_out = parse_trip_events(spark.read.text(src)).count()
        ctx.expect("parse.rows_out", rows_out, trips.valid)
        warm_s, warm_progress, _ = s.run()
    t_warm = time.perf_counter()
    setup_s = start_s + t_warm - t_setup

    # timed runs go to a memory sink, so every run's emitted trips are
    # compared with the expected table (a noop sink would leave nothing to
    # check; the sink receives the 100 trip rows once, in the last batch)
    walls: list[float] = []
    batch_ms: list[float] = []
    last: list[dict] = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or not walls:
        try:
            with tr.span("trip_sessions"):
                wall, last, name = s.run(sink="memory")
        except Exception as exc:
            ctx.check(1, 1, [f"stream run failed: {type(exc).__name__}: {str(exc)[:200]}"])
            if time.perf_counter() > t_end:
                break
            continue
        walls.append(wall)
        batch_ms += [(p.get("durationMs") or {}).get("triggerExecution", 0) for p in last]
        ctx.expect("late_rows_dropped", _dropped(last), trips.late)
        ctx.check(*expected.compare(want, [r.asDict() for r in spark.table(name).collect()]))
        spark.sql(f"DROP VIEW IF EXISTS {name}")

    eps = trips.valid * len(walls) / sum(walls) if walls else 0.0
    b50 = median(batch_ms)
    bt, bp, bn = tail(batch_ms)
    runs_ms = [w * 1e3 for w in walls]
    ctx.put("setup_s", setup_s)
    ctx.put("events_per_s", eps)
    ctx.put("batch_ms_p50", b50)
    ctx.put("batch_ms_tail", bt)
    ctx.put("pass_s", median(walls))
    ctx.put("query_ms_p50", median(runs_ms))
    ctx.put("query_ms_tail", tail(runs_ms)[0])
    ctx.detail.update(
        {
            "events": trips.valid,
            "lines": trips.lines,
            "trips": len(want),
            "planted": {"late": trips.late, "duplicates": trips.duplicates, "invalid": trips.invalid},
            "session_start_s": start_s,
            "generate_s": t_gen - t_setup,
            "warmup_s": t_warm - t_gen,
            "warmup_run": {
                "wall_s": warm_s,
                "batch_ms": [(p.get("durationMs") or {}).get("triggerExecution", 0) for p in warm_progress],
            },
            "run_s": walls,
            "batch_ms": batch_ms,
            "batch_tail_percentile": bp,
            "batch_samples": bn,
            "rows_out": rows_out,
            "state": _state_summary(last),
        }
    )
    if not ctx.trace:
        return

    # traced extras: the stream's own split by prefixes of its pipeline,
    # then the batch backfill's layers (sources, parse, trip_agg)
    read_s, parse_s = [], []
    for _ in range(2):
        with tr.span("stream.sources"):
            read_s.append(s.run("sources")[0])
        with tr.span("stream.parse"):
            parse_s.append(s.run("parse")[0])
    r, rp, f = median(read_s), median(parse_s), median(walls)
    ctx.detail["stream_prefix_samples"] = [read_s, parse_s, walls]
    layers = backfill.measure(ctx)
    st = _state_summary(last)
    ctx.layers.update(
        {
            **layers,
            "sources.stream_self_s": r,
            "parse.stream_self_s": rp - r,
            "parse.stream_keep_ratio": rows_out / trips.lines,
            "trip_sessions.self_s": f - rp,
            **{f"trip_sessions.{k}": v for k, v in st.items()},
        }
    )
