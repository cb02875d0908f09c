"""Shared pieces: the run context, spans, statistics and session start."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import eventlog


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, i.e. the (n-10)th smallest of n samples. With
    fewer than 20 samples that would sit below the median, so the
    median is reported and the percentile reads 50."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return median(s), 50.0, n
    return float(s[n - 11]), round(100.0 * (n - 10) / n, 1), n


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    id: str = ""


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written with the record. Disabled, it records nothing and sets no
    Spark property, so an untraced run pays only a function call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            id=f"{self.run_id}/{len(self.spans)}:{name}",
        )
        self.spans.append(sp)
        self._stack.append(sp)
        prev = None
        if self._spark is not None:
            sc = self._spark.sparkContext
            prev = sc.getLocalProperty(eventlog.SPAN_PROP)
            sc.setLocalProperty(eventlog.SPAN_PROP, sp.id)
            sc.setJobDescription(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._spark is not None:
                sc = self._spark.sparkContext
                sc.setLocalProperty(eventlog.SPAN_PROP, prev)
                sc.setJobDescription(prev)

    def ids(self, name: str) -> list[str]:
        return [s.id for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run": self.run_id,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
            }
            for s in self.spans
        ]


@dataclass
class Ctx:
    work: str
    workload: str
    seed: int
    seconds: int
    trace: bool
    nproc: int
    tracer: Tracer
    spark: object = None
    metrics: dict = field(default_factory=dict)  # end-to-end name -> value
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # per-layer name -> value
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def put(self, name: str, value) -> None:
        self.metrics[name] = value

    def check(self, attempted: int, failed: int, msgs=()) -> None:
        self.attempted += attempted
        self.failed += failed
        self.failures.extend(list(msgs)[: max(0, 20 - len(self.failures))])

    def expect(self, what: str, got, want) -> None:
        """One attempted check: ``got`` must equal ``want``."""
        self.check(1, int(got != want), [] if got == want else [f"{what}: {got} != {want}"])

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")


def start_session(ctx: Ctx, master: str | None = None, app: str = "perfbench"):
    """``session.get_spark`` at local[nproc] (or ``master``); in a traced
    run the event log is switched on through ``extra_conf``. Returns the
    session and the wall time of the call."""
    from flink_template_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if ctx.trace:
        extra.update(eventlog.conf(ctx.event_log_dir))
    master = master or f"local[{ctx.nproc}]"
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, master=master, shuffle_partitions=ctx.nproc, extra_conf=extra)
    dt = time.perf_counter() - t0
    ctx.tracer.bind(spark)
    ctx.spark = spark
    return spark, dt


def stop_session(ctx: Ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
    ctx.spark = None
    ctx.tracer.bind(None)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
