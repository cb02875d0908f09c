"""query_mix: the 15 headline queries, one client, closed loop.

Each query is ``plans.QUERIES[name](spark, sf_dir)`` (plan build, which
includes ``tables.load_table``) followed by a run to the noop sink. The
tables are generated from the seed. Before timing, a checking pass
collects each query's result and compares it with its ``plans.ORACLES``
SQL in DuckDB, and two more untimed passes warm up; then at least four
passes are timed. The comparison is the repo's own
(``tests/oracle_check.compare``), so the benchmark fails a query exactly
when the repo's correctness check does. The untimed passes are set-up,
not the workload: they run ``nproc`` queries at a time, which the cold
JVM turns into JIT warm-up faster than one query at a time. The timed
passes run one query at a time.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from bench import HEADLINE  # the 15 headline queries, in the order a pass runs them
from perfbench import eventlog, gen
from perfbench.common import Ctx, median, noop, start_session, stop_session, tail

SF = 0.02
WARM_PASSES = 2
MIN_PASSES = 4


def run(ctx: Ctx) -> None:
    tr = ctx.tracer
    with tr.span("session"):
        spark, start_s = start_session(ctx)
    ctx.layers["session.start_s"] = start_s
    t_setup = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "tables")
    with tr.span("generate"):
        rows = gen.write_tables(sf_dir, ctx.seed, SF)
    t_gen = time.perf_counter()

    from flink_template_spark import plans
    from tests.oracle_check import compare, duckdb_conn

    def one(name: str) -> tuple[float, float]:
        t0 = time.perf_counter()
        df = plans.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        noop(df)
        t2 = time.perf_counter()
        return (t1 - t0) * 1e3, (t2 - t1) * 1e3

    def failure(name: str, exc: Exception) -> str:
        return f"{name}: {type(exc).__name__}: {str(exc)[:200]}"

    # check pass: each query once against its DuckDB oracle (untimed);
    # each thread reads DuckDB through its own cursor
    con = duckdb_conn(sf_dir)

    def check(name: str) -> tuple[str | None, float]:
        cur = con.cursor()
        t0 = time.perf_counter()
        try:
            ok, msg = compare(plans.QUERIES[name](spark, sf_dir), cur, plans.ORACLES[name])
            why = None if ok else msg
        except Exception as exc:
            why = failure(name, exc)
        finally:
            cur.close()
        return why, (time.perf_counter() - t0) * 1e3

    def warm(name: str) -> str | None:
        try:
            one(name)
        except Exception as exc:
            return failure(name, exc)
        return None

    # the check pass leaves the JIT far from settled: walls keep falling
    # for ten passes. Two untimed passes, overlapped like the check pass,
    # take the steepest part of that fall; the median of the timed passes
    # drops the rest of it, as it does a pass slowed by the host.
    warm_s = []
    with ThreadPoolExecutor(ctx.nproc) as pool:
        with tr.span("check"):
            checked = dict(zip(HEADLINE, pool.map(check, HEADLINE)))
        con.close()
        t_check = time.perf_counter()
        with tr.span("warmup"):
            for _ in range(WARM_PASSES):
                t0 = time.perf_counter()
                for err in pool.map(warm, HEADLINE):
                    ctx.check(1, int(err is not None), [err] if err else [])
                warm_s.append(time.perf_counter() - t0)
    for name, (why, _) in checked.items():
        ctx.expect(f"{name} vs oracle", why, None)
    check_ms = {name: ms for name, (_, ms) in checked.items()}
    setup_s = start_s + time.perf_counter() - t_setup

    def one_pass() -> tuple[float, dict]:
        walls = {}
        t0 = time.perf_counter()
        for name in HEADLINE:
            try:
                with tr.span(f"plans.{name}"):
                    walls[name] = one(name)
                ctx.check(1, 0)
            except Exception as exc:
                ctx.check(1, 1, [failure(name, exc)])
        return time.perf_counter() - t0, walls

    passes: list[float] = []
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in HEADLINE}
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        wall, walls = one_pass()
        passes.append(wall)
        for name, bw in walls.items():
            per_query[name].append(bw)

    walls = [b + e for v in per_query.values() for b, e in v]
    qt, qp, qn = tail(walls)
    n_rows = sum(rows.values())
    pass_ms = [p * 1e3 for p in passes]
    ctx.put("setup_s", setup_s)
    ctx.put("events_per_s", n_rows / median(passes))
    ctx.put("batch_ms_p50", median(pass_ms))
    ctx.put("batch_ms_tail", tail(pass_ms)[0])
    ctx.put("pass_s", median(passes))
    ctx.put("query_ms_p50", median(walls))
    ctx.put("query_ms_tail", qt)
    ctx.detail.update(
        {
            "sf": SF,
            "rows": rows,
            "session_start_s": start_s,
            "generate_s": t_gen - t_setup,
            "check_s": t_check - t_gen,
            "check_ms": check_ms,
            "warmup_pass_s": warm_s,
            "pass_s": passes,
            "query_tail_percentile": qp,
            "query_samples": qn,
            "per_query_ms": {n: [[round(b, 3), round(e, 3)] for b, e in v] for n, v in per_query.items()},
        }
    )
    if not ctx.trace:
        return

    stop_session(ctx)
    counts = eventlog.read(ctx.event_log_dir)
    per_pass = len(passes)
    detail = {}
    for name in HEADLINE:
        c = eventlog.total(counts, tr.ids(f"plans.{name}"))
        detail[name] = {k: v / per_pass if k != "task_skew" else v for k, v in c.items()}
    tot = eventlog.total(counts, [i for n in HEADLINE for i in tr.ids(f"plans.{n}")])
    ctx.detail["plans"] = detail
    ctx.layers.update({
        "plans.build_ms": sum(b for v in per_query.values() for b, _ in v) / per_pass,
        "plans.exec_ms": sum(e for v in per_query.values() for _, e in v) / per_pass,
        "plans.jobs": tot["jobs"] / per_pass,
        "plans.stages": tot["stages"] / per_pass,
        "plans.tasks": tot["tasks"] / per_pass,
        "plans.shuffle_bytes": tot["shuffle_write_bytes"] / per_pass,
        "plans.spill_bytes": tot["spill_bytes"] / per_pass,
        "plans.gc_ms": tot["gc_ms"] / per_pass,
        "plans.task_skew": median([d["task_skew"] for d in detail.values()]),
        "plans.failed_tasks": tot["failed_tasks"],
    })
