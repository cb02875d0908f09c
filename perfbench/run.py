"""Benchmark entry point.

    python3 perfbench/run.py --workload {trip_stream,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the engine is imported from there. The
inputs are generated from ``--seed`` before timing, in this process. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The lines above it
print each metric with its unit, the failure share and the host fields.
The full record (spans, samples, host fields, per-query detail) is
written to ``perfbench/records/``. Scratch files live under
``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("trip_stream", "query_mix")
DEADLINE_S = 170  # the run must end within 180 s


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from it."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_children(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM and wait until every child process has ended."""
    from perfbench.host import tree_pids

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=timeout_s)
    except Exception:
        pass
    me = os.getpid()
    t_end = time.monotonic() + timeout_s
    while time.monotonic() < t_end:
        kids = tree_pids(me) - {me}
        if not kids:
            return
        time.sleep(0.2)
    for pid in tree_pids(me) - {me}:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _watchdog() -> None:
    """Past the deadline: kill the process tree and exit without a result."""

    def fire():
        print(f"perfbench: run passed its {DEADLINE_S} s deadline", file=sys.stderr)
        from perfbench.host import tree_pids

        for pid in tree_pids(os.getpid()) - {os.getpid()}:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()


def _spec() -> dict:
    """BENCHMARK.json: the metric names, units and directions."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _code_id() -> str:
    """A hash of the engine's and the benchmark's sources, so that a record
    names the code it measured."""
    files = sorted(
        glob.glob(os.path.join(ROOT, "flink_template_spark", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        + [os.path.join(ROOT, f) for f in ("bench.py", "tests/oracle_check.py", "BENCHMARK.json")]
    )
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _overhead(record: dict, records_dir: str) -> dict:
    """Traced minus untraced, per end-to-end metric, against the latest
    untraced record of the same workload, code and ``--seconds`` (same
    seed preferred). Without one, the overhead is reported missing."""
    mine = []
    for f in sorted(glob.glob(os.path.join(records_dir, "*.json")), key=os.path.getmtime):
        with open(f) as fh:
            r = json.load(fh)
        if (
            r.get("workload") == record["workload"]
            and not r.get("trace")
            and r.get("code_id") == record["code_id"]
            and r.get("seconds") == record["seconds"]
        ):
            mine.append(r)
    if not mine:
        return {
            "missing": "no untraced record of this code, workload and --seconds "
            "in perfbench/records/: run with --trace 0 first"
        }
    same = [r for r in mine if r["host"]["seed"] == record["host"]["seed"]]
    base = (same or mine)[-1]
    return {
        "untraced_record": base["file"],
        "delta": {
            k: record["end_to_end"][k] - v
            for k, v in base["end_to_end"].items()
            if k in record["end_to_end"]
        },
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flink_template_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records_dir = os.path.join(ROOT, "perfbench", "records")
    _prepare_env(work)
    _watchdog()

    from perfbench import host
    from perfbench.common import Ctx, Tracer

    spec = _spec()
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    rss = host.PeakRss()
    contention = host.Contention()
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    ctx = Ctx(
        work=work,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        nproc=host.nproc(),
        tracer=Tracer(bool(args.trace), run_id),
    )
    try:
        mod = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        mod.run(ctx)
        hostrun = contention.stop()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            try:
                ctx.spark.stop()
            except Exception:
                pass
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)
    ctx.layers["session.peak_rss_mb"] = rss.stop()
    ctx.detail["peak_rss_parts_mb"] = {k: v / 1024 for k, v in rss.parts_kb.items()}

    e2e = {k: ctx.metrics[k] for k in end_to_end if k in ctx.metrics}
    layers = {k: float(ctx.layers.get(k, 0)) for k in per_layer}
    record = {
        "file": f"{run_id}-t{args.trace}.json",
        "workload": args.workload,
        "trace": bool(args.trace),
        "seconds": args.seconds,
        "code_id": _code_id(),
        "host": {**host.facts(args.seed), **hostrun},
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "fail_share": ctx.failed / max(1, ctx.attempted),
        "peak_rss_mb": layers["session.peak_rss_mb"],
        "failures": ctx.failures,
        "end_to_end": e2e,
        "per_layer": layers if args.trace else {},
        "detail": ctx.detail,
        "spans": ctx.tracer.dump(),
    }
    if args.trace:
        record["tracing_overhead"] = _overhead(record, records_dir)
    os.makedirs(records_dir, exist_ok=True)
    with open(os.path.join(records_dir, record["file"]), "w") as fh:
        json.dump(record, fh, indent=1, default=float)

    for k, v in e2e.items():
        print(f"{k} {v:.6g} {end_to_end[k]}")
    print(f"peak_rss_mb {layers['session.peak_rss_mb']:.6g} MiB")
    print(f"fail_share {record['fail_share']:.6g} ratio ({ctx.failed}/{ctx.attempted})")
    for msg in ctx.failures:
        print(f"failure: {msg}")
    print("host " + json.dumps(record["host"]))
    if args.trace:
        oh = record["tracing_overhead"]
        print("tracing_overhead " + json.dumps(oh))
        for k, v in layers.items():
            print(f"{k} {v:.6g} {per_layer[k]}")
        shown = {k: {"value": v, "unit": per_layer[k]} for k, v in layers.items()}
    else:
        shown = {k: {"value": v, "unit": end_to_end[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": max(1, ctx.attempted),
                "failed": ctx.failed,
                "metrics": shown,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
