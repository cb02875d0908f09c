"""Counts from Spark's event log, attributed to benchmark spans.

The traced run enables the log through ``get_spark(extra_conf=...)``
(uncompressed, non-rolling; it is written with the UI off). Before each
call into a layer the benchmark sets the local property ``SPAN_PROP``, and
Spark copies local properties into every job- and stage-submitted event,
so each job's tasks can be charged to the span that caused them. The file
is read after the session stops, when it is complete.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

SPAN_PROP = "perfbench.span"


def conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _zero() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "input_bytes": 0,
        "input_records": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "gc_ms": 0,
        "fetch_wait_ms": 0,
        "run_ms": 0,
    }


def read(log_dir: str) -> dict[str, dict]:
    """span id -> summed counts over the jobs run under that span.

    Also per span: ``task_skew``, max / median task duration in the
    span's widest stage (the stage with the most tasks)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    out: dict[str, dict] = defaultdict(_zero)
    # stage ids restart with each application, so key them by file
    stage_span: dict[tuple[str, int], str] = {}
    task_ms: dict[tuple[str, int], list[int]] = defaultdict(list)
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if span is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_span[path, sid] = span
                    out[span]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = path, ev["Stage Info"]["Stage ID"]
                    if sid in stage_span:
                        out[stage_span[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = path, ev["Stage ID"]
                    span = stage_span.get(sid)
                    if span is None:
                        continue
                    acc = out[span]
                    acc["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or info.get("Killed"):
                        acc["failed_tasks"] += 1
                    task_ms[sid].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    m = ev.get("Task Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["input_bytes"] += inp.get("Bytes Read", 0)
                    acc["input_records"] += inp.get("Records Read", 0)
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    acc["run_ms"] += m.get("Executor Run Time", 0)
    by_span: dict[str, list] = defaultdict(list)
    for sid, span in stage_span.items():
        if task_ms.get(sid):
            by_span[span].append(sid)
    for span, sids in by_span.items():
        widest = max(sids, key=lambda s: (len(task_ms[s]), s))
        med = statistics.median(task_ms[widest])
        out[span]["task_skew"] = max(task_ms[widest]) / med if med > 0 else 1.0
    return dict(out)


def total(counts: dict[str, dict], spans) -> dict:
    """Sum the counts of several spans (task_skew: the largest)."""
    acc = _zero()
    acc["task_skew"] = 0.0
    for s in spans:
        c = counts.get(s)
        if not c:
            continue
        for k, v in c.items():
            acc[k] = max(acc[k], v) if k == "task_skew" else acc[k] + v
    return acc
