"""Host facts and contention probes from /proc, so a slow reading can be
judged from its record alone.

Per run: steal share (hypervisor), external-CPU share (CPU burnt by
processes outside this benchmark's process tree, kernel threads excluded),
the tree's own CPU seconds, load1. Once per record: nproc, MemTotal, Spark
and Python versions.
Also a sampler for the peak resident memory of the process tree (the
Python driver, the Spark JVM and its Python workers).
"""

from __future__ import annotations

import os
import platform
import threading


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> float | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def facts(seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def _stat_line() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _procs() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, jiffies, comm) for every visible process. The jiffies
    are utime+stime plus cutime+cstime, so the time of a child that has
    ended and been reaped stays with its parent."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        head, rest = s.rsplit(")", 1)
        f = rest.split()
        out[int(d)] = (int(f[1]), sum(int(v) for v in f[11:15]), head.split("(", 1)[-1])
    return out


def _tree(procs: dict, root: int | None) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    seen, stack = set(), [] if root is None else [root]
    while stack:
        p = stack.pop()
        if p in seen or p not in procs:
            continue
        seen.add(p)
        stack.extend(kids.get(p, []))
    return seen


def tree_pids(root: int) -> set[int]:
    return _tree(_procs(), root)


class Contention:
    """Measures steal, external CPU and load1 over a window.

    A tree's CPU time is the sum of its processes' jiffies, each counting
    its reaped children, so a process that ends inside the window (a
    Spark Python worker, say) still counts as the tree's own: its time
    moves to its parent when it is reaped."""

    def __init__(self) -> None:
        self._t0 = self._snap()

    @staticmethod
    def _snap():
        stat = _stat_line()
        procs = _procs()
        kthreadd = next(
            (p for p, (pp, _, c) in procs.items() if c == "kthreadd" and pp == 0), None
        )
        ours = sum(procs[p][1] for p in _tree(procs, os.getpid()))
        kern = sum(procs[p][1] for p in _tree(procs, kthreadd))
        return stat, ours, kern

    def stop(self) -> dict:
        (s0, o0, k0), (s1, o1, k1) = self._t0, self._snap()
        out = {"load1": round(os.getloadavg()[0], 2)}
        if not s0 or not s1:
            return out
        total = sum(s1) - sum(s0)
        if total <= 0:
            return out
        idle = (s1[3] + s1[4]) - (s0[3] + s0[4])
        steal = (s1[7] - s0[7]) if len(s1) > 7 else 0
        own = max(0, o1 - o0)
        external = max(0, total - idle - steal - own - max(0, k1 - k0))
        out["steal_share"] = round(steal / total, 4)
        out["external_cpu_share"] = round(external / total, 4)
        out["own_cpu_s"] = round(own / os.sysconf("SC_CLK_TCK"), 2)
        return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Background sampler of the summed RSS of this process's tree. Also
    keeps the peak of each part: this process, the JVM, everything else
    (Spark's Python workers)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_kb = 0
        self.parts_kb = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> None:
        me = os.getpid()
        procs = _procs()
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        for pid in _tree(procs, me):
            part = "driver" if pid == me else "jvm" if procs[pid][2] == "java" else "workers"
            parts[part] += _rss_kb(pid)
        self.peak_kb = max(self.peak_kb, sum(parts.values()))
        for k, v in parts.items():
            self.parts_kb[k] = max(self.parts_kb[k], v)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024
