"""Measurement plumbing shared by the workloads.

- ``Spans``: an in-memory span recorder (name, start, end, parent)
  with self-time derivation; spans are written out once, at the end.
- ``JobCounter``: Spark jobs launched by one call, counted from outside
  the engine with ``setJobGroup`` plus the ``StatusTracker``.
- ``ProcSampler``: ``/proc/stat`` steal share and peak RSS of the
  driver (this Python process) and of the Spark JVM.
- ``tree_cpu_s``: CPU seconds of this process and its descendants.
- ``summary``: median / tail percentile / sample count of a sample list.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n * q / 100)
    return s[int(rank) - 1]


def tail_q(n: int) -> float:
    """The highest of p90/p99 that still leaves >= 10 samples beyond
    it; 50 when even p90 has fewer than 10 beyond it."""
    for q in (99.0, 90.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0


def summary(values: list[float]) -> dict:
    """Median, tail percentile and count (the detail line's shape)."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": statistics.median(values)}
    q = tail_q(len(values))
    if q > 50:
        out[f"p{q:g}"] = pctl(values, q)
    return out


class Spans:
    """In-memory spans. ``enabled=False`` makes ``span`` a no-op so the
    untraced run pays nothing but one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        row = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (children of one parent never overlap: one client thread)."""
        child_s: dict[int, float] = {}
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                child_s[r["parent"]] = child_s.get(r["parent"], 0.0) + (
                    r["end"] - r["start"]
                )
        return {
            r["id"]: (r["end"] - r["start"]) - child_s.get(r["id"], 0.0)
            for r in self.rows
            if r["end"] is not None
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.rows[0]["start"] if self.rows else 0.0
        out = []
        for r in self.rows:
            if r["end"] is None:
                continue
            row = dict(r)
            row["start"] -= t0
            row["end"] -= t0
            row["self_s"] = selfs[r["id"]]
            out.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


class JobCounter:
    """Counts the Spark jobs one call launches: the call runs under a
    fresh job group and the status tracker lists that group's jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count()

    @contextmanager
    def group(self, label: str):
        gid = f"perfbench-{label}-{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            # PySpark has no clearJobGroup: park later jobs in a group
            # that is never read
            self.sc.setJobGroup("perfbench-idle", "untracked")
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice, so the total stops at steal
    total = sum(fields[:8])
    return total, fields[7]


def _peak_rss_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcSampler:
    """Steal share over the measured window and peak RSS at its end."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self._t0 = _cpu_ticks()

    def restart(self) -> None:
        self._t0 = _cpu_ticks()

    def read(self) -> dict:
        total, steal = _cpu_ticks()
        d_total = max(total - self._t0[0], 1)
        return {
            "steal_pct": 100.0 * (steal - self._t0[1]) / d_total,
            "driver_rss_mb": _peak_rss_mb("self"),
            "jvm_rss_mb": _peak_rss_mb(self.jvm_pid) if self.jvm_pid else 0.0,
        }


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, plus the reaped children each of them waited for:
    the driver, the Spark JVM and its Python workers."""
    root = os.getpid()
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces: fields restart after ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stats[int(name)] = (ppid, ticks / _CLK_TCK)
    total = 0.0
    for pid, (_ppid, cpu) in stats.items():
        p = pid
        while p in stats and p != root:
            p = stats[p][0]
        if p == root:
            total += cpu
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
