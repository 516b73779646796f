"""Measurement helpers for the benchmark: process-tree CPU and memory,
host stamps, percentile rules, spans, and Spark's own task accounting.

Everything here reads ``/proc`` or a local HTTP endpoint and imports no
engine module, so it can be tested without Spark.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
import urllib.request
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# A tail percentile is reported only when at least this many samples lie
# beyond it, so no reported tail rests on a single slow sample.
MIN_BEYOND = 10
# No tail is reported from fewer samples than this.
MIN_TAIL_SAMPLES = 20


# ---------------------------------------------------------------- /proc ---


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone. Index 0 is the state, 1 the ppid, 11..14 are
    utime, stime, cutime and cstime in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def _cmd_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


class CpuMeter:
    """CPU and peak memory of this (driver) process plus a child process
    tree — under a local Spark master the JVM, whose descendants are the
    Python daemon and its workers.

    Spark's Python daemon ignores SIGCHLD, so the kernel reaps a worker
    that exits without adding its CPU to any parent's cutime. The meter
    therefore remembers the last CPU it read for every member it has seen
    and keeps counting it after the member is gone. The JVM itself does
    reap its direct children, whose whole CPU then moves into its cutime,
    so a direct child that is gone is forgotten instead."""

    def __init__(self, child_pid: int) -> None:
        self.child_pid = child_pid
        # (pid, start time) -> (CPU ticks, is Python, parent pid)
        self._last: dict[tuple[int, str], tuple[int, bool, int]] = {}

    def _sample(self) -> None:
        alive = set()
        for pid in process_tree(self.child_pid):
            f = _stat_fields(pid)
            if f is not None:
                # (pid, start time) names a process even if its pid is reused
                key = (pid, f[19])
                alive.add(key)
                self._last[key] = (
                    int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
                    _cmd_name(pid).startswith("python"),
                    int(f[1]),
                )
        for key in [k for k, v in self._last.items()
                    if k not in alive and v[2] == self.child_pid]:
            del self._last[key]

    def split(self) -> dict[str, float]:
        """CPU-seconds so far of the driver, of the JVM tree's Python
        members (Spark's Python daemon and workers) and of the rest of
        the JVM tree."""
        self._sample()
        t = os.times()
        python = sum(v for v, py, _ in self._last.values() if py) / _CLK_TCK
        return {
            "driver": t.user + t.system,
            "python": python,
            "jvm": sum(v for v, _, _ in self._last.values()) / _CLK_TCK - python,
        }

    def cpu_s(self) -> float:
        """CPU-seconds of the driver plus every tree member seen so far."""
        return sum(self.split().values())

    def peak_rss_mb(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return own + _vm_hwm_mb(self.child_pid)


# ---------------------------------------------------------------- host ---


STEAL = 7  # index of steal in cpu_jiffies()


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, fields user..steal only.
    guest and guest_nice are already included in user and nice, so
    summing them too would count guest time twice."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return [int(x) for x in parts[1:9]]


class HostStamp:
    """Share of host CPU time stolen by the hypervisor and share busy,
    over the interval between ``start()`` and ``stop()``."""

    def start(self) -> None:
        self._a = cpu_jiffies()

    def stop(self) -> dict:
        b = cpu_jiffies()
        d = [y - x for x, y in zip(self._a, b)]
        total = sum(d) or 1
        idle, iowait, steal = d[3], d[4], d[STEAL]
        return {
            "host.steal_pct": 100.0 * steal / total,
            "host.busy_pct": 100.0 * (total - idle - iowait - steal) / total,
        }


# ---------------------------------------------------------- percentiles ---


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(quantile, value) of the highest percentile with MIN_BEYOND samples
    beyond it; None below MIN_TAIL_SAMPLES samples."""
    n = len(samples)
    if n < MIN_TAIL_SAMPLES:
        return None
    rank = n - MIN_BEYOND
    return rank / n, sorted(samples)[rank - 1]


def wall_summary(wall_by_class: dict[str, list[float]]) -> dict:
    """Ungated wall-clock figures per op class: sample count, median, and
    the tail where the sample supports one."""
    out = {}
    for cls, xs in sorted(wall_by_class.items()):
        out[f"wall.{cls}_n"] = len(xs)
        out[f"wall.{cls}_p50_s"] = statistics.median(xs)
        t = tail(xs)
        if t is not None:
            out[f"wall.{cls}_tail_s"] = t[1]
            out[f"wall.{cls}_tail_pct"] = round(100 * t[0], 2)
    return out


# --------------------------------------------------------------- spans ---


class Tracer:
    """In-memory spans around calls into the engine's modules. A span has
    a name, start, end, parent span and op id; they are written out only
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, covered):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


# ------------------------------------------------------ Spark accounting ---


class SparkStatus:
    """Reads Spark's own per-stage accounting from the status REST API
    (needs the UI server, which only the traced run enables)."""

    def __init__(self, ui_url: str, app_id: str) -> None:
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_jobs: set[int] = set()

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=10) as r:
            return json.loads(r.read())

    def new_since_last(self) -> dict:
        """Totals over the stages and jobs finished since the previous
        call, plus the (start, end) wall intervals of those stages."""
        stages = [
            s for s in self._get("stages")
            if s.get("status") in ("COMPLETE", "FAILED")
            and (s["stageId"], s["attemptId"]) not in self.seen_stages
        ]
        jobs = [
            j for j in self._get("jobs")
            if j.get("status") != "RUNNING" and j["jobId"] not in self.seen_jobs
        ]
        self.seen_stages |= {(s["stageId"], s["attemptId"]) for s in stages}
        self.seen_jobs |= {j["jobId"] for j in jobs}
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages),
            "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            ),
        }
        out["intervals"] = [
            (_epoch_s(s["submissionTime"]), _epoch_s(s["completionTime"]))
            for s in stages
            if s.get("submissionTime") and s.get("completionTime")
        ]
        return out


def _epoch_s(stamp: str) -> float:
    """Spark REST time stamp ('2026-01-01T00:00:00.000GMT') → epoch s."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
