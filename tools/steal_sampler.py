"""Hypervisor-steal sampling from /proc/stat — the measurement-substrate
fix of the r13 verdict (item 1): this VM's bench numbers carry
intermittent noisy-neighbor windows (identical unchanged queries
measuring 2-15x apart minutes apart), and OPTIMIZATION_r13.md §9 pinned
the mechanism to hypervisor steal bursts of 10-14% with ad-hoc /proc/stat
sampling that lived only in prose. This module makes that evidence
driver-visible: bench.py snapshots the cumulative CPU counters around
every timed query and stamps the window's steal%/busy% into
bench_out.json itself, so a reader of the official artifact can see
which rows were timed under contention without any forensics.

/proc/stat's first line is cumulative jiffies since boot:

    cpu  user nice system idle iowait irq softirq steal guest guest_nice

``steal`` (field 8) counts involuntary wait — ticks the hypervisor ran
someone else while this guest had runnable work. Because the counters
are cumulative, two snapshots bracket a window exactly; no sampling
thread, no overhead inside the timed region beyond one ~50 us file read
on each side.

Usage as a library (what bench.py does):

    s0 = cpu_snapshot()
    ... timed work ...
    w = window(s0, cpu_snapshot())   # {"steal_pct": .., "busy_pct": ..}

Usage standalone (watch the box while deciding whether to trust a run):

    python tools/steal_sampler.py [--interval 5] [--count 12]
"""

from __future__ import annotations

import json
import sys
import time


def cpu_snapshot() -> tuple[int, ...] | None:
    """Cumulative (user, nice, system, idle, iowait, irq, softirq,
    steal, ...) jiffies from /proc/stat's aggregate cpu line, or None on
    platforms without it (the bench then stamps nulls, never fails)."""
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
    except OSError:
        return None
    if not first or first[0] != "cpu":
        return None
    return tuple(int(x) for x in first[1:])


def window(a: tuple[int, ...] | None, b: tuple[int, ...] | None) -> dict:
    """Steal and busy percentages over the window between two snapshots.

    steal_pct = steal ticks / total ticks elapsed across all CPUs —
    the fraction of guest-runnable time the hypervisor took. busy_pct =
    non-idle, non-iowait, non-steal ticks / total (how hard the guest
    itself was working). Either is None when snapshots are unavailable
    or no ticks elapsed (sub-jiffy window)."""
    if a is None or b is None:
        return {"steal_pct": None, "busy_pct": None}
    # fields 8-9 (guest, guest_nice) are already counted in user/nice:
    # only the first eight fields partition the elapsed time
    n = min(len(a), len(b), 8)
    d = [b[i] - a[i] for i in range(n)]
    total = sum(d)
    if total <= 0:
        return {"steal_pct": None, "busy_pct": None}
    steal = d[7] if n > 7 else 0
    idle = (d[3] if n > 3 else 0) + (d[4] if n > 4 else 0)
    busy = total - idle - steal
    return {
        "steal_pct": round(100.0 * steal / total, 2),
        "busy_pct": round(100.0 * busy / total, 2),
    }


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--interval", type=float, default=5.0)
    ap.add_argument("--count", type=int, default=12)
    args = ap.parse_args()
    prev = cpu_snapshot()
    for _ in range(args.count):
        time.sleep(args.interval)
        cur = cpu_snapshot()
        w = window(prev, cur)
        w["ts"] = round(time.time(), 1)
        print(json.dumps(w), flush=True)
        prev = cur


if __name__ == "__main__":
    main()
    sys.exit(0)
