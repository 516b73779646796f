"""The benchmark's measurement helpers, without Spark."""

import os
import signal
import subprocess
import sys
import time

import meter

BUSY_CHILD = """
import time
t = time.time()
while time.time() - t < 1.0:
    pass
time.sleep(30)
"""

# the shape of Spark's Python daemon under the JVM: the root's child
# ignores SIGCHLD and has a worker that burns CPU and exits while the
# child lives on
IGNORING_PARENT = """
import os, signal, time
if os.fork() == 0:
    signal.signal(signal.SIGCHLD, signal.SIG_IGN)
    if os.fork() == 0:
        t = time.time()
        while time.time() - t < 1.0:
            pass
        os._exit(0)
    time.sleep(30)
    os._exit(0)
time.sleep(30)
"""

# a parent that reaps its busy child, so the child's CPU moves into the
# parent's cutime
REAPING_PARENT = """
import os, time
pid = os.fork()
if pid == 0:
    t = time.time()
    while time.time() - t < 1.0:
        pass
    os._exit(0)
time.sleep(0.5)
os.waitpid(pid, 0)
time.sleep(30)
"""


def _spawn(code):
    return subprocess.Popen([sys.executable, "-c", code], start_new_session=True)


def _tree_cpu_s(m):
    s = m.split()
    return s["python"] + s["jvm"]


def test_cpu_meter_counts_a_busy_child():
    child = _spawn(BUSY_CHILD)
    try:
        m = meter.CpuMeter(child.pid)
        before = m.cpu_s()
        time.sleep(1.5)
        assert m.cpu_s() - before > 0.6
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=10)


def test_cpu_meter_keeps_cpu_of_a_worker_that_exited():
    child = _spawn(IGNORING_PARENT)
    try:
        m = meter.CpuMeter(child.pid)
        time.sleep(0.8)
        mid = _tree_cpu_s(m)  # the worker is alive and has burnt CPU
        time.sleep(1.5)
        assert len(meter.process_tree(child.pid)) == 2  # worker gone
        assert _tree_cpu_s(m) >= mid > 0.4
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=10)


def test_cpu_meter_counts_a_reaped_child_once():
    child = _spawn(REAPING_PARENT)
    try:
        m = meter.CpuMeter(child.pid)
        time.sleep(0.8)
        m.cpu_s()  # sees the child alive, most of the way through
        time.sleep(1.2)
        assert len(meter.process_tree(child.pid)) == 1  # child reaped
        assert 0.8 < _tree_cpu_s(m) < 1.5
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait(timeout=10)


def test_host_stamp_shares_are_percentages():
    h = meter.HostStamp()
    h.start()
    time.sleep(0.2)
    s = h.stop()
    assert 0.0 <= s["host.steal_pct"] <= 100.0
    assert 0.0 <= s["host.busy_pct"] <= 100.0


def test_tail_refuses_fewer_than_ten_samples_beyond():
    assert meter.tail([1.0] * 19) is None  # too few samples for any tail
    q, v = meter.tail([float(i) for i in range(20)])
    assert (q, v) == (0.5, 9.0)  # ten samples beyond the 50th percentile
    q, v = meter.tail([float(i) for i in range(200)])
    assert q == 0.95 and v == 189.0  # p99 would have two beyond: refused


def test_wall_summary_reports_median_and_only_supported_tails():
    out = meter.wall_summary({"scan": [0.1, 0.3, 0.2]})
    assert out == {"wall.scan_n": 3, "wall.scan_p50_s": 0.2}
    out = meter.wall_summary({"scan": [float(i) for i in range(30)]})
    assert out["wall.scan_tail_s"] == 19.0 and out["wall.scan_tail_pct"] == 66.67


def test_tracer_self_time_subtracts_children():
    tr = meter.Tracer(True)
    with tr.span("outer"):
        time.sleep(0.05)
        with tr.span("inner"):
            time.sleep(0.1)
    st = tr.self_times()
    assert 0.04 < st["outer"] < 0.1
    assert st["inner"] >= 0.1
    assert meter.Tracer(False).spans == []


def test_covered_merges_overlapping_intervals():
    assert meter.covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert meter.covered_s([(0, 2)], 1, 10) == 1
