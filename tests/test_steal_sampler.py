"""Host steal accounting shared by bench.py and tools/tier_drift.py."""

from tools.steal_sampler import window


def test_window_does_not_count_guest_jiffies_twice():
    # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
    # guest guest_nice; guest time is already included in user/nice
    a = (100, 0, 50, 800, 0, 0, 0, 10, 40, 0)
    b = (200, 0, 100, 1600, 0, 0, 0, 30, 90, 0)
    total = 100 + 50 + 800 + 20
    assert window(a, b) == {
        "steal_pct": round(100.0 * 20 / total, 2),
        "busy_pct": round(100.0 * 150 / total, 2),
    }


def test_window_degrades_to_none():
    snap = (1, 0, 1, 1, 0, 0, 0, 0)
    assert window(None, snap) == {"steal_pct": None, "busy_pct": None}
    assert window(snap, snap) == {"steal_pct": None, "busy_pct": None}
