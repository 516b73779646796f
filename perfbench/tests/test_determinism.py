"""The op sequence and the count metrics are pure functions of the seed.

The sequence tests need no Spark; the count-metric test runs the
occ_ingest workload twice on a tiny input with a local session.
"""

import os

import pytest

import cell_scan
import occ_ingest
import run


class _Ctx:
    """Just enough of run.Context to build op lists without Spark."""

    def __init__(self, seed, workdir="", spark=None):
        import meter

        self.seed, self.workdir, self.spark = seed, workdir, spark
        self.tracer = meter.Tracer(False)


def _signature(ops):
    return [(op.cls, op.kind, op.units, repr(op.detail)) for op in ops]


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(cell_scan, "ROWS", 300)
    monkeypatch.setattr(occ_ingest, "ROWS", 300)
    monkeypatch.setattr(occ_ingest, "DELTA_CELLS", 60)


def _cell_scan_ops(seed):
    w = cell_scan.CellScan(_Ctx(seed))
    return [_signature(w.cycle_ops(c)) for c in range(3)]


def _occ_ingest_ops(seed):
    w = occ_ingest.OccIngest(_Ctx(seed))
    w.reset()
    return [_signature(w.cycle_ops(c)) for c in range(3)]


@pytest.mark.parametrize("ops", [_cell_scan_ops, _occ_ingest_ops])
def test_same_seed_same_sequence_other_seed_another(tiny, ops):
    assert ops(7) == ops(7)
    assert ops(7) != ops(8)


def test_count_metrics_repeat_exactly_for_one_seed(tiny, tmp_path):
    spark = run.start_session(str(tmp_path / "session"), trace=False)
    try:
        counts = {"occ_ingest": [], "cell_scan": []}
        for i in range(2):
            ctx = _Ctx(5, str(tmp_path / f"run{i}"), spark)
            os.makedirs(ctx.workdir)
            w = occ_ingest.OccIngest(ctx)
            w.build(0)
            for c in range(2):
                for op in w.cycle_ops(c):
                    assert op.check(op.run()), op.kind
            w.snapshot_counts()
            assert w.final_check()
            counts["occ_ingest"].append(w.counts)
            w = cell_scan.CellScan(ctx)
            w.build(1)
            assert w.final_check()
            counts["cell_scan"].append(w.counts)
        for name, (first, second) in counts.items():
            assert first == second, name
        assert counts["occ_ingest"][0]["bytes_written_per_user_byte"] > 1.0
    finally:
        spark.stop()
