import os
import sys

import pytest

# import the package of the checkout this file sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from hive_cassandra_spark.session import get_spark

    s = get_spark("tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def publish_after_first_listing(monkeypatch):
    """``arm(store, twin, version, vacuum=False)``: right after the next
    listing of ``store``'s ``_occ-v*`` markers returns, publish the
    commit ``version`` of ``twin`` (a copy of the store that already
    took that commit) into ``store`` — its parts, then its marker — and
    with ``vacuum`` run ``occ_vacuum`` on ``store``. That is a
    concurrent writer committing between a writer's read of the log and
    its own commit. Returns a list that records the firing."""
    import glob
    import os
    import shutil

    from hive_cassandra_spark import sink

    real_glob = glob.glob
    fired = []

    def arm(store, twin, version, vacuum=False):
        def racing_glob(pattern, *args, **kwargs):
            out = real_glob(pattern, *args, **kwargs)
            if pattern == os.path.join(store, "_occ-v*") and not fired:
                fired.append(pattern)
                for f in real_glob(os.path.join(
                        twin, "*", f"part-occ-v{version:09d}-*.parquet")):
                    table = os.path.basename(os.path.dirname(f))
                    shutil.copy(f, os.path.join(store, table))
                shutil.copy(
                    os.path.join(twin, f"_occ-v{version:09d}"), store
                )
                if vacuum:
                    sink.occ_vacuum(store)
            return out

        monkeypatch.setattr(glob, "glob", racing_glob)
        return fired

    return arm
