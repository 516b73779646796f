"""Session helpers: the required-conf pin, literal DataFrames and the
zip-archive cache guard."""

import importlib
import logging
import os
import sys
import zipfile
import zipimport
from decimal import Decimal

import pytest

from hive_cassandra_spark.session import (
    _REQUIRED_RUNTIME_CONF,
    ensure_session_confs,
    local_df,
)


def test_ensure_session_confs_warns_on_refused_conf(caplog):
    """A deployment that refuses a correctness-critical conf does not
    fail the query, but each refusal is logged with the key, the wanted
    value and the error."""

    class RefusingConf:
        def get(self, key, default=None):
            return default

        def set(self, key, value):
            raise RuntimeError(f"cannot modify {key}")

    class StubSession:
        conf = RefusingConf()

    with caplog.at_level(logging.WARNING, logger="hive_cassandra_spark"):
        ensure_session_confs(StubSession())
    warned = [r.getMessage() for r in caplog.records
              if r.levelno == logging.WARNING]
    assert len(warned) == len(_REQUIRED_RUNTIME_CONF)
    for (key, want), msg in zip(_REQUIRED_RUNTIME_CONF.items(), warned):
        assert key in msg and want in msg
        assert f"cannot modify {key}" in msg


def test_local_df_logs_its_fallback(spark, caplog):
    """A value Arrow refuses (``Decimal("1.55")`` has more digits than
    ``decimal(3,1)`` holds) still builds the frame through the classic
    path, with its rows, and the fallback is logged with the exception
    type."""
    rows = [(Decimal("1.55"),)]
    with caplog.at_level(logging.WARNING, logger="hive_cassandra_spark"):
        df = local_df(spark, rows, "v decimal(3,1)")
    warned = [r.getMessage() for r in caplog.records
              if r.levelno == logging.WARNING and r.name.startswith("hive_cassandra_spark")]
    assert len(warned) == 1
    assert "local_df fell back" in warned[0] and "ArrowInvalid" in warned[0]
    assert df.collect() == spark.createDataFrame(rows, "v decimal(3,1)").collect()
    assert [r.v for r in df.collect()] == [Decimal("1.6")]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_df_keeps_big_bigints_exact(spark, caplog):
    """A bigint above 2**53 next to a NULL keeps every digit (no float64
    detour) and the frame plans as a ``LocalTableScan``."""
    with caplog.at_level(logging.WARNING, logger="hive_cassandra_spark"):
        df = local_df(spark, [(2**60 + 1,), (2**63 - 1,), (None,)], "v bigint")
    assert [r.v for r in df.collect()] == [2**60 + 1, 2**63 - 1, None]
    assert "LocalTableScan" in _plan(df) and "ExistingRDD" not in _plan(df)
    assert not [r for r in caplog.records if r.name.startswith("hive_cassandra_spark")]


@pytest.mark.parametrize("rows", [
    [("x", 7, 2**60 + 1, 1.5, b"\x00\xff", ["p", None]),
     (None, None, None, None, None, None),
     ("", -2**31, -(2**63), -0.0, b"", [])],
    [],
])
def test_local_df_rows_equal_create_dataframe(spark, rows):
    """Every type the engine builds literal frames of (string, int, long,
    double, binary, array<string>, NULLs) comes back as
    ``spark.createDataFrame`` returns it, with the same schema."""
    schema = "s string, i int, l long, d double, b binary, a array<string>"
    df = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert df.schema == want.schema
    assert df.collect() == want.collect()
    assert "LocalTableScan" in _plan(df)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive holding module ``m1``, first on ``sys.path``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def _count_directory_reads(monkeypatch):
    """Archives whose central directory zipimport parses from now on."""
    real = zipimport._read_directory
    reads = []

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_caches_skips_unchanged_zip(zip_on_path, monkeypatch):
    import m1

    assert m1.NAME == "m1"
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert zip_on_path in reads  # the importer was reached, and read once
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_invalidate_caches_rereads_zip_rewritten_in_place(zip_on_path):
    import m1  # noqa: F401

    importlib.invalidate_caches()
    inode = os.stat(zip_on_path).st_ino
    _write_zip(zip_on_path, ["m1", "m2"])
    assert os.stat(zip_on_path).st_ino == inode
    importlib.invalidate_caches()
    import m2

    assert m2.NAME == "m2"


def test_python_worker_skips_unchanged_zip_rereads(spark):
    """A reused Spark Python worker that has imported the engine parses
    no zip directory on a repeated ``importlib.invalidate_caches()`` —
    the call pyspark's worker set-up makes before every task."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import hive_cassandra_spark  # noqa: F401

        for _ in batches:
            pass
        real = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real  # workers are reused
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"zips": [zips], "reads": [len(reads)]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "zips long, reads long"
    ).collect()
    assert row.zips > 0  # the worker imports from zip archives at all
    assert row.reads == 0


def test_python_worker_forks_from_engine_daemon(spark):
    """A plain Python-RDD task that never imports the engine runs in a
    worker forked from ``hive_cassandra_spark.worker_daemon``: the engine
    is already loaded there, and the zip-cache guard is primed, so the
    worker's ``importlib.invalidate_caches()`` parses no zip directory."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        real = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real  # workers are reused
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield (sys.modules["__main__"].__spec__.name,
               "hive_cassandra_spark" in sys.modules, zips, len(reads))

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    for main, engine_loaded, zips, reads in got:
        assert main == "hive_cassandra_spark.worker_daemon"
        assert engine_loaded
        assert zips > 0  # the worker imports from zip archives at all
        assert reads == 0


_OUTSIDE_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from hive_cassandra_spark import datasource
from hive_cassandra_spark.session import get_spark, local_df

spark = get_spark("outside", master="local[2]")
datasource.register(spark)
squares = spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).sum()
cells = local_df(
    spark, [(b"k", b"c", b"v", 1)],
    "row_key binary, column_name binary, value binary, ts long",
)
cells.write.format("cassandra_cells").mode("overwrite").save(sys.argv[2])
rows = spark.read.format("cassandra_cells").load(sys.argv[2]).collect()
spark.stop()
print(json.dumps({"squares": squares, "rows": [
    [bytes(v).decode() if isinstance(v, (bytes, bytearray)) else v for v in r]
    for r in rows
]}))
"""


def test_get_spark_workers_import_engine_outside_repo(tmp_path):
    """A driver started outside the checkout, with the engine only on its
    own ``sys.path``, still runs Python tasks: ``get_spark`` puts the
    engine on the workers' PYTHONPATH, which the worker daemon and every
    engine object unpickled in a worker need."""
    import json
    import subprocess

    import hive_cassandra_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(hive_cassandra_spark.__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != root
    )
    script = tmp_path / "driver.py"
    script.write_text(_OUTSIDE_DRIVER)
    run = subprocess.run(
        [sys.executable, str(script), root, str(tmp_path / "store")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out == {"squares": 14, "rows": [["k", "c", "v", 1]]}
