"""Session helpers: the required-conf pin, literal DataFrames and the
zip-archive cache guard."""

import importlib
import logging
import os
import sys
import zipfile
import zipimport

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
    """A value Arrow refuses (a bigint column with a NULL becomes float64
    in pandas, and 2**63-1 overflows the cast back) still builds the
    frame through the classic path, and the fallback is logged with the
    exception type."""
    with caplog.at_level(logging.WARNING, logger="hive_cassandra_spark"):
        df = local_df(spark, [(2**63 - 1,), (None,)], "v bigint")
    warned = [r.getMessage() for r in caplog.records
              if r.levelno == logging.WARNING and r.name.startswith("hive_cassandra_spark")]
    assert len(warned) == 1
    assert "local_df fell back" in warned[0] and "TypeError" in warned[0]
    assert [r.v for r in df.collect()] == [2**63 - 1, None]


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
