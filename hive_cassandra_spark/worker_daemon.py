"""Spark Python-worker daemon for sessions built by ``session.get_spark``.

Spark starts one daemon per executor with ``python -m <daemon module>
<worker module>`` and forks every Python worker from it.
``session.get_spark`` names this module as ``spark.python.daemon.module``
and puts the engine's parent directory on the workers' ``PYTHONPATH``.
Before the daemon forks anything, this module installs the zip-cache
guard (``session._install_zip_cache_guard``), imports ``pyspark.daemon``
(which imports the worker module named in ``sys.argv``) and calls
``importlib.invalidate_caches()`` once, so every zipimporter the daemon
holds has already recorded its archive's stat key. A forked worker
inherits the patched class and the primed importers: pyspark's per-call
``importlib.invalidate_caches()`` then parses no zip directory, even on
the worker's first call and in tasks that never touch an engine object
(Python-list frames, plain Python UDFs). Before this, such a call
re-parsed ``pyspark.zip``'s directory through 16 importers, about
0.25 CPU-s on CPython 3.11.
"""

import importlib

from hive_cassandra_spark.session import _install_zip_cache_guard

if __name__ == "__main__":
    _install_zip_cache_guard()
    import pyspark.daemon  # reads the worker module from sys.argv

    importlib.invalidate_caches()
    pyspark.daemon.manager()
