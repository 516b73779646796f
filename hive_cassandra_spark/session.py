"""SparkSession factory with scale-aware defaults.

The reference relied on Hadoop MR job conf for parallelism knobs
(`cassandra.input.split.size` = 65536 keys/split,
/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/serde/AbstractColumnSerDe.java:42,69).
Here the equivalents are Spark SQL confs: AQE (runtime re-plan + skew join +
partition coalescing), shuffle partitions sized to the cluster, Arrow for the
Python boundary, and UTC session time so results are oracle-comparable.

All settings are chosen to survive a 1000-executor / 100 TB deployment:
nothing below hardcodes local paths or collect()s to the driver; local[N]
is only the test harness default.
"""

from __future__ import annotations

import logging
import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Defaults that are correct on a real cluster too; shuffle partition count is
# overridable because the right value is data-dependent (~2-3x total cores,
# or let AQE coalesce down from a high initial number).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    # HiveQL-0.9 (non-ANSI) semantics, matching the reference's engine:
    # silent null on bad casts, no overflow errors (Hive 0.9 via
    # CassandraStorageHandler; see SURVEY.md §2.B).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # the events fixture stores TIMESTAMP(NANOS); Spark only reads it as a
    # long — converted back to timestamp in the loader (queries.load_events)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # fixtures store naive timestamps (isAdjustedToUTC=false); Spark 4
    # infers TIMESTAMP_NTZ for those by default, which breaks the
    # LTZ-only functions (unix_micros/unix_timestamp/watermarks) and
    # diverges from DuckDB's naive-read + UTC-session equivalence the
    # oracle gate depends on. Read them as TIMESTAMP (UTC session).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # decode() replaces malformed bytes instead of raising (Spark 4 made it
    # strict): the expression codecs (codecs.decode_col) rely on replacement
    # — U+FFFD then fails the numeric-text regexes, netting NULL, exactly
    # the reference's text-fallback failure mode (SURVEY.md §1.3)
    "spark.sql.legacy.codingErrorAction": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # the cassandra_cells Python data source (datasource.py) pushes slice
    # predicates through DataSourceReader.pushFilters — gated off by default
    "spark.sql.python.filterPushdown.enabled": "true",
    # 128 MB input partitions — the parquet analogue of the reference's
    # 64k-keys-per-split sizing (one task ≈ one comfortably-memory-resident
    # chunk at any scale factor).
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # Wide aggregates (SimHash's 64 per-bit vote sums) exceed the default
    # 100-field limit and silently fall back to interpreted row-at-a-time
    # aggregation — measured 2.2 s vs 0.9 s for the simhash signature pass
    # at sf0.1. 256 keeps every plan in this repo inside WholeStageCodegen.
    "spark.sql.codegen.maxFields": "256",
    # Sorted-bucket scans: expose the in-bucket sort order to the planner
    # so co-located SMJs over Catalog.create_bucketed_table tables drop
    # their per-side Sort too (off by default since 3.0 because it lists
    # files per bucket at planning time; create_bucketed_table writes one
    # file per bucket, which is both the layout this needs and the
    # small-file posture a 100 TB lake wants anyway).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Fork Python workers from the engine's daemon, which primes the
    # zip-cache guard before the fork (worker_daemon.py); get_spark puts
    # the engine on the workers' PYTHONPATH so the daemon can import it.
    "spark.python.daemon.module": "hive_cassandra_spark.worker_daemon",
}


# Correctness-critical runtime confs. Every query function must hold these
# regardless of who built the SparkSession (the driver rig builds its own,
# without session.get_spark): UTC so date_format strings are stable, ANSI off
# for HiveQL-0.9 null-on-bad-cast semantics, nanosAsLong so events.parquet
# (TIMESTAMP(NANOS)) is readable at all, and codingErrorAction so decode()
# replaces malformed bytes (the expression codecs rely on replacement).
# All four are runtime-settable SQLConfs.
_REQUIRED_RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.legacy.codingErrorAction": "true",
    # naive parquet timestamps must surface as TIMESTAMP (LTZ @ UTC), not
    # TIMESTAMP_NTZ: LTZ is what unix_micros/watermarks accept and what
    # matches the DuckDB oracle's naive reading under a UTC session.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # the cassandra_cells data source refuses to run with its pushFilters
    # hook disabled (fail-closed in Spark 4.1) — required wherever a
    # query reads through the connector seam.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the correctness-critical SQL confs on an already-built session.

    Idempotent and cheap (reads before writing); tolerates confs that a
    particular deployment refuses to set rather than failing the query,
    but logs a warning naming each refused key, the wanted value and
    the error — results that depend on it may then differ.
    """
    for key, want in _REQUIRED_RUNTIME_CONF.items():
        try:
            if spark.conf.get(key, None) != want:
                spark.conf.set(key, want)
        except Exception as exc:
            logging.getLogger(__name__).warning(
                "could not pin required conf %s=%s: %s", key, want, exc
            )


def local_df(spark: SparkSession, rows, schema):
    """Small literal DataFrame planned as a JVM ``LocalTableScan`` instead
    of a Python-RDD scan.

    ``spark.createDataFrame([tuples], schema)`` parallelizes the rows into
    a pickled Python RDD, so the physical plan is ``Scan ExistingRDD`` and
    EVERY action that touches it pays a JVM→Python-worker round trip —
    measured 4.2 s to write a ONE-ROW table to parquet on local[32]
    (vs 0.15 s for a LocalTableScan), because the write job re-evaluates
    the scan through a fresh Python runner. Building the rows into a
    ``pyarrow`` table of the schema's Arrow types instead hands them to
    the JVM as a local relation, materialized once at plan time — no
    Python evaluation at action time at all. Each column is converted
    straight to its Arrow type, so values are unchanged (no pandas
    float64 detour: a bigint above 2**53 next to a NULL stays exact).
    A value Arrow refuses (a Decimal with more digits than its scale,
    say) falls back to ``spark.createDataFrame(rows, schema)`` — the
    Python-RDD plan, with its own conversions — and that fallback is
    logged as a warning, so this is a plan-shape optimization only.
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    try:
        st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
        rows = list(rows)
        arrow_schema = to_arrow_schema(st)
        if any(len(r) != len(arrow_schema) for r in rows):
            raise ValueError(f"every row must have {len(arrow_schema)} fields")
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type)
             for i, f in enumerate(arrow_schema)],
            schema=arrow_schema,
        )
        return spark.createDataFrame(table)
    except Exception as exc:
        logging.getLogger(__name__).warning(
            "local_df fell back to a Python-RDD scan (%s: %s)",
            type(exc).__name__, exc,
        )
        return spark.createDataFrame(rows, schema)


def _install_zip_cache_guard() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that have
    not changed.

    pyspark's worker set-up (``worker_util.setup_spark_files``) calls
    ``importlib.invalidate_caches()`` on every Python-worker call. Before
    CPython 3.13 that makes each ``zipimport.zipimporter`` re-parse its
    archive's whole central directory — ``pyspark.zip`` has 1,328
    entries and a worker holds one importer per package directory in it
    — which measured 0.23-0.29 CPU-s per call, even in reused workers.
    The replacement re-reads only when the archive's (inode, size,
    mtime) differs from what this importer saw when it last read it; the
    key is kept per importer, so an archive rewritten in place is still
    re-read by every importer that holds it. An importer not yet seen
    through this method re-reads once. Idempotent.

    ``get_spark`` workers start with the guard installed and primed:
    they fork from ``worker_daemon``, which calls this and then
    ``importlib.invalidate_caches()`` before the fork. The package's
    ``__init__`` calls it too, so workers of sessions built elsewhere
    get it once they import the engine.
    """
    # CPython 3.13's Lib/zipimport.py invalidate_caches only drops the
    # archive's _zip_directory_cache entry; 3.11 and 3.12 re-read it.
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        # stat before reading: a rewrite between the two re-reads next time
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or getattr(self, "_read_stat", None) != key:
            reread(self)
            self._read_stat = key

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "hive_cassandra_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same entry point works under the driver rig and on a cluster
    (where ``master`` comes from spark-submit and must not be set here).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    # workers fork from hive_cassandra_spark.worker_daemon, so they must
    # import the engine whatever the JVM's working directory is
    engine_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    conf[key] = os.pathsep.join([engine_root] + [p for p in paths if p != engine_root])
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
