"""Secondary index over the cell store (Cassandra 2i semantics).

The reference's storage handler exposes only primary-key access paths —
every non-key predicate is a full scan filtered Hive-side
(HiveCassandraStandardColumnInputFormat scans token ranges; the
SlicePredicate push in :73-98 narrows COLUMNS, never rows-by-value).
Cassandra itself answers ``WHERE col = v`` with a secondary index: an
internal column family whose ROW KEY is the indexed value and whose
COLUMN NAMES are the base-table row keys owning it. This module builds
the same structure as cells, so the index is itself a cell store, written
and compacted by the ordinary sink machinery, which is the property that
makes it work at 100 TB:

- the index write is one projection of the base cells (no join);
- a value lookup is a ROW-KEY point read on the index store — the
  ``row_key =`` predicate is pushed into the parquet scan, so row-group
  statistics prune everything but the probed value's index row;
- the fetched base row keys (the selectivity of the predicate, NOT the
  table size) broadcast into a semi-join against the base store. The
  base side is scanned but never shuffled; with the base store
  row_key-sorted (sink.write_cells and sink.occ_compact_store only
  hash-distribute on it), a runtime-filter push would prune it too.

Both stores are read as native JVM parquet scans (``source.read_cells``
with the connector's column list, ``datasource.store_schema``), not
through ``cassandra_cells``: a Python Data Source scan costs three
Python-worker calls (create, pushdown + plan, read). A ``get_spark``
session forks its workers with the engine's zip-cache guard
(``session._install_zip_cache_guard``) already primed, so no worker
re-reads ``pyspark.zip`` on each call, but a connector scan still
costs about 0.2 CPU-s of fixed overhead on a 4-core host, and a lookup
would take two of them for a few cells, while the parquet scans need no
Python worker. The connector stays the path for callers that scan the
store themselves.

Index maintenance under mutation is LWW like everything else: rebuilds
are one projection, and a stale index entry is detected at fetch time
(the semi-joined base row no longer carries the value) — the same
read-repair posture Cassandra's 2i takes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def build_value_index(cells: DataFrame, column: bytes) -> DataFrame:
    """Project the index cells for one indexed column: for every base cell
    (rk, ``column``, v, ts) emit the index cell (row_key=v,
    column_name=rk, value=NULL, ts). Live cells only — a tombstoned base
    cell must not resurrect through its index entry."""
    return (
        cells.filter(
            (F.col("column_name") == F.lit(column))
            & F.col("value").isNotNull()
        )
        .select(
            F.col("value").alias("row_key"),
            F.col("row_key").alias("column_name"),
            F.lit(None).cast("binary").alias("value"),
            F.col("ts"),
        )
    )


def index_lookup(
    spark: SparkSession,
    base_path: str,
    index_path: str,
    value: bytes,
) -> DataFrame:
    """All base cells of the rows where the indexed column equals
    ``value``: point-read the index row (pushdown-pruned scan of the
    index store), broadcast the matching base row keys, semi-join the
    base store. Returns the full cell rows of the matching base rows."""
    from hive_cassandra_spark.datasource import store_schema
    from hive_cassandra_spark.source import read_cells

    keys = (
        read_cells(spark, index_path, store_schema(index_path))
        .filter(F.col("row_key") == F.lit(value))
        .select(F.col("column_name").alias("row_key"))
        .distinct()
    )
    base = read_cells(spark, base_path, store_schema(base_path))
    return base.join(F.broadcast(keys), "row_key", "semi")
