"""Read path: binary cell store → typed DataFrame per the column mapping
(≙ the reference's input format + SerDe deserialize).

The reference's read pipeline (SURVEY.md §3.1) re-derives the table shape
from the mapping
(/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/input/HiveCassandraStandardColumnInputFormat.java:47-127),
shapes rows in ``CassandraHiveRecordReader.nextKeyValue``
(input/CassandraHiveRecordReader.java:108-196 — transposed explode, dead-cell
filter :198-214), and decodes fields lazily per declared Hive type through
the CassandraLazy* codecs (input/LazyCassandraRow.java:69-106).

Spark-first re-expression:

- *regular*: ONE keyed aggregation on the row key does last-write-wins
  and the pivot together — the semantics Cassandra's reconciler gives the
  reference for free. Each mapped column keeps the struct-max (ts, value)
  of its cells (ties to the greater value, sink._compact_winners' rule);
  tombstones (NULL values) take part, so a delete suppresses every older
  version and reads NULL, and a row with no live winner is dropped (the
  ghost-row skip). Then a per-type decode. One shuffle, on the row key
  (the table's natural partitioning); an LWW pass followed by a separate
  pivot cost two shuffles and four sort-based aggregates, since binary
  aggregation buffers rule out hash aggregation.
- *transposed*: pure projection + decode; **no shuffle at all** (the
  reference's wide-row iterator, ColumnFamilyWideRowRecordReader.java:240-429,
  exists only to page cells over Thrift — columnar storage makes it moot).
- *cf-map*: cells → ``map<string,binary>`` per row (functional, unlike the
  reference's no-op LazyCassandraCellMap.parse — a documented deviation),
  inside the same aggregation: each entry name keeps its newest version
  and tombstoned entries leave the map.

Projection pushdown (#4 in SURVEY.md §2.A): pass ``wanted_columns`` to
prune cells *before* the pivot shuffle — the analogue of the reference's
SlicePredicate.column_names push
(HiveCassandraStandardColumnInputFormat.java:95-98); over parquet the
``column_name IN (...)`` filter reaches the scan as a pushed filter.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hive_cassandra_spark import sink
from hive_cassandra_spark.codecs import decode_col
from hive_cassandra_spark.mapping import ColumnMapping


def _decode_value(col: F.Column, hive_type: str) -> F.Column:
    """Primitive → dual binary/text decode; complex (struct/array/map) →
    parse the JSON text the write path produced (sink._encode_value,
    ≙ TableMapping.java:101-133)."""
    from hive_cassandra_spark.sink import is_complex_type

    if is_complex_type(hive_type):
        return F.from_json(col.cast("string"), hive_type)
    return decode_col(col, hive_type)


def read_cells(spark: SparkSession, path: str) -> DataFrame:
    """Open a persisted cell store (see sink.write_cells): ``sink.occ_read``
    — the parts its OCC marker log makes visible, every column any of them
    carries, no Spark job; an empty store reads as an empty cell frame."""
    return sink.occ_read(spark, path)


def expire_cells(
    cells: DataFrame, now_millis: int, ttl_col: str = "ttl_s"
) -> DataFrame:
    """Drop TTL-expired cells — Cassandra's ExpiringColumn read semantics
    (public Cassandra data model; the reference serde never surfaces TTLs,
    so this is a superset capability next to the §2.A ghost-row skip).
    A cell with ``ttl_col`` NULL never expires; otherwise it is live while
    ``ts + ttl_s·1000 > now_millis`` (ts is the writer's epoch-millis
    timestamp from sink._ts_column). A row whose every cell expires
    disappears entirely from the pivoted read — the TTL analogue of the
    ghost-row elimination — because cells_to_table sees no live cells for
    its key. Narrow codegen filter, zero shuffle; the
    ``ttl_col`` column is dropped so downstream decode sees the standard
    cell schema."""
    alive = F.col(ttl_col).isNull() | (
        F.col("ts") + F.col(ttl_col).cast("long") * 1000 > F.lit(now_millis)
    )
    return cells.filter(alive).drop(ttl_col)


def apply_cdc_batch(cells: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a CDC change batch to a cell store: INSERT/UPDATE changes are
    ordinary cells with a newer ``ts``; a DELETE is a TOMBSTONE — the same
    cell key with ``value`` NULL at a newer ``ts``. Union + last-write-
    wins compaction resolves everything in one keyed aggregation (the
    struct-max keeps the newest version even when it is the NULL
    tombstone — pinned by test_source_sink), and cells_to_table reads a
    tombstoned cell as NULL, so a fully-deleted row vanishes from the
    pivoted read exactly like a ghost row.

    Cassandra's distributed-delete semantics, public data model (the
    reference inherits reconciliation from the server and, being Hive
    0.9, has no DELETE surface at all — this is a superset capability
    next to the §2.A LWW/TTL rows). One shuffle on the cell key; the
    batch is typically tiny relative to the store, so at scale the
    shuffle carries O(store) once — the same cost as any LWW compaction
    pass, which this IS."""
    return lww_latest(cells.unionByName(changes))


def lww_latest(cells: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Keep the newest version of each cell — Cassandra's last-write-wins
    reconciliation, which the reference inherits from the server: the
    struct-max of (ts, value), so ts ties go to the greater value (a
    value beats a same-ts tombstone) as in compaction and
    ``cells_to_table``. One map-side-combined aggregation."""
    key_cols = key_cols or ["row_key", "column_name"]
    return (
        cells.groupBy(*key_cols)
        .agg(F.max(F.struct("ts", "value")).alias("w"))
        .select(*key_cols, "w.value", "w.ts")
    )


def _live_map(entries: Column) -> Column:
    """Sorted (key, ts, value) cell entries → map of each key's winner, the
    key's last entry; keys whose winner is a tombstone are left out."""
    newest = F.filter(
        entries,
        lambda e, j: (j == F.size(entries) - 1) | (entries[j + 1]["key"] != e["key"]),
    )
    return F.map_from_entries(
        F.transform(
            F.filter(newest, lambda e: e["value"].isNotNull()),
            lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
        )
    )


def cells_to_table(
    cells: DataFrame,
    mapping: ColumnMapping,
    column_names: list[str],
    hive_types: list[str],
    wanted_columns: list[str] | None = None,
) -> DataFrame:
    """Decode a cell store into the relational shape the mapping declares.

    ``column_names``/``hive_types`` are the declared relational schema
    (arity == mapping arity, CassandraColumnSerDe.java:57-63).
    ``wanted_columns`` optionally prunes the fetch to a subset of value
    columns (projection pushdown; key always implied, as the reference
    excludes it from the slice predicate —
    HiveCassandraStandardColumnInputFormat.java:203-216).
    """
    if len(column_names) != len(mapping.entries) or len(hive_types) != len(
        mapping.entries
    ):
        raise ValueError("schema arity must match mapping arity")

    if mapping.transposed:
        entry_to_idx = {e: i for i, e in enumerate(mapping.entries)}
        out = [
            decode_col(F.col("row_key"), hive_types[entry_to_idx[":key"]]).alias(
                column_names[entry_to_idx[":key"]]
            ),
            decode_col(F.col("column_name"), hive_types[entry_to_idx[":column"]]).alias(
                column_names[entry_to_idx[":column"]]
            ),
        ]
        if mapping.has_subcolumn:
            out.append(
                decode_col(
                    F.col("sub_column_name"), hive_types[entry_to_idx[":subcolumn"]]
                ).alias(column_names[entry_to_idx[":subcolumn"]])
            )
        out.append(
            _decode_value(F.col("value"), hive_types[entry_to_idx[":value"]]).alias(
                column_names[entry_to_idx[":value"]]
            )
        )
        # one row per cell: last write wins (the compaction rule, so a
        # tombstone suppresses every older version of its cell), then
        # dead/tombstone winners are skipped (≙ isLive() filter,
        # CassandraHiveRecordReader.java:198-214)
        live = sink._compact_winners(
            cells, drop_tombstones=True, now_millis=None, gc_grace_s=None
        )
        return live.select(*out)

    cf_map_idx = set(mapping.cf_map_indexes)
    plain_idx = [
        i for i in range(len(mapping.entries)) if i != mapping.key_index and i not in cf_map_idx
    ]
    # a cf-map column owns every cell no plain mapped column claims, wanted or not
    claimed = [mapping.entries[i] for i in plain_idx]
    if wanted_columns is not None:
        plain_idx = [i for i in plain_idx if column_names[i] in wanted_columns]
        cf_map_idx = {i for i in cf_map_idx if column_names[i] in wanted_columns}

    # Projection pushdown: restrict cells before the shuffle. With no cf-map
    # column the IN-filter also reaches the parquet scan (PushedFilters).
    name_str = F.col("column_name").cast("string")
    if not cf_map_idx:
        cells = cells.filter(name_str.isin([mapping.entries[i] for i in plain_idx]))

    # One keyed aggregation does LWW and the pivot together: each plain
    # column keeps its struct-max (ts, value) — highest ts, ties to the
    # greater value, the sink._compact_winners rule — and tombstones take
    # part, so a delete suppresses every older version of its cell.
    version = F.struct("ts", "value")
    aggs = [
        F.max(F.when(name_str == mapping.entries[i], version)).alias(f"__v{i}")
        for i in plain_idx
    ]
    entry = F.struct(name_str.alias("key"), F.col("ts"), F.col("value"))
    aggs += [
        F.array_sort(F.collect_list(F.when(~name_str.isin(claimed), entry))).alias(f"__m{i}")
        for i in cf_map_idx
    ]
    wide = cells.groupBy("row_key").agg(*aggs)
    vals = {i: F.col(f"__v{i}.value") for i in plain_idx}
    maps = {i: _live_map(F.col(f"__m{i}")) for i in cf_map_idx}
    # ghost rows (DSP-465 skip, CassandraHiveRecordReader.java:139-147): a
    # row none of whose wanted cells is live after LWW has no row
    live = [v.isNotNull() for v in vals.values()] + [F.size(m) > 0 for m in maps.values()]
    out = [
        decode_col(F.col("row_key"), hive_types[mapping.key_index]).alias(
            column_names[mapping.key_index]
        )
    ]
    out += [_decode_value(v, hive_types[i]).alias(column_names[i]) for i, v in vals.items()]
    # decode the map's binary values per the declared value type; keys are
    # utf-8 strings (validated map<string,?> — CassandraColumnSerDe.java:66-81).
    # transform_values keeps it JVM-side for the string case; other value
    # types decode via a post-explode pass by the caller if needed.
    out += [
        F.transform_values(m, lambda _, v: v.cast("string")).alias(column_names[i])
        for i, m in maps.items()
    ]
    return wide.filter(reduce(operator.or_, live, F.lit(False))).select(*out)


def paged_cells(cells: DataFrame, page_size: int = 1000) -> DataFrame:
    """Stable ordered pagination of a cell store: adds (scan_partition,
    page) so a consumer can fetch bounded chunks in a deterministic order
    and resume after any page.

    ≙ the reference's resumable wide-row iterator
    (ColumnFamilyWideRowRecordReader.java:240-429), which pages one row's
    cells across Thrift RPCs with a restart-at-last-column cursor, 1000
    rows / 1000 cells per fetch (AbstractColumnSerDe.java:70-71). Columnar
    storage makes the RPC dance moot; what survives is the *semantics* —
    bounded, ordered, resumable chunks:

    - hash-repartition on row_key: all of a row's cells land in one
      partition (the reference's token-range locality),
    - sortWithinPartitions(row_key, column_name): the slice order,
    - mapInArrow with a running counter: page numbers per partition —
      Arrow-batched, no global sort, no driver involvement, so it holds at
      any scale (a global orderBy here would be the 100 TB mistake). Each
      ``pyarrow.RecordBatch`` passes through untouched with an int64
      ``page`` array appended, so no value takes a pandas detour (a
      nullable bigint above 2**53 stays exact).
    """
    part = (
        cells.repartition(F.col("row_key"))
        .sortWithinPartitions("row_key", "column_name")
        .withColumn("scan_partition", F.spark_partition_id())
    )
    from pyspark.sql import types as T

    # build a fresh StructType: StructType.add mutates in place, which would
    # corrupt the child DataFrame's own schema object
    schema = T.StructType(
        list(part.schema.fields) + [T.StructField("page", T.LongType())]
    )

    def paginate(batches):
        import numpy as np
        import pyarrow as pa

        seen = 0
        for batch in batches:
            n = batch.num_rows
            page = np.arange(seen, seen + n, dtype=np.int64) // page_size
            seen += n
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(page)],
                names=batch.schema.names + ["page"],
            )

    return part.mapInArrow(paginate, schema)


def slice_cells(
    cells: DataFrame,
    start: str | None = None,
    finish: str | None = None,
    reversed_order: bool = False,
    count: int | None = None,
) -> DataFrame:
    """Slice-range predicate over a cell store: restrict each row's cells
    to the column-name range [start, finish], optionally reversed, keeping
    at most ``count`` cells per row.

    ≙ the reference's user-configured SlicePredicate.slice_range push
    (HiveCassandraStandardColumnInputFormat.java:73-94, options plumbed in
    CassandraStorageHandler.java:149-189, defaults
    AbstractColumnSerDe.java:49-53) — the only *predicate* the reference
    ever pushes, and it restricts cells **within** each row, not rows.

    Plan shape: the range filter is a plain comparison on column_name →
    pushed to the parquet scan (PushedFilters). The per-row ``count`` is a
    row_number window over (row_key ORDER BY column_name [DESC]) — one
    shuffle on row_key, which AQE coalesces; without ``count`` the whole
    thing is shuffle-free.
    """
    from pyspark.sql import Window

    name = F.col("column_name").cast("string")
    out = cells
    if start is not None:
        out = out.filter(name >= start)
    if finish is not None:
        out = out.filter(name <= finish)
    if count is not None:
        order = name.desc() if reversed_order else name.asc()
        w = Window.partitionBy("row_key").orderBy(order)
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= count)
            .drop("__rn")
        )
    return out


def scrub_cells(cells: DataFrame, column_types: dict[bytes, str]) -> DataFrame:
    """Store scrub (≙ Cassandra's ``nodetool scrub`` pass over sstables):
    flag every live cell whose value fails its column's DECLARED decode —
    the full dual binary/text rule of ``codecs.decode_col``, so a cell is
    corrupt only when neither the fixed-width binary form nor the text
    fallback parses. Adds a ``corrupt`` boolean; columns not in
    ``column_types`` are never flagged (no declared type → no contract to
    violate), and tombstones (NULL values) are deletes, not corruption.

    Pure codegen'd projection — zero shuffle, no Python; at 100 TB the
    scrub is exactly one scan, and quarantining is a filter on its
    output."""
    from hive_cassandra_spark import codecs

    failed = None
    for cname, htype in column_types.items():
        this = (F.col("column_name") == F.lit(cname)) & codecs.decode_col(
            F.col("value"), htype
        ).isNull()
        failed = this if failed is None else (failed | this)
    corrupt = (
        F.col("value").isNotNull() & failed
        if failed is not None
        else F.lit(False)
    )
    return cells.withColumn("corrupt", corrupt)
