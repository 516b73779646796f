"""Cassandra table-shape transforms: regular ↔ transposed ↔ cf-map ↔ super.

The reference's core modeling idea (SURVEY.md §1.2) is two table shapes over
the same cell store:

- *regular*: one Hive row per Cassandra row, one column per named cell
  (serde/RegularTableMapping.java:16-106 in /root/reference);
- *transposed*: one Hive row per **cell** — (row_key, column_name,
  [sub_column_name,] value) — exploded on read
  (input/CassandraHiveRecordReader.java:108-196) and imploded on write
  (serde/TransposedMapping.java:33-72);
- *cf-map*: a whole column family bound to one ``map<string,?>`` column
  (input/LazyCassandraCellMap.java:13-84 — whose read path is a latent no-op
  in the reference; functional here, a documented deviation);
- *super*: two-level rows key → super-column → sub-columns
  (output/CassandraSuperPut.java:22-36).

All transforms below are pure DataFrame compositions — narrow ``explode``
for reads (no shuffle), a single keyed aggregation for implodes (one
shuffle, map-side partial via ``collect_list`` after ``groupBy`` on the
row key). They hold at 100 TB: explode is streaming/narrow; implode
shuffles once on the row key, which is the natural partitioning of the
destination table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Virtual column names that auto-trigger transposed mode in the reference
# (AbstractColumnSerDe.java:56-64).
ROW_KEY = "row_key"
COLUMN_NAME = "column_name"
SUB_COLUMN_NAME = "sub_column_name"
VALUE = "value"


def explode_to_long(
    df: DataFrame,
    key_col: str,
    value_cols: list[str] | None = None,
    value_type: str = "string",
) -> DataFrame:
    """Regular → transposed: one output row per (row, column) cell.

    ≙ CassandraHiveRecordReader.nextKeyValue transposed branch
    (CassandraHiveRecordReader.java:112-180). Implemented with
    ``stack``-style ``explode`` of a cell array — a narrow transform (no
    shuffle), so it scales linearly with input size.

    Dead/ghost cells (null values) are dropped, matching the reference's
    live-cell filter (CassandraHiveRecordReader.java:198-214, isLive
    :205-207) and its DSP-465 ghost-row skip (:139-147).
    """
    value_cols = value_cols or [c for c in df.columns if c != key_col]
    cells = F.array(
        *[
            F.struct(
                F.lit(c).alias(COLUMN_NAME),
                F.col(c).cast(value_type).alias(VALUE),
            )
            for c in value_cols
        ]
    )
    return (
        df.select(F.col(key_col).alias(ROW_KEY), F.explode(cells).alias("cell"))
        .select(ROW_KEY, f"cell.{COLUMN_NAME}", f"cell.{VALUE}")
        .filter(F.col(VALUE).isNotNull())
    )


def implode_from_long(df: DataFrame, column_values: list[str]) -> DataFrame:
    """Transposed → regular: pivot known column names back to wide rows.

    ≙ TransposedMapping.getWritable (TransposedMapping.java:33-72) composed
    with the sink's per-key batching (CassandraPut.java:125-134). The
    reference emits one mutation per input row (a flagged inefficiency,
    SURVEY.md §7 risk register); here we aggregate per key first — exactly
    one shuffle on the row key.

    ``column_values`` must be the expected column names (the reference
    likewise requires a declared mapping arity,
    CassandraColumnSerDe.java:57-63).
    """
    aggs = [
        F.max(F.when(F.col(COLUMN_NAME) == c, F.col(VALUE))).alias(c)
        for c in column_values
    ]
    return df.groupBy(ROW_KEY).agg(*aggs)


def long_to_cf_map(df: DataFrame) -> DataFrame:
    """Transposed → cf-map: all cells of a row as one ``map<string,?>``.

    ≙ the whole-CF map projection the reference declares but never makes
    readable (LazyCassandraCellMap.parse, LazyCassandraCellMap.java:28-34,
    is a no-op; LazyCassandraRow.java:85-89 returns null). Spark's MapType
    makes it functional: one shuffle on the row key.
    """
    return df.groupBy(ROW_KEY).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(COLUMN_NAME, VALUE)))
        ).alias("cf_map")
    )


def cf_map_to_long(df: DataFrame, map_col: str = "cf_map") -> DataFrame:
    """cf-map → transposed: one row per map entry (write-side fan-out,
    ≙ RegularTableMapping.java:54-91). Narrow explode, no shuffle."""
    out = df.select(
        ROW_KEY, F.explode(F.col(map_col)).alias(COLUMN_NAME, VALUE)
    )
    return out.filter(F.col(VALUE).isNotNull())


def explode_super_to_long(
    df: DataFrame, key_col: str, super_col: str
) -> DataFrame:
    """Super-CF (two-level map) → (row_key, column_name, sub_column_name,
    value): nested explode, depth 2.

    ≙ the SuperColumn branch of CassandraHiveRecordReader
    (CassandraHiveRecordReader.java:150-176) / CassandraSuperPut.java:22-36.
    """
    return (
        df.select(
            F.col(key_col).alias(ROW_KEY),
            F.explode(F.col(super_col)).alias(COLUMN_NAME, "sub_map"),
        )
        .select(
            ROW_KEY,
            COLUMN_NAME,
            F.explode(F.col("sub_map")).alias(SUB_COLUMN_NAME, VALUE),
        )
        .filter(F.col(VALUE).isNotNull())
    )


def implode_long_to_super(df: DataFrame) -> DataFrame:
    """(row_key, column_name, sub_column_name, value) → two-level map
    (≙ CassandraSuperPut.write nesting, CassandraSuperPut.java:94-145).

    ONE exchange: hash-repartition on row_key up front — HashPartitioning
    on row_key satisfies the clustering requirement of *both* groupBys
    (row_key is a prefix of (row_key, column_name)), so the two nested
    aggregations run exchange-free on co-located data. Plan-asserted in
    tests/test_transpose.py."""
    inner = df.repartition(F.col(ROW_KEY)).groupBy(ROW_KEY, COLUMN_NAME).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct(SUB_COLUMN_NAME, VALUE)))
        ).alias("sub_map")
    )
    # no array_sort here: structs containing MapType aren't orderable, and
    # map semantics are key-addressed anyway (order-insensitive)
    return inner.groupBy(ROW_KEY).agg(
        F.map_from_entries(F.collect_list(F.struct(COLUMN_NAME, "sub_map"))).alias(
            "super_map"
        )
    )


def lww_compact(
    df: DataFrame, key_cols: list[str], ts_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """Last-write-wins cell compaction: keep the newest version per key.

    The reference gets LWW for free from Cassandra's writer-assigned
    ``System.currentTimeMillis()`` cell timestamps
    (RegularTableMapping.java:84,94; TransposedMapping.java:45,63). Over an
    immutable log this is ``row_number() over (partition by key order by ts
    desc) = 1`` — one shuffle on the key columns, then a codegen'd filter.
    ``tiebreak`` makes equal timestamps deterministic (the reference is
    nondeterministic there; deviation documented for reproducible tests).
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
