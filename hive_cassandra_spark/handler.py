"""Storage-handler facade: the single integration point tying mapping +
codecs + catalog + cell sink/source together.

The reference exposes exactly one such seam — ``CassandraStorageHandler``
(/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/CassandraStorageHandler.java:26,
``configureTableJobProperties`` :31-190): it resolves keyspace/CF names,
parses-or-synthesizes the column mapping, normalizes consistency/batch
options, and wires the serde + input/output formats. Users never compose
those pieces by hand. This module is the PySpark analogue: declare a
``TableDef`` once, then ``write_table``/``read_table`` run the full
typed-rows ⇄ binary-cells pipeline through the same mapping/codec/catalog
layers the low-level API exposes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from hive_cassandra_spark import sink, source
from hive_cassandra_spark.mapping import (
    ColumnMapping,
    cf_type_for_mapping,
    parse_mapping,
    synthesize_mapping,
)
from hive_cassandra_spark.sink import normalize_consistency


@dataclass(frozen=True)
class TableDef:
    """A declared column family: relational schema + mapping + store path.

    ≙ the table properties ``configureTableJobProperties`` assembles
    (CassandraStorageHandler.java:31-190): cassandra.columns.mapping,
    cassandra.cf.name, consistency level, batch size.
    """

    name: str
    path: str
    column_names: tuple[str, ...]
    hive_types: tuple[str, ...]
    mapping: ColumnMapping
    consistency: str
    batch_size: int

    @property
    def cf_type(self) -> str:
        return cf_type_for_mapping(self.mapping)


def define_table(
    name: str,
    path: str,
    column_names: list[str],
    hive_types: list[str],
    mapping: str | None = None,
    consistency: str | None = None,
    batch_size: int = sink.DEFAULT_BATCH_MUTATE_SIZE,
) -> TableDef:
    """Declare a cell-backed table.

    When ``mapping`` is omitted it is synthesized from the column names
    exactly as the reference does (createColumnMappingString,
    AbstractColumnSerDe.java:200-274): ``row_key/column_name/[sub_column_
    name/]value`` auto-transposes, otherwise the first column keys the row.
    The parsed mapping is arity-checked against the declared schema
    (CassandraColumnSerDe.java:57-63) and the consistency level normalized
    (CassandraAbstractPut.java:39-50).
    """
    spec = mapping if mapping is not None else synthesize_mapping(list(column_names))
    parsed = parse_mapping(spec, n_columns=len(column_names))
    return TableDef(
        name=name,
        path=path,
        column_names=tuple(column_names),
        hive_types=tuple(hive_types),
        mapping=parsed,
        consistency=normalize_consistency(consistency),
        batch_size=batch_size,
    )


def write_table(
    df: DataFrame,
    table: TableDef,
    mode: str = "overwrite",
    clock_millis: int | None = None,
) -> None:
    """Typed rows → encoded cells → batched, row-key-co-located store
    (to_cells + write_cells with the table's declared options)."""
    cells = sink.to_cells(
        df.select(*table.column_names),
        table.mapping,
        list(table.hive_types),
        clock_millis=clock_millis,
    )
    sink.write_cells(
        cells,
        table.path,
        batch_size=table.batch_size,
        consistency=table.consistency,
        mode=mode,
    )


def read_table(
    spark: SparkSession,
    table: TableDef,
    wanted_columns: list[str] | None = None,
) -> DataFrame:
    """Cell store → LWW-reconciled, decoded relational rows; an optional
    column subset prunes the fetch (projection pushdown, ≙ the read-column
    slice predicate, HiveCassandraStandardColumnInputFormat.java:203-216).
    ``source.read_cells`` merges the schema from the visible parts'
    footers, so planning runs no Spark schema-inference job;
    ``cells_to_table`` reads columns by name."""
    cells = source.read_cells(spark, table.path)
    return source.cells_to_table(
        cells,
        table.mapping,
        list(table.column_names),
        list(table.hive_types),
        wanted_columns=wanted_columns,
    )
