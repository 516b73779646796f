"""Storage-handler facade: define/write/read as the single integration seam
(≙ CassandraStorageHandler.configureTableJobProperties)."""

import pytest
from pyspark.sql import functions as F

from hive_cassandra_spark import handler
from hive_cassandra_spark.mapping import MappingError


def test_define_table_synthesizes_mapping_and_normalizes_options(tmp_path):
    tdef = handler.define_table(
        "t", str(tmp_path / "t"), ["id", "a", "b"], ["bigint", "string", "double"],
        consistency="quorum",
    )
    assert tdef.mapping.entries == (":key", "a", "b")
    assert tdef.consistency == "QUORUM"
    assert tdef.cf_type == "Standard"


def test_define_table_arity_checked(tmp_path):
    with pytest.raises(MappingError):
        handler.define_table(
            "t", str(tmp_path / "t"), ["id", "a"], ["bigint", "string"],
            mapping=":key,a,b",
        )


def test_roundtrip_through_facade(spark, sf_dir, tmp_path):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    tdef = handler.define_table(
        "supplier_cf", str(tmp_path / "supplier_cf"),
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        ["bigint", "string", "bigint", "double"],
    )
    handler.write_table(sup, tdef, clock_millis=7)
    back = handler.read_table(spark, tdef)
    want = {r.s_suppkey: (r.s_name, r.s_nationkey, round(r.s_acctbal, 2))
            for r in sup.collect()}
    got = {r.s_suppkey: (r.s_name, r.s_nationkey, round(r.s_acctbal, 2))
           for r in back.collect()}
    assert got == want


def test_read_table_projection_pushdown(spark, sf_dir, tmp_path):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_acctbal", "s_name"
    )
    tdef = handler.define_table(
        "sup2", str(tmp_path / "sup2"),
        ["s_suppkey", "s_acctbal", "s_name"], ["bigint", "double", "string"],
    )
    handler.write_table(sup, tdef, clock_millis=7)
    pruned = handler.read_table(spark, tdef, wanted_columns=["s_acctbal"])
    assert set(pruned.columns) == {"s_suppkey", "s_acctbal"}
    # the column_name IN-filter reaches the parquet scan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "column_name" in plan


def test_lww_across_two_writes(spark, tmp_path):
    df1 = spark.createDataFrame([(1, "old")], "id long, v string")
    df2 = spark.createDataFrame([(1, "new")], "id long, v string")
    tdef = handler.define_table(
        "lww", str(tmp_path / "lww"), ["id", "v"], ["bigint", "string"],
    )
    handler.write_table(df1, tdef, mode="overwrite", clock_millis=1)
    handler.write_table(df2, tdef, mode="append", clock_millis=2)
    back = handler.read_table(spark, tdef)
    assert [(r.id, r.v) for r in back.collect()] == [(1, "new")]


def _two_row_table(spark, tmp_path):
    tdef = handler.define_table(
        "del", str(tmp_path / "del"), ["rk", "a", "b"], ["string", "bigint", "bigint"],
    )
    handler.write_table(
        spark.createDataFrame([("k1", 1, 2), ("k2", 3, 4)], "rk string, a bigint, b bigint"),
        tdef, clock_millis=1000,
    )
    return tdef


def _delete(spark, tdef, cells, ts):
    """Append a tombstone (NULL value at ``ts``) for each (row, column)."""
    from hive_cassandra_spark import sink

    sink.write_cells(
        spark.createDataFrame(
            [(rk.encode(), cn.encode(), None, ts) for rk, cn in cells],
            "row_key binary, column_name binary, value binary, ts bigint",
        ),
        tdef.path, mode="append",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_read_table_deleted_cell_reads_null(spark, tmp_path):
    """A cell deleted after it was written reads back NULL: the tombstone
    takes part in last-write-wins instead of being dropped before it."""
    tdef = _two_row_table(spark, tmp_path)
    _delete(spark, tdef, [("k1", "a")], ts=2000)
    assert _rows(handler.read_table(spark, tdef)) == [("k1", None, 2), ("k2", 3, 4)]
    # a tombstone older than the write it targets deletes nothing
    _delete(spark, tdef, [("k2", "a")], ts=500)
    assert _rows(handler.read_table(spark, tdef)) == [("k1", None, 2), ("k2", 3, 4)]


def test_read_table_fully_deleted_row_vanishes(spark, tmp_path):
    tdef = _two_row_table(spark, tmp_path)
    _delete(spark, tdef, [("k1", "a"), ("k1", "b")], ts=2000)
    assert _rows(handler.read_table(spark, tdef)) == [("k2", 3, 4)]
    # with only a's cell deleted, a projection onto a drops k1 as well
    tdef2 = _two_row_table(spark, tmp_path / "p")
    _delete(spark, tdef2, [("k1", "a")], ts=2000)
    assert _rows(handler.read_table(spark, tdef2, wanted_columns=["a"])) == [("k2", 3)]


def test_transposed_read_is_last_write_wins(spark, tmp_path):
    """A transposed table reads one row per cell: the newest version
    wins and a tombstone removes its cell instead of letting an older
    version through."""
    tdef = handler.define_table(
        "tr", str(tmp_path / "tr"),
        ["row_key", "column_name", "value"], ["string", "string", "string"],
    )
    schema = "row_key string, column_name string, value string"
    handler.write_table(
        spark.createDataFrame([("k1", "c1", "old"), ("k1", "c2", "x")], schema),
        tdef, clock_millis=1000,
    )
    handler.write_table(
        spark.createDataFrame([("k1", "c1", "new")], schema),
        tdef, mode="append", clock_millis=2000,
    )
    _delete(spark, tdef, [("k1", "c2")], ts=3000)
    assert tdef.mapping.transposed
    assert _rows(handler.read_table(spark, tdef)) == [("k1", "c1", "new")]


def test_read_table_plans_without_a_spark_job(spark, tmp_path):
    """The store is opened with the connector's column list, so planning
    ``read_table`` runs no parquet schema-inference job."""
    tdef = _two_row_table(spark, tmp_path)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    handler.read_table(spark, tdef)
    assert set(tracker.getJobIdsForGroup(None)) == before


def _ttl_cells(spark, rows):
    """Cells that carry a ``ttl_s`` column, from (row_key, column_name,
    value bytes or None, ts, ttl_s) with str keys."""
    return spark.createDataFrame(
        [(rk.encode(), cn.encode(), v, ts, ttl) for rk, cn, v, ts, ttl in rows],
        "row_key binary, column_name binary, value binary, ts bigint, ttl_s int",
    )


def test_read_table_rows_match_inferred_schema_read(spark, tmp_path):
    """``read_table`` reads the same rows as a scan with Spark's inferred
    schema for every store shape: regular, transposed with a sub-column,
    cf-map, and a store where only later parts carry ``ttl_s``."""
    from hive_cassandra_spark import sink, source
    from hive_cassandra_spark.codecs import encode_long
    from hive_cassandra_spark.datasource import store_schema

    def inferred(tdef):
        return _rows(source.cells_to_table(
            source.read_cells(spark, tdef.path), tdef.mapping,
            list(tdef.column_names), list(tdef.hive_types),
        ))

    regular = _two_row_table(spark, tmp_path / "regular")

    sub = handler.define_table(
        "sub", str(tmp_path / "sub"),
        ["row_key", "column_name", "sub_column_name", "value"],
        ["string", "string", "string", "string"],
    )
    sub_schema = "row_key string, column_name string, sub_column_name string, value string"
    handler.write_table(
        spark.createDataFrame(
            [("k1", "c1", "s1", "old"), ("k1", "c1", "s2", "y"), ("k2", "c2", "s1", "z")],
            sub_schema,
        ),
        sub, clock_millis=1000,
    )
    handler.write_table(
        spark.createDataFrame([("k1", "c1", "s1", "new")], sub_schema),
        sub, mode="append", clock_millis=2000,
    )
    assert sub.mapping.transposed and sub.mapping.has_subcolumn

    cf_map = handler.define_table(
        "cfm", str(tmp_path / "cfm"), ["id", "name", "props"],
        ["string", "string", "map<string,string>"], mapping=":key,name,props:",
    )
    handler.write_table(
        spark.createDataFrame(
            [("r1", "n1", {"a": "1", "b": "2"}), ("r2", "n2", {"c": "3"})],
            "id string, name string, props map<string,string>",
        ),
        cf_map, clock_millis=1000,
    )

    ttl = _two_row_table(spark, tmp_path / "ttl")
    sink.write_cells(
        _ttl_cells(spark, [("k1", "a", encode_long(9), 2000, 60),
                           ("k2", "b", None, 2000, None)]),
        ttl.path, mode="append",
    )
    assert "ttl_s" in store_schema(ttl.path)

    cases = [
        (regular, [("k1", 1, 2), ("k2", 3, 4)]),
        (sub, [("k1", "c1", "s1", "new"), ("k1", "c1", "s2", "y"),
               ("k2", "c2", "s1", "z")]),
        (cf_map, [("r1", "n1", {"a": "1", "b": "2"}), ("r2", "n2", {"c": "3"})]),
        (ttl, [("k1", 9, 2), ("k2", 3, None)]),
    ]
    for tdef, want in cases:
        got = _rows(handler.read_table(spark, tdef))
        assert got == inferred(tdef), tdef.path
        assert got == want, tdef.path
