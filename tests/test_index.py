"""Secondary index (Cassandra 2i shape): index build, point lookup,
tombstone hygiene, and the broadcast-semi-join fetch plan."""

from pyspark.sql import functions as F

from hive_cassandra_spark import datasource, index, sink


def _store(spark, tmp_path, rows, name):
    datasource.register(spark)
    df = spark.createDataFrame(
        [
            (rk.encode(), cn.encode(), None if v is None else v.encode(), ts)
            for rk, cn, v, ts in rows
        ],
        "row_key binary, column_name binary, value binary, ts long",
    )
    path = str(tmp_path / name)
    sink.write_cells(df, path)
    return path


BASE = [
    ("r1", "seg", "gold", 1),
    ("r1", "name", "alice", 1),
    ("r2", "seg", "gold", 1),
    ("r2", "name", "bob", 1),
    ("r3", "seg", "iron", 1),
    ("r3", "name", "carol", 1),
    ("r4", "seg", None, 2),  # tombstoned segment: must not be indexed
    ("r4", "name", "dave", 1),
]


def test_index_build_and_lookup(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx = index.build_value_index(cells, b"seg")
    got = {
        (r.row_key, r.column_name): r.value for r in idx.collect()
    }
    # row_key = indexed value, column_name = base row key, value = NULL
    assert set(got) == {
        (b"gold", b"r1"), (b"gold", b"r2"), (b"iron", b"r3")
    }
    assert all(v is None for v in got.values())

    idx_path = str(tmp_path / "idx")
    sink.write_cells(idx, idx_path)
    rows = index.index_lookup(spark, base, idx_path, b"gold")
    fetched = {(r.row_key, r.column_name) for r in rows.collect()}
    # full cell rows of r1+r2 only — r3 (iron) and r4 (tombstoned) excluded
    assert fetched == {
        (b"r1", b"seg"), (b"r1", b"name"), (b"r2", b"seg"), (b"r2", b"name")
    }


def test_lookup_misses_cleanly(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)
    assert index.index_lookup(spark, base, idx_path, b"unobtainium").count() == 0


def test_lookup_plan_broadcasts_keys_no_base_shuffle(spark, tmp_path):
    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)
    rows = index.index_lookup(spark, base, idx_path, b"gold")
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the base-store (stream) side must not be exchanged; the one allowed
    # Exchange is the key-side distinct INSIDE the broadcast build, whose
    # input is the probed value's index row — selectivity-sized, not
    # table-sized
    stream_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in stream_side, plan


def test_index_lookup_via_sql_views(spark, tmp_path):
    """The 2i works from pure SQL: base + index stores registered as
    views THROUGH the cassandra_cells datasource (catalog.
    register_cells_table), lookup written as the textbook IN-subquery —
    same rows as the library path."""
    from hive_cassandra_spark.catalog import Catalog

    base = _store(spark, tmp_path, BASE, "base")
    cells = spark.read.format("cassandra_cells").load(base)
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)

    cat = Catalog(spark)
    cat.register_cells_table("cf_base", base)
    cat.register_cells_table("cf_seg_idx", idx_path)
    got = spark.sql(
        """
        SELECT row_key, column_name FROM cf_base
        WHERE row_key IN (SELECT column_name FROM cf_seg_idx
                          WHERE row_key = X'676f6c64')  -- 'gold'
        """
    )
    want = index.index_lookup(spark, base, idx_path, b"gold").select(
        "row_key", "column_name"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    cat.drop_table("cf_base")
    cat.drop_table("cf_seg_idx")


def test_native_lookup_matches_connector_on_mixed_schema_store(spark, tmp_path):
    """The lookup scans the stores as JVM parquet, not through the
    connector, but returns the connector's column list and rows — also
    when only the later parts of the base store carry ``ttl_s``, where
    parquet schema inference from one footer would drop the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path / "base"
    base.mkdir()

    def part(name, rows, ttl=None):
        cols = {
            "row_key": pa.array([r[0].encode() for r in rows], pa.binary()),
            "column_name": pa.array([r[1].encode() for r in rows], pa.binary()),
            "value": pa.array([None if r[2] is None else r[2].encode() for r in rows], pa.binary()),
            "ts": pa.array([r[3] for r in rows], pa.int64()),
        }
        if ttl is not None:
            cols["ttl_s"] = pa.array([ttl] * len(rows), pa.int32())
        pq.write_table(pa.table(cols), str(base / name))

    part("part-0.parquet", BASE[:4])
    part("part-1.parquet", BASE[4:], ttl=60)
    part("part-2.parquet", [("r3", "seg", "gold", 2), ("r5", "seg", "gold", 1)], ttl=30)

    datasource.register(spark)
    cells = spark.read.format("cassandra_cells").load(str(base))
    idx_path = str(tmp_path / "idx")
    sink.write_cells(index.build_value_index(cells, b"seg"), idx_path)

    got = index.index_lookup(spark, str(base), idx_path, b"gold")
    keys = (
        spark.read.format("cassandra_cells").load(idx_path)
        .filter(F.col("row_key") == F.lit(b"gold"))
        .select(F.col("column_name").alias("row_key")).distinct()
    )
    want = cells.join(F.broadcast(keys), "row_key", "semi")
    assert got.columns == want.columns == ["row_key", "column_name", "value", "ts", "ttl_s"]
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # r3's later gold write is indexed too (index entries are per version)
    assert {r.row_key for r in got.collect()} == {b"r1", b"r2", b"r3", b"r5"}
