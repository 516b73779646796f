"""Table-shape transforms: explode/implode/cf-map/super round-trips, LWW,
ghost filtering (≙ CassandraHiveRecordReader / TransposedMapping semantics)."""

from pyspark.sql import functions as F

from hive_cassandra_spark.operators import transpose as tp


def _wide(spark):
    return spark.createDataFrame(
        [("k1", "1", "x", None), ("k2", "2", None, "z")],
        "id string, a string, b string, c string",
    )


def test_explode_drops_ghost_cells(spark):
    long = tp.explode_to_long(_wide(spark), "id")
    rows = {(r.row_key, r.column_name): r.value for r in long.collect()}
    # null cells are dead — filtered (≙ isLive, CassandraHiveRecordReader.java:205-207)
    assert ("k1", "c") not in rows and ("k2", "b") not in rows
    assert rows[("k1", "a")] == "1" and rows[("k2", "c")] == "z"


def test_explode_implode_roundtrip(spark):
    wide = _wide(spark)
    back = tp.implode_from_long(tp.explode_to_long(wide, "id"), ["a", "b", "c"])
    orig = {r.id: (r.a, r.b, r.c) for r in wide.collect()}
    got = {r.row_key: (r.a, r.b, r.c) for r in back.collect()}
    assert got == orig


def test_cf_map_roundtrip(spark):
    long = tp.explode_to_long(_wide(spark), "id")
    as_map = tp.long_to_cf_map(long)
    m = {r.row_key: dict(r.cf_map) for r in as_map.collect()}
    assert m == {"k1": {"a": "1", "b": "x"}, "k2": {"a": "2", "c": "z"}}
    back = tp.cf_map_to_long(as_map)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, long.collect()))


def test_super_column_roundtrip(spark):
    long3 = spark.createDataFrame(
        [
            ("u1", "clicks", "d1", "3"),
            ("u1", "clicks", "d2", "5"),
            ("u1", "views", "d1", "9"),
            ("u2", "views", "d3", "1"),
        ],
        f"{tp.ROW_KEY} string, {tp.COLUMN_NAME} string, {tp.SUB_COLUMN_NAME} string, {tp.VALUE} string",
    )
    nested = tp.implode_long_to_super(long3)
    m = {r.row_key: {k: dict(v) for k, v in r.super_map.items()} for r in nested.collect()}
    assert m["u1"] == {"clicks": {"d1": "3", "d2": "5"}, "views": {"d1": "9"}}
    back = tp.explode_super_to_long(nested, tp.ROW_KEY, "super_map")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, long3.collect()))


def test_lww_compact(spark):
    df = spark.createDataFrame(
        [("k", "a", 1, "old"), ("k", "a", 2, "new"), ("k", "b", 1, "only")],
        "key string, col string, ts long, val string",
    )
    out = tp.lww_compact(df, ["key", "col"], "ts")
    got = {(r.key, r.col): r.val for r in out.collect()}
    assert got == {("k", "a"): "new", ("k", "b"): "only"}


def test_lww_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("k", "a", 1, "v1"), ("k", "a", 1, "v2")],
        "key string, col string, ts long, val string",
    )
    out = tp.lww_compact(df, ["key", "col"], "ts", tiebreak=["val"])
    assert out.collect()[0].val == "v2"  # desc tiebreak


def test_super_implode_single_exchange(spark):
    """The two nested aggregations must share one up-front row_key
    repartition — hash(row_key) satisfies both clusterings."""
    long3 = spark.createDataFrame(
        [("u1", "clicks", "d1", "3"), ("u1", "views", "d1", "9")],
        f"{tp.ROW_KEY} string, {tp.COLUMN_NAME} string, {tp.SUB_COLUMN_NAME} string, {tp.VALUE} string",
    )
    nested = tp.implode_long_to_super(long3)
    plan = nested._jdf.queryExecution().executedPlan().toString()
    import re
    # exactly one real exchange (the repartition); ReusedExchange excluded
    n = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n == 1, plan
