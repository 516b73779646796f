"""Connector read/write path: typed rows → binary cell store → typed rows.

Round-trip identity through the actual byte encodings is the strongest
check on the SerDe-parity layer (≙ TableMapping.getWritable →
CassandraLazy* decode; SURVEY.md §5.2 and §7 step 4)."""

import contextlib
import datetime
import time

from pyspark.sql import functions as F

from hive_cassandra_spark import sink, source
from hive_cassandra_spark.codecs import encode_double, encode_long, encode_string
from hive_cassandra_spark.mapping import parse_mapping

SCHEMA = "id bigint, name string, score double, flag boolean, ts timestamp"
ROWS = [
    (1, "alpha", 1.5, True, datetime.datetime(2024, 1, 1, 12, 0, 0)),
    (2, "beta", -2.25, False, datetime.datetime(2024, 6, 15, 3, 30, 0)),
    (3, None, None, None, None),  # all-null values → no cells → ghost row
]
TYPES = ["bigint", "string", "double", "boolean", "timestamp"]
COLS = ["id", "name", "score", "flag", "ts"]


def _typed(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_regular_roundtrip(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1000)
    back = source.cells_to_table(cells, m, COLS, TYPES)
    got = {r.id: (r.name, r.score, r.flag, r.ts) for r in back.collect()}
    assert got[1] == ("alpha", 1.5, True, datetime.datetime(2024, 1, 1, 12, 0, 0))
    assert got[2] == ("beta", -2.25, False, datetime.datetime(2024, 6, 15, 3, 30, 0))
    # row 3: all value cells null → ghost row, skipped entirely (DSP-465)
    assert 3 not in got


def test_cell_bytes_are_cassandra_marshaled(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1000)
    by = {
        (bytes(r.row_key), bytes(r.column_name)): bytes(r.value)
        for r in cells.collect()
    }
    assert by[(encode_long(1), b"name")] == encode_string("alpha")
    assert by[(encode_long(2), b"score")] == encode_double(-2.25)
    assert by[(encode_long(1), b"flag")] == b"\x01"


def test_lww_keeps_newest_cell(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    old = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1000)
    update = spark.createDataFrame(
        [(1, "alpha-v2", 9.0, True, None)], SCHEMA
    )
    new = sink.to_cells(update, m, TYPES, clock_millis=2000)
    back = source.cells_to_table(old.unionByName(new), m, COLS, TYPES)
    got = {r.id: (r.name, r.score) for r in back.collect()}
    assert got[1] == ("alpha-v2", 9.0)
    assert got[2] == ("beta", -2.25)


def test_projection_pushdown_prunes_cells(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1)
    back = source.cells_to_table(cells, m, COLS, TYPES, wanted_columns=["score"])
    assert back.columns == ["id", "score"]
    # the column_name IN (...) restriction must appear below the aggregate
    plan = back._jdf.queryExecution().optimizedPlan().toString()
    assert "column_name" in plan and "score" in plan


def test_transposed_roundtrip(spark):
    m = parse_mapping(":key,:column,:value", 3)
    long_rows = spark.createDataFrame(
        [("r1", "c1", 10), ("r1", "c2", 20), ("r2", "c1", 30)],
        "row_key string, col string, v bigint",
    )
    cells = sink.to_cells(long_rows, m, ["string", "string", "bigint"], clock_millis=1)
    back = source.cells_to_table(
        cells, m, ["row_key", "col", "v"], ["string", "string", "bigint"]
    )
    assert sorted(map(tuple, back.collect())) == [
        ("r1", "c1", 10), ("r1", "c2", 20), ("r2", "c1", 30),
    ]


def test_cf_map_write_fanout_and_read(spark):
    m = parse_mapping(":key,props:", 2)
    df = spark.createDataFrame(
        [("r1", {"a": 1.0, "b": 2.5}), ("r2", {"c": -3.0})],
        "id string, props map<string,double>",
    )
    cells = sink.to_cells(df, m, ["string", "map<string,double>"], clock_millis=1)
    got = {
        (bytes(r.row_key).decode(), bytes(r.column_name).decode()): bytes(r.value)
        for r in cells.collect()
    }
    assert got[("r1", "a")] == encode_double(1.0)
    assert got[("r2", "c")] == encode_double(-3.0)
    back = source.cells_to_table(
        cells, m, ["id", "props"], ["string", "map<string,double>"]
    )
    # read side is functional (the reference's is a no-op —
    # LazyCassandraCellMap.java:28-34); binary map values surface as strings
    assert back.columns == ["id", "props"]
    assert back.count() == 2


def test_write_read_cells_files(spark, tmp_path):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=7)
    p = str(tmp_path / "cells")
    sink.write_cells(cells, p, batch_size=10)
    back = source.cells_to_table(source.read_cells(spark, p), m, COLS, TYPES)
    assert back.count() == 2


def test_consistency_coercion():
    # bad values coerce to ONE (CassandraAbstractPut.java:39-50)
    assert sink.normalize_consistency("banana") == "ONE"
    assert sink.normalize_consistency(None) == "ONE"
    assert sink.normalize_consistency("quorum") == "QUORUM"


def test_dual_decode_text_fallback(spark):
    """Cells written as ASCII text by a foreign writer still read as the
    declared numeric type (the §1.3 dual-decode rule)."""
    m = parse_mapping(":key,score", 2)
    cells = spark.createDataFrame(
        [(b"r1", b"score", b"42.5", 1)],
        "row_key binary, column_name binary, value binary, ts long",
    )
    back = source.cells_to_table(cells, m, ["id", "score"], ["string", "double"])
    assert back.collect()[0].score == 42.5


def test_paged_cells_bounded_ordered_complete(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1)
    paged = source.paged_cells(cells, page_size=3)
    rows = paged.collect()
    # complete: every live cell appears exactly once
    assert len(rows) == cells.count()
    # bounded: no (partition, page) holds more than page_size cells
    from collections import Counter
    per_page = Counter((r.scan_partition, r.page) for r in rows)
    assert max(per_page.values()) <= 3
    # ordered + resumable: within a partition, pages follow (row_key,
    # column_name) order — page n's cells all sort before page n+1's
    by_part = {}
    for r in rows:
        by_part.setdefault(r.scan_partition, []).append(r)
    for part_rows in by_part.values():
        ordered = sorted(part_rows, key=lambda r: (bytes(r.row_key), bytes(r.column_name)))
        pages = [r.page for r in ordered]
        assert pages == sorted(pages)
    # deterministic across runs
    again = source.paged_cells(cells, page_size=3).collect()
    key = lambda r: (bytes(r.row_key), bytes(r.column_name), r.scan_partition, r.page)
    assert sorted(map(key, rows)) == sorted(map(key, again))


def test_paged_cells_keeps_big_bigints_exact(spark):
    """``paged_cells`` passes every value through untouched: a nullable
    bigint above 2**53 comes back exact, and the plan keeps its one
    exchange (the row_key repartition)."""
    from hive_cassandra_spark.session import local_df

    cells = local_df(
        spark,
        [(b"r1", b"c", b"v", 1, 2**60 + 1), (b"r2", b"c", b"v", 1, None)],
        "row_key binary, column_name binary, value binary, ts long, "
        "ttl_s long",
    )
    paged = source.paged_cells(cells, page_size=1)
    plan = paged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    got = {bytes(r.row_key): r.ttl_s for r in paged.collect()}
    assert got == {b"r1": 2**60 + 1, b"r2": None}


def test_validator_decode_col(spark):
    from hive_cassandra_spark.codecs import decode_validator_col, encode_long

    df = spark.createDataFrame([(encode_long(42),), (None,)], "v binary")
    out = df.select(decode_validator_col(F.col("v"), "LongType").alias("s")).collect()
    assert [r.s for r in out] == ["42", None]
    hexed = df.select(decode_validator_col(F.col("v"), "BytesType").alias("s")).collect()
    assert hexed[0].s == encode_long(42).hex()


def test_slice_range(spark):
    m = parse_mapping(":key,name,score,flag,ts", 5)
    cells = sink.to_cells(_typed(spark), m, TYPES, clock_millis=1)
    # range [flag, score] over names {flag, name, score, ts}; reversed, count=1
    sliced = source.slice_cells(
        cells, start="flag", finish="score", reversed_order=True, count=1
    )
    got = {
        bytes(r.row_key): bytes(r.column_name).decode() for r in sliced.collect()
    }
    # reversed order within [flag..score] → 'score' is the first cell kept
    assert set(got.values()) == {"score"}
    # forward order, count=1 → 'flag'
    fwd = source.slice_cells(cells, start="flag", finish="score", count=1)
    assert {bytes(r.column_name).decode() for r in fwd.collect()} == {"flag"}


def test_complex_types_json_roundtrip(spark):
    """Non-primitive columns flatten to JSON on write and parse back on
    read (≙ TableMapping.java:101-133 useJsonSerialize)."""
    m = parse_mapping(":key,tags,meta", 3)
    types = ["string", "array<bigint>", "struct<a:string,b:double>"]
    df = spark.createDataFrame(
        [("r1", [1, 2, 3], ("x", 1.5)), ("r2", [], ("y", -2.0))],
        "id string, tags array<bigint>, meta struct<a:string,b:double>",
    )
    cells = sink.to_cells(df, m, types, clock_millis=1)
    raw = {
        (bytes(r.row_key).decode(), bytes(r.column_name).decode()): bytes(r.value).decode()
        for r in cells.collect()
    }
    assert raw[("r1", "tags")] == "[1,2,3]"
    assert '"a":"x"' in raw[("r1", "meta")]
    back = source.cells_to_table(cells, m, ["id", "tags", "meta"], types)
    got = {r.id: (r.tags, (r.meta.a, r.meta.b)) for r in back.collect()}
    assert got["r1"] == ([1, 2, 3], ("x", 1.5))
    assert got["r2"] == ([], ("y", -2.0))


def test_next_lww_ts_monotone():
    """Streaming LWW stamps never regress: same-millisecond batches get +1
    increments, and a clock step backwards cannot invert write order (the
    old pmod(batch_id, 1000) tiebreaker wrapped every 1000 batches)."""
    from hive_cassandra_spark.sink import _next_lww_ts

    ts1 = _next_lww_ts(-1, 5_000)
    ts2 = _next_lww_ts(ts1, 5_000)   # same wall millisecond
    ts3 = _next_lww_ts(ts2, 4_000)   # clock stepped back
    ts4 = _next_lww_ts(ts3, 9_000)   # clock jumped ahead
    assert ts1 == 5_000 and ts2 == 5_001 and ts3 == 5_002 and ts4 == 9_000
    assert ts1 < ts2 < ts3 < ts4


def test_expire_cells_ttl_semantics(spark):
    """ExpiringColumn read semantics: NULL ttl never expires, live iff
    ts + ttl*1000 > now, and a row whose every cell expires vanishes from
    the pivoted read (no ghost row)."""
    from hive_cassandra_spark import sink as _sink, source as _source
    from hive_cassandra_spark.mapping import parse_mapping

    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], "k long, s string, v long"
    )
    m = parse_mapping(":key,s,v", 3)
    types = ["bigint", "string", "bigint"]
    cells = _sink.to_cells(df, m, types, clock_millis=1000)
    # key 1: both cells ttl=5 (dead at now=10_000); key 2: s has no ttl,
    # v ttl=5 (dead) → row 2 survives with s only
    from hive_cassandra_spark.codecs import decode_col

    key_num = decode_col(F.col("row_key"), "bigint")
    with_ttl = cells.withColumn(
        "ttl_s",
        F.when(key_num == 1, F.lit(5)).otherwise(
            F.when(F.col("column_name").cast("string") == "v", F.lit(5))
        ),
    )
    live = _source.expire_cells(with_ttl, now_millis=10_000)
    back = _source.cells_to_table(live, m, ["k", "s", "v"], types).collect()
    assert len(back) == 1
    row = back[0]
    assert row.k == 2 and row.s == "y" and row.v is None
    # at now just before expiry everything is still live
    early = _source.cells_to_table(
        _source.expire_cells(with_ttl, now_millis=5_999), m, ["k", "s", "v"], types
    )
    assert early.count() == 2


def test_compact_store_semantics(spark, tmp_path):
    """sink.occ_compact_store on a connector-written store: LWW winner
    per cell (highest ts, ties to the lexically greater value —
    Cassandra's reconciliation rule), tombstone suppress-and-vanish, TTL
    GC, no temp leftovers."""
    import glob
    import os

    from hive_cassandra_spark import datasource, sink

    datasource.register(spark)
    store = str(tmp_path / "cstore")
    rows = [
        (b"k1", b"c1", b"v1", 10, None),
        (b"k1", b"c1", b"v2", 20, None),  # winner by ts
        (b"k2", b"c1", b"aa", 5, None),
        (b"k2", b"c1", b"zz", 5, None),  # ts tie -> greater value wins
        (b"k3", b"c1", None, 30, None),  # tombstone wins, then vanishes
        (b"k3", b"c1", b"old", 10, None),
        (b"k4", b"c1", b"x", 1000, 1),  # expired at now=10000
        (b"k5", b"c1", b"y", 1000, 100),  # alive
    ]
    df = spark.createDataFrame(
        rows, "row_key binary, column_name binary, value binary, ts long, ttl_s int"
    )
    df.write.format("cassandra_cells").mode("append").save(store)
    df.write.format("cassandra_cells").mode("append").save(store)  # 2nd gen of files
    stats = sink.occ_compact_store(spark, store, now_millis=10000)
    assert stats["cells_in"] == 16
    assert stats["cells_out"] == 3
    back = {
        bytes(r.row_key): bytes(r.value)
        for r in spark.read.format("cassandra_cells").load(store).collect()
    }
    assert back == {b"k1": b"v2", b"k2": b"zz", b"k5": b"y"}
    # no temp/old dirs left behind
    parent = os.path.dirname(store)
    assert not glob.glob(f"{parent}/*.compacting-*")
    assert not glob.glob(f"{parent}/*.old-*")


def test_scrub_cells_flags_only_declared_failures(spark):
    from hive_cassandra_spark import codecs, source
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [
            (b"r1", b"num", None, 1),          # tombstone: never corrupt
            (b"r2", b"num", b"notanum", 1),    # fails bigint dual decode
            (b"r3", b"num", b"12345", 1),      # text fallback parses
            (b"r4", b"txt", b"\xff\xfe", 1),   # undeclared column: skipped
        ],
        "row_key binary, column_name binary, value binary, ts long",
    )
    eight = spark.range(1).select(
        F.lit(b"r5").alias("row_key"), F.lit(b"num").alias("column_name"),
        codecs.encode_col(F.lit(4242).cast("bigint"), "bigint").alias("value"),
        F.lit(1).cast("long").alias("ts"),
    )
    out = {
        r.row_key: r.corrupt
        for r in source.scrub_cells(
            rows.unionByName(eight), {b"num": "bigint"}
        ).collect()
    }
    assert out == {b"r1": False, b"r2": True, b"r3": False,
                   b"r4": False, b"r5": False}
    # zero-shuffle projection
    plan = source.scrub_cells(rows, {b"num": "bigint"})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_cdc_apply_tombstone_semantics(spark):
    """apply_cdc_batch: newest-wins including NULL tombstones (max_by must
    NOT skip the null — pinned here), and a row whose every cell is
    tombstoned vanishes from the pivoted read like a ghost row."""
    from hive_cassandra_spark import codecs
    from hive_cassandra_spark.mapping import parse_mapping
    from hive_cassandra_spark.source import apply_cdc_batch, cells_to_table

    def cells(rows):
        return spark.createDataFrame(
            [
                (
                    codecs.encode_long(k),
                    codecs.encode_string(c),
                    None if v is None else codecs.encode_string(v),
                    ts,
                )
                for k, c, v, ts in rows
            ],
            "row_key binary, column_name binary, value binary, ts long",
        )

    base = cells(
        [(1, "a", "x", 10), (1, "b", "y", 10), (2, "a", "p", 10), (2, "b", "q", 10)]
    )
    changes = cells(
        [
            (1, "a", None, 20),  # tombstone one cell
            (1, "b", None, 20),  # ...and the other: row 1 must vanish
            (2, "a", "P2", 20),  # update
        ]
    )
    applied = apply_cdc_batch(base, changes)
    # tombstones survive compaction as NULL-value newest cells
    dead = applied.filter(F.col("value").isNull()).count()
    assert dead == 2
    table = cells_to_table(
        applied, parse_mapping(":key,a,b"),
        ["k", "a", "b"], ["bigint", "string", "string"],
    )
    rows = {r.k: (r.a, r.b) for r in table.collect()}
    assert rows == {2: ("P2", "q")}  # row 1 gone; row 2 updated + kept


def test_compact_store_gc_grace(spark, tmp_path):
    """gc_grace_s: tombstones younger than the grace window SURVIVE
    compaction (still suppressing late older writes), older ones purge
    with their suppressed rows — Cassandra's gc_grace_seconds rule."""
    from hive_cassandra_spark import datasource, sink

    datasource.register(spark)
    store = str(tmp_path / "gstore")
    rows = [
        (b"k1", b"c", b"v", 1000, None),
        (b"k1", b"c", None, 2000, None),   # old tombstone: purged
        (b"k2", b"c", b"v", 1000, None),
        (b"k2", b"c", None, 9000, None),   # young tombstone: retained
        (b"k3", b"c", b"v", 1000, None),   # live
    ]
    spark.createDataFrame(
        rows, "row_key binary, column_name binary, value binary, ts long, ttl_s int"
    ).write.format("cassandra_cells").mode("append").save(store)
    sink.occ_compact_store(spark, store, now_millis=10_000, gc_grace_s=5)
    back = {
        bytes(r.row_key): (None if r.value is None else bytes(r.value))
        for r in spark.read.format("cassandra_cells").load(store).collect()
    }
    assert back == {b"k2": None, b"k3": b"v"}
    # a late write OLDER than the retained tombstone still loses
    spark.createDataFrame(
        [(b"k2", b"c", b"late", 5000, None)],
        "row_key binary, column_name binary, value binary, ts long, ttl_s int",
    ).write.format("cassandra_cells").mode("append").save(store)
    sink.occ_compact_store(spark, store, now_millis=10_000, gc_grace_s=5)
    back2 = {
        bytes(r.row_key): (None if r.value is None else bytes(r.value))
        for r in spark.read.format("cassandra_cells").load(store).collect()
    }
    assert back2[b"k2"] is None  # tombstone still wins over the late write


def test_recover_store_all_crash_points(spark, tmp_path):
    """sink.recover_store resolves every crash state the compaction swap
    can leave behind, idempotently, without losing a single cell."""
    import os
    import shutil

    from hive_cassandra_spark import datasource, sink

    datasource.register(spark)

    def fresh(name):
        store = str(tmp_path / name)
        spark.createDataFrame(
            [(b"k1", b"c", b"v1", 10), (b"k2", b"c", b"v2", 20)],
            "row_key binary, column_name binary, value binary, ts long",
        ).write.format("cassandra_cells").mode("append").save(store)
        return store

    def rows(store):
        return {
            bytes(r.row_key): bytes(r.value)
            for r in spark.read.format("cassandra_cells").load(store).collect()
        }

    want = {b"k1": b"v1", b"k2": b"v2"}

    # state 1: crash before any rename — partial compaction dir lingers
    s1 = fresh("s1")
    shutil.copytree(s1, s1 + ".compacting-dead1")
    r = sink.recover_store(s1)
    assert r == {"rolled_forward": 0, "dropped_partials": 1, "dropped_old": 0}
    assert rows(s1) == want and not os.path.exists(s1 + ".compacting-dead1")

    # state 2: crash between the renames — store path missing entirely
    s2 = fresh("s2")
    os.rename(s2, s2 + ".old-dead2")
    shutil.copytree(s2 + ".old-dead2", s2 + ".compacting-dead2")
    r = sink.recover_store(s2)
    assert r["rolled_forward"] == 1 and r["dropped_old"] == 1
    assert rows(s2) == want

    # state 2b: only the .old dir survived — roll back
    s3 = fresh("s3")
    os.rename(s3, s3 + ".old-dead3")
    r = sink.recover_store(s3)
    assert r["rolled_forward"] == 1
    assert rows(s3) == want

    # state 3: crash after the swap, before the delete
    s4 = fresh("s4")
    shutil.copytree(s4, s4 + ".old-dead4")
    r = sink.recover_store(s4)
    assert r == {"rolled_forward": 0, "dropped_partials": 0, "dropped_old": 1}
    assert rows(s4) == want

    # idempotent on a clean store
    assert sink.recover_store(s4) == {
        "rolled_forward": 0, "dropped_partials": 0, "dropped_old": 0,
    }


def test_occ_commit_protocol(spark, tmp_path):
    """The OCC contract: exactly one writer per version, stale writers
    fail closed with the fresh version, torn commits recover, and the
    store content is exactly the committed generations."""
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")

    def gen(tag, n):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit(tag), "utf-8").alias("column_name"),
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("value"),
            F2.lit(1).cast("long").alias("ts"),
        )

    assert sink.store_version(store if False else str(tmp_path / "nope")) == 0
    r1 = sink.occ_commit(spark, store, gen("a", 10), 0)
    assert r1 == {"committed": True, "version": 1, "conflict": False,
                  "claim_pending": False, "files": r1["files"]}
    # stale writer: conflict reports the CURRENT version for the retry;
    # no claim is pending (the winner published), so plain retry suffices
    r2 = sink.occ_commit(spark, store, gen("b", 5), 0)
    assert not r2["committed"] and r2["conflict"] and r2["version"] == 1
    assert not r2["claim_pending"]
    # no partial data from the loser
    assert spark.read.parquet(store).count() == 10
    r3 = sink.occ_commit(spark, store, gen("b", 5), r2["version"])
    assert r3["committed"] and r3["version"] == 2
    assert spark.read.parquet(store).count() == 15
    # torn commit: claim v3 + token-matched junk part, no marker
    import os

    claim = os.path.join(store, "_occ-claim-000000003")
    os.mkdir(claim)
    with open(os.path.join(claim, "token"), "w") as fh:
        fh.write("feedface")
    gen("x", 3).coalesce(1).write.parquet(str(tmp_path / "junk"))
    import glob

    junk = glob.glob(str(tmp_path / "junk" / "*.parquet"))[0]
    os.rename(junk, os.path.join(
        store, "part-occ-v000000003-00000-feedface.parquet"))
    # version is still 2 (markers only), but v3 is unclaimable until
    # recovery sweeps the dead claim
    assert sink.store_version(store) == 2
    # snapshot-isolation read: the torn commit's junk part is invisible
    # through occ_read even BEFORE recovery (raw glob reads would see it)
    assert sink.occ_read(spark, store).count() == 15
    blocked = sink.occ_commit(spark, store, gen("c", 4), 2)
    assert not blocked["committed"] and blocked["conflict"]
    # the blocking claim has no published marker: claim_pending tells the
    # caller a refresh-and-retry loop alone would spin forever — run
    # occ_recover (a live racing writer would have published by now)
    assert blocked["claim_pending"]
    rec = sink.occ_recover(store)
    assert rec["dropped_claims"] == 1 and rec["dropped_parts"] == 1
    assert sink.occ_recover(store)["dropped_claims"] == 0  # idempotent
    assert spark.read.parquet(store).count() == 15  # junk swept
    r4 = sink.occ_commit(spark, store, gen("c", 4), 2)
    assert r4["committed"] and r4["version"] == 3
    assert spark.read.parquet(store).count() == 19
    # published claims are permanent winner records — never swept
    assert sink.occ_recover(store)["dropped_claims"] == 0
    assert sink.store_version(store) == 3
    # occ_read sees exactly the committed parts; an empty store reads as
    # an empty typed cell frame
    assert sink.occ_read(spark, store).count() == 19
    empty = sink.occ_read(spark, str(tmp_path / "never_committed"))
    assert empty.count() == 0 and "row_key" in empty.columns


def test_occ_compact_store_snapshot_and_vacuum(spark, tmp_path):
    """occ_compact_store: winners land as a SNAPSHOT commit — superseded
    versions become invisible to occ_read immediately and occ_vacuum
    physically drops them; appends AFTER the snapshot layer on top; a
    stale snapshot commit fails closed (the lost-update race)."""
    import glob
    import os

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")

    def gen(tag, n, ts, null_vals=False):
        return spark.range(n).select(
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            (
                F2.lit(None).cast("binary")
                if null_vals
                else F2.encode(
                    F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                    "utf-8",
                )
            ).alias("value"),
            F2.lit(ts).cast("long").alias("ts"),
        )

    # v1: 10 base cells; v2: 4 updated; v3: tombstones for ids 0-1
    assert sink.occ_commit(spark, store, gen("a", 10, 1000), 0)["committed"]
    assert sink.occ_commit(spark, store, gen("b", 4, 2000), 1)["committed"]
    assert sink.occ_commit(
        spark, store, gen("t", 2, 3000, null_vals=True), 2
    )["committed"]
    res = sink.occ_compact_store(spark, store)
    assert res["version"] == 4 and res["conflicts"] == 0
    assert res["cells_in"] == 16 and res["cells_out"] == 8  # 10 -2 tombstoned
    # superseded parts are gone from disk AND from reads
    vers = {
        os.path.basename(f)[10:19]
        for f in glob.glob(os.path.join(store, "part-occ-v*.parquet"))
    }
    assert vers == {"000000004"}
    compacted = sink.occ_read(spark, store)
    assert compacted.count() == 8
    vals = {
        bytes(r.value).decode() for r in compacted.select("value").collect()
    }
    assert vals == {"b2", "b3", "a4", "a5", "a6", "a7", "a8", "a9"}
    # a stale snapshot commit (reader at v4, append lands v5) fails closed
    assert sink.occ_commit(spark, store, gen("z", 1, 4000), 4)["committed"]
    stale = sink.occ_commit(spark, store, gen("x", 1, 5000), 4, snapshot=True)
    assert stale["conflict"] and not stale["committed"]
    # post-snapshot append layers on top of the snapshot floor
    assert sink.occ_read(spark, store).count() == 9
    # second compaction folds it in (z0 at ts 4000 beats tombstone 3000)
    res2 = sink.occ_compact_store(spark, store)
    assert res2["version"] == 6 and res2["cells_out"] == 9


def test_occ_recover_age_gate_spares_live_claims(spark, tmp_path):
    """r09 advisor finding (sink.py occ_compact_store): claim_pending only
    means 'no marker at conflict time' — a live writer between its mkdir
    claim and marker publish is indistinguishable from a dead one. The
    sweep must therefore be age-gated: a fresh claim survives
    occ_recover(min_age_s=...) untouched (with its renamed parts), while
    a claim older than the gate is swept."""
    import os

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")
    cells = spark.range(3).select(
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
        F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
        F2.encode(F2.lit("v"), "utf-8").alias("value"),
        F2.lit(1).cast("long").alias("ts"),
    )
    assert sink.occ_commit(spark, store, cells, 0)["committed"]
    # a writer mid-flight: claim + token + renamed part, marker NOT yet
    # published (it is alive — the marker would land milliseconds later)
    claim = os.path.join(store, "_occ-claim-000000002")
    os.mkdir(claim)
    with open(os.path.join(claim, "token"), "w") as fh:
        fh.write("beefcafe")
    with open(
        os.path.join(store, "part-occ-v000000002-00000-beefcafe.parquet"),
        "wb",
    ) as fh:
        fh.write(b"live-writer-part")
    rec = sink.occ_recover(store, min_age_s=60.0)
    assert rec["dropped_claims"] == 0 and rec["skipped_young"] == 1
    assert os.path.exists(claim)  # the live writer's claim survived
    assert os.path.exists(
        os.path.join(store, "part-occ-v000000002-00000-beefcafe.parquet")
    )
    # ...the same claim, BACKDATED past the gate, is a dead claim: swept
    old = 1_000_000_000
    os.utime(claim, (old, old))
    rec2 = sink.occ_recover(store, min_age_s=60.0)
    assert rec2["dropped_claims"] == 1 and rec2["dropped_parts"] == 1
    assert not os.path.exists(claim)


def test_occ_compact_store_waits_out_live_claim(spark, tmp_path):
    """occ_compact_store must not sweep a pending claim inside the grace
    window: a racing writer that publishes mid-wait turns the wait into
    an ordinary refresh-and-retry, and the writer's cells survive into
    the compacted snapshot (the exact lost-update the advisor flagged)."""
    import os
    import threading
    import time

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")

    def gen(tag, n, ts):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            F2.encode(F2.lit(tag), "utf-8").alias("value"),
            F2.lit(ts).cast("long").alias("ts"),
        )

    assert sink.occ_commit(spark, store, gen("a", 5, 1000), 0)["committed"]
    # a live writer has claimed v2 and renamed its part, but not yet
    # published; it will publish ~0.5 s from now
    claim = os.path.join(store, "_occ-claim-000000002")
    os.mkdir(claim)
    with open(os.path.join(claim, "token"), "w") as fh:
        fh.write("cafebabe")
    staged = str(tmp_path / "staged")
    gen("b", 3, 2000).coalesce(1).write.parquet(staged)
    import glob

    part = glob.glob(os.path.join(staged, "*.parquet"))[0]
    os.rename(part, os.path.join(
        store, "part-occ-v000000002-00000-cafebabe.parquet"))

    def publish():
        time.sleep(0.5)
        with open(os.path.join(store, "_occ-v000000002"), "w") as fh:
            fh.write("cafebabe")

    t = threading.Thread(target=publish)
    t.start()
    try:
        res = sink.occ_compact_store(spark, store, claim_grace_s=30.0)
    finally:
        t.join()
    # the compactor waited, saw the publish, refreshed, and its snapshot
    # INCLUDES the racing writer's three cells — nothing was lost
    assert res["version"] == 3 and res["conflicts"] >= 1
    vals = {
        bytes(r.value).decode()
        for r in sink.occ_read(spark, store).select("value").collect()
    }
    assert vals == {"a", "b"}
    assert sink.occ_read(spark, store).count() == 8


def test_occ_read_empty_store_preserves_cell_schema(spark, tmp_path):
    """r09 advisor finding: an OCC store whose cells carry extra columns
    (sub_column_name / ttl_s) must not read back 4-column when empty.
    The empty path takes the schema from any part footer on disk, or
    from an explicit empty_schema."""
    import os

    from pyspark.sql import functions as F2, types as T

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")
    wide = spark.range(4).select(
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
        F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
        F2.encode(F2.lit("s"), "utf-8").alias("sub_column_name"),
        F2.encode(F2.lit("v"), "utf-8").alias("value"),
        F2.lit(1).cast("long").alias("ts"),
        F2.lit(30).cast("long").alias("ttl_s"),
    )
    assert sink.occ_commit(spark, store, wide, 0)["committed"]
    # snapshot away every visible version, leaving only superseded parts
    empty_snap = spark.createDataFrame([], sink.occ_read(spark, store).schema)
    assert sink.occ_commit(
        spark, store, empty_snap, 1, snapshot=True
    )["committed"]
    back = sink.occ_read(spark, store)
    assert back.count() == 0
    assert "sub_column_name" in back.columns and "ttl_s" in back.columns
    # explicit schema wins on a never-committed store
    sch = T.StructType([T.StructField("row_key", T.BinaryType()),
                        T.StructField("ts", T.LongType())])
    never = sink.occ_read(spark, str(tmp_path / "never"), empty_schema=sch)
    assert never.columns == ["row_key", "ts"]


def test_zero_row_frames_plan_as_local_table_scan(spark, tmp_path):
    """A zero-row ``local_df`` and an empty store's ``occ_read`` plan as
    a JVM ``LocalTableScan``, not a Python-RDD scan, with the schema
    they asked for."""
    from pyspark.sql import types as T

    from hive_cassandra_spark import sink
    from hive_cassandra_spark.session import local_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    empty = local_df(spark, [], "n long, s long, a long")
    assert "ExistingRDD" not in plan(empty), plan(empty)
    assert empty.schema == T.StructType.fromDDL("n long, s long, a long")
    assert empty.count() == 0
    never = sink.occ_read(spark, str(tmp_path / "never"))
    assert "ExistingRDD" not in plan(never), plan(never)
    assert never.schema == T.StructType.fromDDL(
        "row_key binary, column_name binary, value binary, ts long"
    )
    sch = T.StructType([T.StructField("row_key", T.BinaryType()),
                        T.StructField("ts", T.LongType())])
    given = sink.occ_read(spark, str(tmp_path / "never"), empty_schema=sch)
    assert "ExistingRDD" not in plan(given), plan(given)
    assert given.schema == sch


def test_occ_read_modify_commit_listing_budget(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """One read-modify-commit attempt with no conflict lists the marker
    log at most: twice for an index delta (the attempt's snapshot, the
    commit's version check) and three times for a compaction (plus its
    post-commit vacuum). An index reader lists it once: every table
    comes from one snapshot."""
    import glob

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink
    from hive_cassandra_spark.operators import retrieval, similarity

    real_glob = glob.glob
    listings = []

    def counting_glob(pattern, *args, **kwargs):
        if pattern.endswith("_occ-v*"):
            listings.append(pattern)
        return real_glob(pattern, *args, **kwargs)

    def count(call):
        listings.clear()
        monkeypatch.setattr(glob, "glob", counting_glob)
        try:
            res = call()
        finally:
            monkeypatch.setattr(glob, "glob", real_glob)
        if isinstance(res, dict):
            assert res["conflicts"] == 0, res
        return len(listings)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "postings")
    retrieval.build_postings_index_occ(
        spark, docs.filter(F2.col("doc_id") % 2 == 0), idx
    )
    assert count(lambda: retrieval.update_postings_index_occ(
        spark, idx, docs.filter(F2.col("doc_id") % 2 == 1), batch_id="b1"
    )) <= 2
    assert count(lambda: retrieval.read_postings_index_occ(spark, idx)) <= 1
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F2.col("vec_id") < 60
    )
    vidx = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index_occ(
        spark, emb.filter(F2.col("vec_id") % 2 == 0), vidx,
        n_cells=4, m=4, k_codes=4,
    )
    assert count(lambda: similarity.update_ivfpq_index_occ(
        spark, vidx, emb.filter(F2.col("vec_id") % 2 == 1), batch_id="b1"
    )) <= 2
    queries = emb.filter(F2.col("vec_id") < 3)
    assert count(lambda: similarity.ivfpq_topk_indexed_occ(
        spark, vidx, queries, id_col="vec_id"
    )) <= 1
    store = str(tmp_path / "cells")
    cells = spark.range(20).select(
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
        F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
        F2.encode(F2.lit("v"), "utf-8").alias("value"),
        F2.lit(1).cast("long").alias("ts"),
    )
    assert sink.occ_commit(spark, store, cells, 0)["committed"]
    assert sink.occ_commit(spark, store, cells.limit(5), 1)["committed"]
    assert count(lambda: sink.occ_compact_store(spark, store)) <= 3


def test_occ_custom_claim_backend(spark, tmp_path):
    """The object-store deployment seam (r10 verdict item 6): the whole
    OCC protocol — win/lose/conflict, torn-commit recovery, multi-table
    commits — must run unchanged on a custom claim backend (here a
    lock-table simulation of S3 conditional-PUT / DynamoDB
    attribute_not_exists, where mkdir atomicity does not exist), with
    identical committed content to the default local backend."""
    import time

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    class LockTableClaimBackend(sink.LocalFSClaimBackend):
        """Claim = conditional put into an external lock table; publish
        inherits the local single-object marker write (atomic PUT)."""

        def __init__(self):
            self.table = {}
            self.claim_calls = 0

        def claim(self, path, version, token):
            self.claim_calls += 1
            key = (path, version)
            if key in self.table:
                return False  # attribute_not_exists failed
            self.table[key] = (token, time.time())
            return True

        def claim_token(self, path, version):
            return self.table.get((path, version), ("",))[0]

        def pending_claims(self, path):
            return sorted(v for p, v in self.table if p == path)

        def claim_age_s(self, path, version):
            if (path, version) not in self.table:
                return float("inf")
            return time.time() - self.table[(path, version)][1]

        def abandon(self, path, version):
            self.table.pop((path, version), None)

    def gen(tag, n):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit(tag), "utf-8").alias("column_name"),
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("value"),
            F2.lit(1).cast("long").alias("ts"),
        )

    backend = LockTableClaimBackend()
    prev = sink.set_occ_claim_backend(backend)
    try:
        store = str(tmp_path / "locktable_store")
        r1 = sink.occ_commit(spark, store, gen("a", 10), 0)
        assert r1["committed"] and r1["version"] == 1
        assert backend.claim_calls == 1 and (store, 1) in backend.table
        # stale writer fails closed through the external lock table
        r2 = sink.occ_commit(spark, store, gen("b", 5), 0)
        assert not r2["committed"] and r2["version"] == 1
        assert sink.occ_read(spark, store).count() == 10
        # a racing writer that LOST the conditional put: simulate by
        # pre-claiming v2 externally (dead claimant, no marker)
        backend.table[(store, 2)] = ("deadbeef", time.time() - 100)
        blocked = sink.occ_commit(spark, store, gen("b", 5), 1)
        assert not blocked["committed"] and blocked["claim_pending"]
        rec = sink.occ_recover(store, min_age_s=10)
        assert rec["dropped_claims"] == 1
        assert (store, 2) not in backend.table  # abandoned via backend
        r3 = sink.occ_commit(spark, store, gen("b", 5), 1)
        assert r3["committed"] and r3["version"] == 2
        assert sink.occ_read(spark, store).count() == 15
        # multi-table commits ride the same seam
        idx = str(tmp_path / "locktable_idx")
        t = spark.range(3).select(F2.col("id").alias("k"))
        rt1 = sink.occ_commit_tables(spark, idx, {"t": t}, 0, tag="b0")
        assert rt1["committed"] and rt1["version"] == 1
        rt2 = sink.occ_commit_tables(spark, idx, {"t": t}, 0, tag="b1")
        assert not rt2["committed"] and rt2["conflict"]
        assert sink.occ_snapshot(spark, idx).read("t").count() == 3
        assert sink.store_tags(idx) == {1: "b0"}
    finally:
        sink.set_occ_claim_backend(prev)
    # the default backend is back: local mkdir claims work again
    store2 = str(tmp_path / "local_again")
    assert sink.occ_commit(spark, store2, gen("z", 2), 0)["committed"]
    import os

    assert os.path.isdir(os.path.join(store2, "_occ-claim-000000001"))


def test_occ_as_of_version_time_travel(spark, tmp_path):
    """as_of_version pins a read to the store state when that version
    was the head (r11 verdict item 2 — the Delta/Iceberg time-travel
    primitive for the OCC artifacts): later deltas are invisible, a
    snapshot published AFTER the pin cannot rewrite pinned history, a
    never-published pin raises, and time-travel past a vacuum fails
    closed instead of serving partial state."""
    import pytest
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "tt_store")

    def gen(tag, n, ts):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            F2.encode(F2.lit(tag), "utf-8").alias("value"),
            F2.lit(ts).cast("long").alias("ts"),
        )

    assert sink.occ_commit(spark, store, gen("a", 10, 1000), 0)["committed"]
    assert sink.occ_commit(spark, store, gen("b", 4, 2000), 1)["committed"]
    assert sink.occ_commit(spark, store, gen("c", 2, 3000), 2)["committed"]
    # pinned reads see exactly the prefix of commits up to the pin
    assert sink.occ_read(spark, store, as_of_version=1).count() == 10
    assert sink.occ_read(spark, store, as_of_version=2).count() == 14
    assert sink.occ_read(spark, store, as_of_version=3).count() == 16
    assert sink.occ_read(spark, store).count() == 16
    # pinning a version that never existed is a caller bug, not an
    # empty read
    with pytest.raises(ValueError, match="never published"):
        sink.occ_read(spark, store, as_of_version=9)
    # a compaction snapshot (v4) supersedes v1-v3 for LATEST reads but
    # must NOT leak into a read pinned BEFORE it
    res = sink.occ_compact_store(spark, store)
    assert res["version"] == 4
    # keys are disjoint across the three commits, so compaction folds
    # all 16 cells into the one snapshot version
    assert sink.occ_read(spark, store).count() == 16
    assert sink.occ_read(spark, store, as_of_version=4).count() == 16
    # ...but the pinned history is physically gone after the compaction
    # vacuum: time-travel past a vacuum fails closed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sink.occ_read(spark, store, as_of_version=2).count()


def test_occ_read_table_as_of_version(spark, tmp_path):
    """Table-level time travel: a pinned multi-table read unions only
    the versions up to the pin, latest_only resolves within the pinned
    range, and a snapshot AFTER the pin stays invisible — the exact
    surface read_postings_index_occ / ivfpq_topk_indexed_occ thread
    through to pin retrieval state for reproducible runs."""
    import pytest
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    idx = str(tmp_path / "tt_idx")

    def tables(n, mrow):
        return {
            "rows": spark.range(n).select(F2.col("id").alias("k")),
            "meta": spark.createDataFrame([(mrow,)], "m long").coalesce(1),
        }

    assert sink.occ_commit_tables(spark, idx, tables(5, 100), 0)["committed"]
    assert sink.occ_commit_tables(spark, idx, tables(3, 108), 1)["committed"]
    assert sink.occ_commit_tables(spark, idx, tables(2, 110), 2)["committed"]
    # pinned union = commits 1..2 only; latest_only meta = the v2 row
    assert sink.occ_snapshot(spark, idx).read(
        "rows", as_of_version=2
    ).count() == 8
    assert sink.occ_snapshot(spark, idx).read(
        "meta", latest_only=True, as_of_version=2
    ).head()["m"] == 108
    assert sink.occ_snapshot(spark, idx).read("rows").count() == 10
    with pytest.raises(ValueError, match="never published"):
        sink.occ_snapshot(spark, idx).read("rows", as_of_version=7)
    # a superseding snapshot at v4 replaces everything for latest reads
    # but a pin at v2 still sees the pre-snapshot union
    assert sink.occ_commit_tables(
        spark, idx, tables(20, 120), 3, snapshot=True
    )["committed"]
    assert sink.occ_snapshot(spark, idx).read("rows").count() == 20
    assert sink.occ_snapshot(spark, idx).read(
        "rows", as_of_version=2
    ).count() == 8
    assert sink.occ_snapshot(spark, idx).read(
        "meta", latest_only=True, as_of_version=2
    ).head()["m"] == 108


def test_occ_vacuum_retention_keeps_time_travel_serviceable(
    spark, tmp_path
):
    """occ_vacuum(retain_versions=K): the K newest superseded versions
    survive a compaction's vacuum, so as_of_version pins whose visible
    range lies inside the window keep working (the Delta
    deletedFileRetentionDuration analogue in versions); pins into the
    expired generation fail closed — INCLUDING partially-present ranges
    (the marker's files: record is the durable evidence) — and latest
    reads are untouched throughout."""
    import pytest
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "ret_store")

    def gen(tag, n, ts):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            F2.encode(F2.lit(tag), "utf-8").alias("value"),
            F2.lit(ts).cast("long").alias("ts"),
        )

    # generation 1: v1-v3, superseded by snapshot v4; generation 2:
    # delta v5, superseded by snapshot v6
    assert sink.occ_commit(spark, store, gen("a", 10, 1000), 0)["committed"]
    assert sink.occ_commit(spark, store, gen("b", 4, 2000), 1)["committed"]
    assert sink.occ_commit(spark, store, gen("c", 2, 3000), 2)["committed"]
    assert sink.occ_commit(
        spark, store, gen("s", 16, 4000), 3, snapshot=True
    )["committed"]
    assert sink.occ_commit(spark, store, gen("d", 3, 5000), 4)["committed"]
    assert sink.occ_commit(
        spark, store, gen("t", 19, 6000), 5, snapshot=True
    )["committed"]
    res = sink.occ_vacuum(store, retain_versions=2)
    assert res["floor"] == 6 and res["retained_versions"] == [4, 5]
    assert res["dropped_parts"] > 0  # generation 1 reclaimed
    # latest reads see only the newest snapshot
    assert sink.occ_read(spark, store).count() == 19
    # pins inside the retention window serve the exact historical state
    assert sink.occ_read(spark, store, as_of_version=5).count() == 19
    assert sink.occ_read(spark, store, as_of_version=4).count() == 16
    # pins into the expired generation fail closed — as_of=3's range is
    # v1-v3 (all gone) and the marker files: record proves they existed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sink.occ_read(spark, store, as_of_version=3).count()
    # a later full vacuum expires the window too; the v5 pin now fails
    # closed on the PARTIAL-state check (v6 alone must not serve as v5)
    res2 = sink.occ_vacuum(store)
    assert res2["dropped_parts"] > 0 and res2["retained_versions"] == []
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sink.occ_read(spark, store, as_of_version=5).count()
    assert sink.occ_read(spark, store).count() == 19


def test_occ_as_of_partial_vacuum_fails_closed_table_level(spark, tmp_path):
    """The table-level face of the partial-history check: a pinned
    multi-table read whose range lost ONE version's parts for the read
    table must refuse (marker files:<table>= record), while a version
    that never carried the table stays a legitimate no-op."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    idx = str(tmp_path / "pt_idx")
    rows = spark.range(5).select(F2.col("id").alias("k"))
    meta = spark.createDataFrame([(1,)], "m long").coalesce(1)
    assert sink.occ_commit_tables(
        spark, idx, {"rows": rows, "meta": meta}, 0
    )["committed"]
    # v2 carries ONLY meta — legitimately no 'rows' parts
    assert sink.occ_commit_tables(spark, idx, {"meta": meta}, 1)["committed"]
    assert sink.occ_commit_tables(
        spark, idx, {"rows": rows, "meta": meta}, 2
    )["committed"]
    # pin at v3 reads rows from v1+v3 (v2's absence is not an error)
    assert sink.occ_snapshot(spark, idx).read(
        "rows", as_of_version=3
    ).count() == 10
    # simulate a vacuumed v1: physically remove its rows parts
    for f in glob.glob(os.path.join(idx, "rows", "part-occ-v000000001-*")):
        os.remove(f)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sink.occ_snapshot(spark, idx).read("rows", as_of_version=3).count()


def test_occ_as_of_empty_commit_serves_empty_store(spark, tmp_path):
    """Advisor r12: a pinned read over versions that legitimately
    committed ZERO part files (empty-DataFrame commits, marker records
    files:0) is a provably-empty store, not vacuumed history — it must
    serve the same empty-schema DataFrame the latest-read path serves,
    not raise the vacuumed-history error."""
    from pyspark.sql import types as T2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "empty_pin_store")
    schema = T2.StructType(
        [
            T2.StructField("row_key", T2.BinaryType()),
            T2.StructField("column_name", T2.BinaryType()),
            T2.StructField("value", T2.BinaryType()),
            T2.StructField("ts", T2.LongType()),
        ]
    )
    res = sink.occ_commit(spark, store, spark.createDataFrame([], schema), 0)
    assert res["committed"] and res["files"] == 0, res
    # latest read: empty store through the empty-schema path
    assert sink.occ_read(spark, store, empty_schema=schema).count() == 0
    # pinned read at the empty version: SAME semantics, not an error
    pinned = sink.occ_read(
        spark, store, empty_schema=schema, as_of_version=1
    )
    assert pinned.count() == 0
    assert pinned.schema == schema


def test_occ_as_of_partial_part_loss_fails_closed(spark, tmp_path):
    """Advisor r12: the marker's files:<n> record guards PARTIAL loss,
    not just full-version absence — a visible version that lost SOME of
    its part files (out-of-band deletion / partial restore) must refuse
    a pinned read instead of silently serving the surviving subset as
    'the state at vN'."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "partial_loss_store")
    cells = (
        spark.range(30)
        .repartition(3)
        .select(
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            F2.encode(F2.lit("v"), "utf-8").alias("value"),
            F2.lit(1000).cast("long").alias("ts"),
        )
    )
    # a commit sizes its parts by data: 30 cells need a tiny advisory
    # partition size to land as several parts
    with _small_commit_parts(spark):
        res = sink.occ_commit(spark, store, cells, 0)
    n = res["files"]
    assert res["committed"] and n >= 2, res
    assert sink.occ_read(spark, store, as_of_version=1).count() == 30
    # lose ONE of the version's part files out-of-band: the version is
    # still "present" by the old presence-only check, but the pinned
    # read must compare against the recorded count and refuse
    victim = sorted(glob.glob(os.path.join(store, "part-occ-v*-00001-*")))[0]
    os.remove(victim)
    with pytest.raises(FileNotFoundError, match=f"only {n - 1} remain"):
        sink.occ_read(spark, store, as_of_version=1).count()


@contextlib.contextmanager
def _small_commit_parts(spark, advisory="1k"):
    """AQE sizes OCC commit parts at ``advisory`` bytes for the block.
    The minimum partition size shrinks too: with
    ``coalescePartitions.parallelismFirst`` on (the default) AQE never
    coalesces below it (1 MB), however small the advisory size."""
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory,
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _jobs_run_by(spark, fn):
    """``(fn(), ids of the Spark jobs fn ran)``. A fence job under its
    own group runs after ``fn``: once the status store has seen it, it
    has seen every job ``fn`` started."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    fence = f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(fence, fence)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    while not tracker.getJobIdsForGroup(fence):
        time.sleep(0.01)
    return out, set(tracker.getJobIdsForGroup(None)) - before


def _cell_rows(df):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.collect()
    )


def test_occ_commit_sizes_parts_by_data(spark, tmp_path):
    """A delta built from an Arrow frame and a Python-list frame (8 input
    partitions on local[4]) commits as ONE part: parts follow the data,
    not the input's split. It reads back the same cells."""
    import pyarrow as pa

    schema = "row_key binary, column_name binary, value binary, ts bigint"
    keys = [f"k{i:03d}".encode() for i in range(200)]
    live = spark.createDataFrame(pa.table({
        "row_key": pa.array(keys, pa.binary()),
        "column_name": pa.array([b"c"] * 200, pa.binary()),
        "value": pa.array([k + b"v" for k in keys], pa.binary()),
        "ts": pa.array([7] * 200, pa.int64()),
    }), schema)
    dead = spark.createDataFrame(
        [(k, b"d", None, 7) for k in keys[:50]], schema
    )
    cells = live.unionByName(dead)
    assert cells.rdd.getNumPartitions() >= 2
    store = str(tmp_path / "store")
    res = sink.occ_commit(spark, store, cells, 0)
    assert res["committed"] and res["files"] == 1, res
    assert _cell_rows(sink.occ_read(spark, store)) == _cell_rows(cells)


def test_occ_commit_multi_part_keeps_rows_whole(spark, tmp_path):
    """Under a small advisory partition size a commit lands as several
    parts, and each row_key's cells share one part even though they came
    from different input partitions. (Every partition here stays under
    the advisory size, so AQE only coalesces; it splits an over-size
    partition by input partition.)"""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    cells = spark.range(0, 2000, 1, 8).select(
        F2.encode((F2.col("id") % 400).cast("string"), "utf-8").alias("row_key"),
        F2.encode(F2.col("id").cast("string"), "utf-8").alias("column_name"),
        F2.encode(F2.lit("value"), "utf-8").alias("value"),
        F2.col("id").alias("ts"),
    )
    store = str(tmp_path / "store")
    with _small_commit_parts(spark, "16k"):
        res = sink.occ_commit(spark, store, cells, 0)
    assert res["committed"] and res["files"] > 1, res
    owner = {}
    for i, f in enumerate(glob.glob(os.path.join(store, "part-occ-v*"))):
        for rk in pq.read_table(f, columns=["row_key"])["row_key"].to_pylist():
            assert owner.setdefault(rk, i) == i, rk
    assert len(owner) == 400
    assert _cell_rows(sink.occ_read(spark, store)) == _cell_rows(cells)


def test_occ_reads_plan_without_a_spark_job(spark, sf_dir, tmp_path):
    """``occ_read`` and ``occ_snapshot(...).read(table)`` plan with no
    Spark job, and their schema is the one Spark infers from the same
    files, for cell stores with and without ``ttl_s`` and
    ``sub_column_name`` and for the postings and IVF-PQ artifacts."""
    from pyspark.sql import functions as F2

    from hive_cassandra_spark.operators import retrieval, similarity

    def gen(n, wide=False):
        cols = [
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
        ]
        if wide:
            cols.append(F2.encode(F2.lit("s"), "utf-8").alias("sub_column_name"))
        cols += [
            F2.encode(F2.lit("v"), "utf-8").alias("value"),
            F2.lit(1).cast("long").alias("ts"),
        ]
        if wide:
            cols.append(F2.lit(30).cast("int").alias("ttl_s"))
        return spark.range(n).select(*cols)

    def check(read):
        df, jobs = _jobs_run_by(spark, read)
        assert jobs == set(), jobs
        files = df.inputFiles()
        assert files
        assert df.schema == spark.read.parquet(*files).schema
        return df

    for name, wide in (("narrow", False), ("wide", True)):
        store = str(tmp_path / name)
        assert sink.occ_commit(spark, store, gen(10, wide), 0)["committed"]
        assert sink.occ_commit(spark, store, gen(4, wide), 1)["committed"]
        assert check(lambda: sink.occ_read(spark, store)).count() == 14
        assert check(
            lambda: sink.occ_read(spark, store, as_of_version=1)
        ).count() == 10
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "postings")
    retrieval.build_postings_index_occ(spark, docs, idx)
    snap = sink.occ_snapshot(spark, idx)
    check(lambda: snap.read("postings"))
    check(lambda: snap.read("meta", latest_only=True))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F2.col("vec_id") < 60
    )
    vidx = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index_occ(
        spark, emb, vidx, n_cells=4, m=4, k_codes=4
    )
    snap = sink.occ_snapshot(spark, vidx)
    for table in ("coarse_centroids", "pq_codebooks", "assignments", "codes"):
        check(lambda: snap.read(table))
    check(lambda: snap.read("meta", latest_only=True))


def test_occ_read_part_without_spark_schema(spark, tmp_path):
    """A part another writer wrote (no Spark schema in its footer) reads
    through Spark's own inference, alone and ahead of Spark's parts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    store = str(tmp_path / "store")
    os.makedirs(store)
    pq.write_table(
        pa.table({
            "row_key": pa.array([b"a", b"b"]),
            "column_name": pa.array([b"c", b"c"]),
            "value": pa.array([b"1", None]),
            "ts": pa.array([5, 5], pa.int64()),
        }),
        os.path.join(store, "part-occ-v000000001-00000-0f0f0f0f.parquet"),
    )
    with open(os.path.join(store, "_occ-v000000001"), "w") as fh:
        fh.write("0f0f0f0f\nfiles:1")
    assert _cell_rows(sink.occ_read(spark, store)) == [
        (b"a", b"c", b"1", 5), (b"b", b"c", None, 5),
    ]
    more = spark.range(1).select(
        F2.lit(b"z").alias("row_key"), F2.lit(b"c").alias("column_name"),
        F2.lit(b"2").alias("value"), F2.lit(6).cast("long").alias("ts"),
    )
    assert sink.occ_commit(spark, store, more, 1)["committed"]
    back = sink.occ_read(spark, store)
    assert _cell_rows(back) == [
        (b"a", b"c", b"1", 5), (b"b", b"c", None, 5), (b"z", b"c", b"2", 6),
    ]
    assert back.schema == spark.read.parquet(*back.inputFiles()).schema


def test_occ_compact_store_counts_cells_in_from_footers(
    spark, tmp_path, monkeypatch
):
    """``occ_compact_store`` over multi-part versions with tombstones
    returns the cells_in, cells_out and version a count would give, and
    counts no frame at all: both counts come from parquet footers."""
    from pyspark.sql import functions as F2

    store = str(tmp_path / "store")

    def gen(tag, n, ts, dead=False):
        return spark.range(n).select(
            F2.encode(F2.col("id").cast("string"), "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            (F2.lit(None).cast("binary") if dead else F2.encode(
                F2.concat(F2.lit(tag), F2.col("id").cast("string")), "utf-8"
            )).alias("value"),
            F2.lit(ts).cast("long").alias("ts"),
        )

    with _small_commit_parts(spark):
        for v, df in enumerate(
            (gen("a", 300, 1000), gen("b", 40, 2000),
             gen("t", 20, 3000, dead=True))
        ):
            res = sink.occ_commit(spark, store, df, v)
            assert res["committed"] and res["files"] >= 2, res
    counted = []
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    real_count = frame.count

    def recording_count(self):
        counted.append(self.inputFiles())
        return real_count(self)

    monkeypatch.setattr(frame, "count", recording_count)
    res = sink.occ_compact_store(spark, store)
    monkeypatch.undo()
    assert (res["cells_in"], res["cells_out"], res["version"]) == (360, 280, 4)
    assert counted == [], counted
    assert sink.occ_read(spark, store).count() == 280


def _publish_snapshot_after_first_listing(monkeypatch, store, part_dir, part):
    """Make the NEXT ``_occ-v*`` listing race a compaction: right after
    it returns, move ``part`` in as a v3 part under ``part_dir`` and
    publish v3 as a snapshot — the interleaving that tore a reader that
    listed markers twice."""
    import glob
    import os

    real_glob = glob.glob
    fired = []

    def racing_glob(pattern, *args, **kwargs):
        out = real_glob(pattern, *args, **kwargs)
        if pattern.endswith("_occ-v*") and not fired:
            fired.append(pattern)
            os.rename(part, os.path.join(
                part_dir, "part-occ-v000000003-00000-5a5a5a5a.parquet"))
            with open(os.path.join(store, "_occ-v000000003"), "w") as fh:
                fh.write("5a5a5a5a\nsnapshot\nfiles:1")
        return out

    monkeypatch.setattr(glob, "glob", racing_glob)
    return fired


def test_occ_read_snapshot_published_mid_read_is_not_torn(
    spark, tmp_path, monkeypatch
):
    """A latest occ_read resolves its snapshot from ONE marker listing: a
    compaction that publishes between the reader's listing and its part
    listing is either wholly seen or wholly unseen — never an empty
    read built from the old visible set and the new floor."""
    import glob

    from pyspark.sql import functions as F2

    from hive_cassandra_spark import sink

    store = str(tmp_path / "occ_store")

    def gen(tag, n):
        return spark.range(n).select(
            F2.encode(F2.concat(F2.lit(tag), F2.col("id").cast("string")),
                      "utf-8").alias("row_key"),
            F2.encode(F2.lit("c"), "utf-8").alias("column_name"),
            F2.encode(F2.lit(tag), "utf-8").alias("value"),
            F2.lit(1).cast("long").alias("ts"),
        )

    assert sink.occ_commit(spark, store, gen("a", 10), 0)["committed"]
    assert sink.occ_commit(spark, store, gen("b", 5), 1)["committed"]
    side = str(tmp_path / "v3")
    gen("z", 1).coalesce(1).write.parquet(side)
    part = glob.glob(f"{side}/*.parquet")[0]
    fired = _publish_snapshot_after_first_listing(
        monkeypatch, store, store, part
    )
    n = sink.occ_read(spark, store).count()
    assert fired
    assert n in (15, 1), n  # the v1+v2 state or the v3 snapshot
    monkeypatch.undo()
    assert sink.occ_read(spark, store).count() == 1


def test_occ_read_table_snapshot_published_mid_read_is_not_torn(
    spark, tmp_path, monkeypatch
):
    """The snapshot.read(table, latest_only=True) twin: the meta-shaped read
    must serve v2 (or v3), never raise for a store that has parts."""
    import glob
    import os

    from hive_cassandra_spark import sink

    idx = str(tmp_path / "idx")
    for v, k in ((0, 3), (1, 4)):
        t = spark.range(k).coalesce(1)
        assert sink.occ_commit_tables(spark, idx, {"t": t}, v)["committed"]
    side = str(tmp_path / "v3")
    spark.range(1).coalesce(1).write.parquet(side)
    part = glob.glob(f"{side}/*.parquet")[0]
    fired = _publish_snapshot_after_first_listing(
        monkeypatch, idx, os.path.join(idx, "t"), part
    )
    n = sink.occ_snapshot(spark, idx).read("t", latest_only=True).count()
    assert fired
    assert n in (4, 1), n


def test_occ_publish_is_atomic(tmp_path):
    """LocalFSClaimBackend.publish lands the whole marker or none: a
    write that fails after the file is opened leaves no ``_occ-v*``
    marker (so the version stays unpublished), and occ_recover sweeps
    the temp file it left behind."""
    import os

    import pytest

    from hive_cassandra_spark import sink

    store = str(tmp_path / "store")
    os.makedirs(store)
    backend = sink.LocalFSClaimBackend()
    backend.publish(store, 1, "tok1\nfiles:0")
    with pytest.raises(TypeError):
        backend.publish(store, 2, b"tok2\nfiles:0")  # not str: write fails
    assert not os.path.exists(os.path.join(store, "_occ-v000000002"))
    assert sink.store_version(store) == 1
    leftovers = [f for f in os.listdir(store) if f != "_occ-v000000001"]
    assert len(leftovers) == 1 and leftovers[0].startswith(".")
    assert sink.occ_recover(store)["dropped_staging"] == 1
    assert os.listdir(store) == ["_occ-v000000001"]
    assert sink.store_version(store) == 1


def _claim_race_worker(store, idx, n_versions, barrier, results):
    """One racing committer PROCESS (r12 verdict item 6): at every
    version it synchronizes on the barrier (so all contenders hit the
    claim atom together), attempts the claim, and — the retry
    discipline — keeps contending at later versions after losing.
    Records (idx, version, won) per attempt."""
    from hive_cassandra_spark.sink import LocalFSClaimBackend

    backend = LocalFSClaimBackend()
    out = []
    for version in range(1, n_versions + 1):
        barrier.wait()
        won = backend.claim(store, version, f"tok{idx}")
        if won:
            backend.publish(store, version, f"tok{idx}\nfiles:0")
        out.append((idx, version, won))
    results.put(out)


def test_occ_claim_race_across_processes(tmp_path):
    """TRUE multi-process claim contention (r12 verdict item 6 — the
    backend was only ever raced in-process before): 6 OS processes race
    the LocalFS claim atom for each of 5 versions, barrier-synchronized
    so every contender hits os.mkdir concurrently. Exactly one winner
    per version across processes, the winner's token is the one durably
    recorded, losers fail closed (claim False, no partial state) and
    make progress by retrying at later versions."""
    import multiprocessing as mp
    import os

    from hive_cassandra_spark import sink

    ctx = mp.get_context("fork")
    store = str(tmp_path / "race_store")
    os.makedirs(store)
    n_workers, n_versions = 6, 5
    barrier = ctx.Barrier(n_workers)
    results = ctx.Queue()
    procs = [
        ctx.Process(
            target=_claim_race_worker,
            args=(store, i, n_versions, barrier, results),
        )
        for i in range(n_workers)
    ]
    for p in procs:
        p.start()
    attempts = [results.get(timeout=60) for _ in range(n_workers)]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    flat = [a for worker in attempts for a in worker]
    backend = sink.LocalFSClaimBackend()
    for version in range(1, n_versions + 1):
        winners = [i for i, v, won in flat if v == version and won]
        losers = [i for i, v, won in flat if v == version and not won]
        assert len(winners) == 1, (version, winners)
        assert len(losers) == n_workers - 1
        # the durable token belongs to the single winner
        assert backend.claim_token(store, version) == f"tok{winners[0]}"
    # every version marker published exactly once; protocol-level view
    # agrees (no torn versions, store advanced to n_versions)
    assert sink.store_version(store) == n_versions
    # retry liveness: every loser kept contending — all 6 processes
    # attempted all 5 versions (30 attempts), and every version was
    # won by someone (asserted above), so losing never wedged a
    # committer and never left partial state behind
    assert len(flat) == n_workers * n_versions


def _raw_cells(spark, rows):
    return spark.createDataFrame(
        [
            (rk.encode(), cn.encode(), None if v is None else v.encode(), ts)
            for rk, cn, v, ts in rows
        ],
        "row_key binary, column_name binary, value binary, ts long",
    )


def test_cells_to_table_matches_compacted_store(spark, tmp_path):
    """Read-time LWW picks the same winners compaction does: ts ties go to
    the greater value (a value beats a same-ts tombstone), and a
    tombstone winner reads NULL — so the rows are identical before and
    after sink.occ_compact_store, whether it keeps tombstones or drops
    them."""
    m = parse_mapping(":key,a,b", 3)
    names, types = ["k", "a", "b"], ["string", "string", "string"]
    rows = [
        ("k1", "a", "x", 10), ("k1", "a", "y", 10),      # tie: y wins
        ("k1", "b", "p", 10), ("k1", "b", None, 10),     # tie: p beats the tombstone
        ("k2", "a", "old", 10), ("k2", "a", None, 20),   # deleted
        ("k2", "b", "q", 5),
        ("k3", "a", "z", 3), ("k3", "a", None, 7), ("k3", "b", None, 7),  # row gone
        ("k4", "a", "m", 10), ("k4", "a", None, 11), ("k4", "a", "n", 12),  # re-written
    ]
    want = [("k1", "y", "p"), ("k2", None, "q"), ("k4", "n", None)]
    for drop in (False, True):
        store = str(tmp_path / f"store-{drop}")
        sink.write_cells(_raw_cells(spark, rows), store)
        before = source.cells_to_table(source.read_cells(spark, store), m, names, types)
        assert sorted(map(tuple, before.collect())) == want
        sink.occ_compact_store(spark, store, drop_tombstones=drop)
        after = source.cells_to_table(source.read_cells(spark, store), m, names, types)
        assert sorted(map(tuple, after.collect())) == want


def test_cf_map_overwrite_and_tombstone(spark):
    """The cf-map branch reconciles per entry with the same LWW rule: an
    overwritten entry reads its newest value, a tombstoned entry leaves
    the map, and cells claimed by a plain column never enter it — even
    when that column is not wanted."""
    m = parse_mapping(":key,name,props:", 3)
    names = ["id", "name", "props"]
    types = ["string", "string", "map<string,string>"]
    cells = _raw_cells(spark, [
        ("r1", "name", "alice", 1),
        ("r1", "a", "1", 1), ("r1", "a", "2", 2),        # overwritten
        ("r1", "b", "x", 1), ("r1", "b", None, 2),       # tombstoned
        ("r1", "c", "keep", 1),
        ("r2", "d", "gone", 1), ("r2", "d", None, 3),    # only entry deleted
        ("r3", "name", "carol", 1),
    ])
    got = {r.id: (r.name, r.props) for r in source.cells_to_table(cells, m, names, types).collect()}
    assert got == {
        "r1": ("alice", {"a": "2", "c": "keep"}),
        "r3": ("carol", {}),
    }
    only_map = source.cells_to_table(cells, m, names, types, wanted_columns=["props"])
    assert {r.id: r.props for r in only_map.collect()} == {"r1": {"a": "2", "c": "keep"}}


_TTL_CELLS = "row_key binary, column_name binary, value binary, ts long, ttl_s int"


def _connector_append(spark, store, rows, schema=_TTL_CELLS):
    spark.createDataFrame(rows, schema).write.format("cassandra_cells").mode(
        "append"
    ).save(store)


def _root_parts(store):
    import glob
    import os

    return sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(store, "*.parquet"))
    )


def _live_winners(cells):
    """{(row_key, column_name): (value, ts)} of the live LWW winners."""
    return {
        (bytes(r.row_key), bytes(r.column_name)): (bytes(r.value), r.ts)
        for r in source.lww_latest(cells).collect()
        if r.value is not None
    }


def test_connector_append_racing_compaction_claim_survives(spark, tmp_path):
    """A ``cassandra_cells`` append that lands after the compaction read
    its inputs and before it claims its version is not named by the
    snapshot, so it stays visible — to ``occ_read`` and to the
    connector — and the next compaction folds it in."""
    from hive_cassandra_spark import datasource

    datasource.register(spark)
    store = str(tmp_path / "store")
    _connector_append(spark, store, [(b"k1", b"c", b"v1", 10, None)])
    first = _root_parts(store)
    fired = []

    class AppendBeforeClaim(sink.LocalFSClaimBackend):
        def claim(self, path, version, token):
            if not fired:
                fired.append(version)
                _connector_append(spark, store, [(b"k2", b"c", b"v2", 20, None)])
            return super().claim(path, version, token)

    prev = sink.set_occ_claim_backend(AppendBeforeClaim())
    try:
        res = sink.occ_compact_store(spark, store)
    finally:
        sink.set_occ_claim_backend(prev)
    assert fired == [1]
    assert (res["cells_in"], res["cells_out"], res["version"]) == (1, 1, 1)
    assert sink._occ_log(store)[1]["replaced"] == set(first)
    want = {(b"k1", b"c"): (b"v1", 10), (b"k2", b"c"): (b"v2", 20)}
    assert _live_winners(sink.occ_read(spark, store)) == want
    connector = spark.read.format("cassandra_cells").load(store)
    assert _live_winners(connector) == want
    res2 = sink.occ_compact_store(spark, store)
    assert (res2["cells_in"], res2["cells_out"], res2["version"]) == (2, 2, 2)
    assert all(sink._PART_RE.search(p) for p in _root_parts(store))
    assert _live_winners(spark.read.format("cassandra_cells").load(store)) == want


def test_occ_compact_store_compacts_connector_store(spark, tmp_path):
    """A store written only by the ``cassandra_cells`` connector compacts:
    its parts are the snapshot's input, the marker names each one
    ``replaced:``, the vacuum drops them, and both readers see the
    winners."""
    from hive_cassandra_spark import datasource

    datasource.register(spark)
    store = str(tmp_path / "store")
    _connector_append(spark, store, [
        (b"k1", b"c", b"old", 10, None), (b"k2", b"c", b"x", 10, None),
        (b"k3", b"c", b"y", 10, None),
    ])
    _connector_append(spark, store, [
        (b"k1", b"c", b"new", 20, None), (b"k2", b"c", None, 30, None),
    ])
    legacy = _root_parts(store)
    assert len(legacy) >= 2 and not any(sink._PART_RE.search(p) for p in legacy)
    res = sink.occ_compact_store(spark, store)
    assert (res["cells_in"], res["cells_out"], res["version"]) == (5, 2, 1)
    assert res["vacuumed"] == len(legacy) and res["conflicts"] == 0
    assert sink._occ_log(store)[1]["replaced"] == set(legacy)
    parts = _root_parts(store)
    assert len(parts) == res["files"] == 1 and sink._PART_RE.search(parts[0])
    want = {(b"k1", b"c"): (b"new", 20), (b"k3", b"c"): (b"y", 10)}
    assert _live_winners(sink.occ_read(spark, store)) == want
    assert _live_winners(spark.read.format("cassandra_cells").load(store)) == want


def test_compaction_keeps_columns_of_later_legacy_parts(spark, tmp_path):
    """A legacy store whose FIRST part has no ``ttl_s`` and whose later
    part carries it: the compaction reads and keeps the column, and
    purges the cells it expires."""
    import os

    from hive_cassandra_spark import datasource

    datasource.register(spark)
    store = str(tmp_path / "store")
    _connector_append(
        spark, store, [(b"k1", b"c", b"a", 1000)],
        "row_key binary, column_name binary, value binary, ts long",
    )
    (first,) = _root_parts(store)
    # legacy names carry no order: fix it so the ttl-less part lists first
    os.rename(os.path.join(store, first), os.path.join(store, "part-0-a.parquet"))
    _connector_append(spark, store, [
        (b"k2", b"c", b"short", 1000, 1),    # expired at now=10000
        (b"k3", b"c", b"long", 1000, 100),   # alive
    ])
    assert _root_parts(store)[0] == "part-0-a.parquet"
    assert "ttl_s" in sink.occ_read(spark, store).columns
    res = sink.occ_compact_store(spark, store, now_millis=10_000)
    assert (res["cells_in"], res["cells_out"]) == (3, 2)
    back = sink.occ_read(spark, store)
    assert "ttl_s" in back.columns
    assert sorted(
        (bytes(r.row_key), r.ttl_s) for r in back.collect()
    ) == [(b"k1", None), (b"k3", 100)]


def test_compaction_crash_after_publish_before_vacuum(spark, tmp_path, monkeypatch):
    """A crash after the snapshot published and before its vacuum: the
    replaced legacy parts are still on disk, yet ``occ_read`` and the
    connector's raw read give the same live last-write-wins cells as
    before the compaction; ``occ_vacuum`` then finishes the cleanup."""
    import pytest

    from hive_cassandra_spark import datasource

    datasource.register(spark)
    store = str(tmp_path / "store")
    _connector_append(spark, store, [
        (b"k1", b"c", b"a", 10, None), (b"k2", b"c", b"b", 10, None),
    ])
    _connector_append(spark, store, [
        (b"k1", b"c", b"a2", 20, None), (b"k2", b"c", None, 20, None),
    ])
    legacy = _root_parts(store)
    before = _live_winners(spark.read.format("cassandra_cells").load(store))

    def crash(path, retain_versions=0):
        raise OSError("crash before vacuum")

    monkeypatch.setattr(sink, "occ_vacuum", crash)
    with pytest.raises(OSError, match="crash before vacuum"):
        sink.occ_compact_store(spark, store)
    monkeypatch.undo()
    assert sink.store_version(store) == 1
    assert set(legacy) < set(_root_parts(store))
    assert _live_winners(sink.occ_read(spark, store)) == before
    raw = spark.read.format("cassandra_cells").load(store)
    assert _live_winners(raw) == before
    vac = sink.occ_vacuum(store)
    assert vac["dropped_parts"] == len(legacy)
    assert not set(legacy) & set(_root_parts(store))
    assert _live_winners(spark.read.format("cassandra_cells").load(store)) == before
    assert sink.occ_vacuum(store)["dropped_parts"] == 0  # idempotent


def test_pinned_read_on_mixed_store_serves_or_fails_closed(
    spark, tmp_path, monkeypatch
):
    """Legacy and OCC parts in one store: a read pinned before the
    compaction sees the legacy parts it replaced while they are on disk,
    ``occ_vacuum`` keeps them for a retained version, and once any is
    gone the pinned read fails closed instead of serving partial state."""
    import os

    import pytest

    from hive_cassandra_spark import datasource

    datasource.register(spark)
    store = str(tmp_path / "store")
    _connector_append(
        spark, store, [(b"k1", b"c", b"a", 10)],
        "row_key binary, column_name binary, value binary, ts long",
    )
    assert sink.occ_commit(
        spark, store, _raw_cells(spark, [("k2", "c", "b", 20)]), 0
    )["committed"]
    _connector_append(
        spark, store, [(b"k1", b"c", b"c", 30)],
        "row_key binary, column_name binary, value binary, ts long",
    )
    legacy = [p for p in _root_parts(store) if not sink._PART_RE.search(p)]
    want = {(b"k1", b"c"): (b"c", 30), (b"k2", b"c"): (b"b", 20)}
    assert _live_winners(sink.occ_read(spark, store, as_of_version=1)) == want
    monkeypatch.setattr(sink, "occ_vacuum", lambda path: {"dropped_parts": 0})
    res = sink.occ_compact_store(spark, store)
    monkeypatch.undo()
    assert res["version"] == 2 and res["cells_in"] == 3
    assert sink._occ_log(store)[2]["replaced"] == set(legacy)
    latest = sink.occ_read(spark, store)
    assert latest.count() == 2 and _live_winners(latest) == want
    pinned = sink.occ_read(spark, store, as_of_version=1)
    assert pinned.count() == 3 and _live_winners(pinned) == want
    # a retained v1 still sees the replaced legacy parts: they stay
    assert sink.occ_vacuum(store, retain_versions=1) == {
        "dropped_parts": 0, "floor": 2, "retained_versions": [1],
    }
    assert set(legacy) <= set(_root_parts(store))
    assert sink.occ_read(spark, store, as_of_version=1).count() == 3
    # one replaced legacy part lost out of band: the pin fails closed
    os.rename(os.path.join(store, legacy[0]), str(tmp_path / "aside.parquet"))
    with pytest.raises(FileNotFoundError, match="legacy"):
        sink.occ_read(spark, store, as_of_version=1)
    os.rename(str(tmp_path / "aside.parquet"), os.path.join(store, legacy[0]))
    # retention over: v1's part and both legacy parts go
    assert sink.occ_vacuum(store)["dropped_parts"] == 3
    assert not set(legacy) & set(_root_parts(store))
    with pytest.raises(FileNotFoundError):
        sink.occ_read(spark, store, as_of_version=1)
    assert _live_winners(sink.occ_read(spark, store, as_of_version=2)) == want


def test_occ_compact_store_jobs(spark, tmp_path):
    """``cells_out`` comes from the committed parts' footers, so a
    compaction runs no Spark job to count its output: the checkpoint of
    the winners and the snapshot's staged write are all it runs."""
    sc = spark.sparkContext
    store = str(tmp_path / "store")
    assert sink.occ_commit(spark, store, _raw_cells(spark, [
        ("k1", "c", "a", 10), ("k2", "c", "b", 10),
    ]), 0)["committed"]
    assert sink.occ_commit(spark, store, _raw_cells(spark, [
        ("k1", "c", "a2", 20), ("k2", "c", None, 20),
    ]), 1)["committed"]
    sc.setJobGroup("occ-compact-jobs", "jobs of one compaction")
    try:
        res = sink.occ_compact_store(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (res["cells_in"], res["cells_out"]) == (4, 1)
    # under AQE each of the two runs as a shuffle-map job and a result
    # job; a count of the checkpoint added two more
    jobs = sc.statusTracker().getJobIdsForGroup("occ-compact-jobs")
    assert len(jobs) <= 4, sorted(jobs)


def test_lww_latest_ties_follow_the_compaction_rule(spark):
    """``lww_latest`` resolves a ts tie the way compaction and
    ``cells_to_table`` do — the greater value wins, and a value beats a
    same-ts tombstone — whatever order the versions arrive in."""
    rows = [
        ("k", "c", "b", 10), ("k", "c", "a", 10),
        ("t", "c", None, 10), ("t", "c", "x", 10),
        ("d", "c", "old", 10), ("d", "c", None, 20),
    ]
    for order in (rows, rows[::-1]):
        cells = _raw_cells(spark, order).coalesce(1)
        got = _cell_rows(source.lww_latest(cells))
        assert got == [
            (b"d", b"c", None, 20), (b"k", b"c", b"b", 10), (b"t", b"c", b"x", 10),
        ], got
        winners = sink._compact_winners(cells, False, None, None)
        assert _cell_rows(winners) == got
