"""The cassandra_cells Python data source: split generation sized like the
reference's cassandra.input.split.size, slice-predicate pushdown via
pushFilters, page-size Arrow batching, and read-equivalence with the
direct parquet read of the same store."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, IsNotNull, StringContains
from pyspark.sql.types import StructType

from hive_cassandra_spark import datasource, handler


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cells") / "store")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    tdef = handler.define_table(
        "cust_cf_ds", path,
        ["c_custkey", "c_name", "c_mktsegment"],
        ["bigint", "string", "string"],
    )
    handler.write_table(cust, tdef, mode="overwrite", clock_millis=1)
    datasource.register(spark)
    return path


def test_read_matches_direct_parquet(spark, store):
    via_ds = spark.read.format("cassandra_cells").load(store)
    direct = spark.read.parquet(store).select("row_key", "column_name", "value", "ts")
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0


def test_split_generation_respects_split_size(spark, store):
    import glob

    files = sorted(glob.glob(f"{store}/*.parquet"))
    total = sum(pq.read_metadata(f).num_rows for f in files)
    reader = datasource.CellStoreReader(
        {"path": store, "split_size": "1"},
        StructType.fromDDL(datasource._BASE_SCHEMA),
    )
    splits = reader.partitions()
    # split_size=1: every non-empty file flushes its own split
    assert len(splits) == len([f for f in files if pq.read_metadata(f).num_rows])
    assert sum(s.est_rows for s in splits) == total
    assert all(len(s.preferred_hosts) == 3 for s in splits)
    # and the DataFrame actually plans that many input partitions
    df = spark.read.format("cassandra_cells").option("split_size", "1").load(store)
    assert df.rdd.getNumPartitions() == len(splits)
    assert df.count() == total


def test_push_filters_partitioning(spark, store):
    reader = datasource.CellStoreReader(
        {"path": store}, StructType.fromDDL(datasource._BASE_SCHEMA)
    )
    supported = [
        EqualTo(("column_name",), b"c_name"),
        GreaterThanOrEqual(("ts",), 0),
        IsNotNull(("value",)),
    ]
    unsupported = [StringContains(("column_name",), "c_")]
    leftover = list(reader.pushFilters(supported + unsupported))
    assert leftover == unsupported
    assert reader.pushed == supported


def test_pushed_slice_filter_correct_results(spark, store):
    df = spark.read.format("cassandra_cells").load(store)
    got = (
        df.filter(F.col("column_name") == F.lit(b"c_mktsegment"))
        .select(F.col("value").cast("string").alias("seg"))
        .groupBy("seg").count()
    )
    want = (
        spark.read.parquet(store)
        .filter(F.col("column_name").cast("string") == "c_mktsegment")
        .select(F.col("value").cast("string").alias("seg"))
        .groupBy("seg").count()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _direct_cells(spark, store, pred):
    rows = (
        spark.read.parquet(store)
        .select("row_key", "column_name", "value", "ts")
        .filter(pred)
        .collect()
    )
    return sorted(map(tuple, rows))


def _pushed_in_reads(store, column, values):
    """Values of ``column`` a one-split reader returns once ``column IN
    values`` is pushed to it (the filter must be accepted, not returned)."""
    reader = datasource.CellStoreReader(
        {"path": store, "split_size": "1000000000"},
        StructType.fromDDL(datasource._BASE_SCHEMA),
    )
    assert list(reader.pushFilters([In((column,), tuple(values))])) == []
    (split,) = reader.partitions()
    return {v for b in reader.read(split) for v in b.column(column).to_pylist()}


def test_row_key_in_pushed_and_correct(spark, store):
    """``row_key IN (...)`` reaches pushFilters as an ``In`` filter whose
    values sit in ``.value`` (a tuple) and returns exactly those rows'
    cells."""
    keys = sorted(
        {bytes(r.row_key) for r in spark.read.parquet(store).limit(40).collect()}
    )[:3]
    assert len(keys) == 3
    df = spark.read.format("cassandra_cells").load(store)
    got = sorted(map(tuple, df.filter(F.col("row_key").isin(*keys)).collect()))
    want = _direct_cells(spark, store, F.col("row_key").isin(*keys))
    assert got == want and {g[0] for g in got} == set(keys)
    assert _pushed_in_reads(store, "row_key", keys) == set(keys)


def test_column_name_in_pushed_and_correct(spark, store):
    names = [b"c_name", b"c_mktsegment"]
    df = spark.read.format("cassandra_cells").load(store)
    got = sorted(map(tuple, df.filter(F.col("column_name").isin(*names)).collect()))
    want = _direct_cells(spark, store, F.col("column_name").isin(*names))
    assert got == want and {g[1] for g in got} == set(names)
    assert _pushed_in_reads(store, "column_name", names) == set(names)


def test_read_pages_are_bounded_and_ordered(spark, store):
    reader = datasource.CellStoreReader(
        # one split holding the whole store
        {"path": store, "page_size": "7", "split_size": "1000000000"},
        StructType.fromDDL(datasource._BASE_SCHEMA),
    )
    (split,) = reader.partitions()
    batches = list(reader.read(split))
    assert all(b.num_rows <= 7 for b in batches)
    keys = [
        (rk, cn)
        for b in batches
        for rk, cn in zip(
            b.column("row_key").to_pylist(), b.column("column_name").to_pylist()
        )
    ]
    assert keys == sorted(keys)  # slice order across page boundaries
    assert sum(b.num_rows for b in batches) == split.est_rows


def test_missing_optional_column_surfaces_null(spark, store):
    df = (
        spark.read.format("cassandra_cells")
        .schema(datasource._BASE_SCHEMA + ", ttl_s int")
        .load(store)
    )
    rows = df.limit(5).collect()
    assert rows and all(r.ttl_s is None for r in rows)


def test_missing_path_and_empty_store_raise(spark, tmp_path):
    with pytest.raises(ValueError, match="path"):
        datasource.CellStoreReader({}, StructType.fromDDL(datasource._BASE_SCHEMA))
    reader = datasource.CellStoreReader(
        {"path": str(tmp_path)}, StructType.fromDDL(datasource._BASE_SCHEMA)
    )
    with pytest.raises(FileNotFoundError):
        reader.partitions()


# ---------------------------------------------------------------------
# write path: df.write.format("cassandra_cells")
# ---------------------------------------------------------------------


def test_write_roundtrip_and_batch_bound(spark, store, tmp_path):
    out = str(tmp_path / "written")
    cells = spark.read.parquet(store).select("row_key", "column_name", "value", "ts")
    (
        cells.write.format("cassandra_cells")
        .option("batch_size", "50")
        .mode("append")
        .save(out)
    )
    back = spark.read.parquet(out).select("row_key", "column_name", "value", "ts")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, cells.collect()))
    # every row group obeys the batch_mutate bound
    import glob

    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.read_metadata(f)
        assert all(
            md.row_group(i).num_rows <= 50 for i in range(md.num_row_groups)
        )
    # no temp litter after commit
    assert not glob.glob(f"{out}/._tmp-*")


def test_write_overwrite_replaces(spark, store, tmp_path):
    out = str(tmp_path / "written_ow")
    cells = spark.read.parquet(store).select("row_key", "column_name", "value", "ts")
    cells.write.format("cassandra_cells").mode("append").save(out)
    one = cells.limit(1)
    one.write.format("cassandra_cells").mode("overwrite").save(out)
    assert spark.read.parquet(out).count() == 1


def test_writer_validates_options_and_schema():
    from pyspark.sql.types import StructType

    good = StructType.fromDDL(datasource._BASE_SCHEMA)
    w = datasource.CellStoreWriter(
        {"path": "/tmp/x", "consistency": "banana"}, good, False
    )
    assert w.consistency == "ONE"  # reference coercion: bad -> ONE
    w2 = datasource.CellStoreWriter({"path": "/tmp/x", "consistency": "quorum"}, good, False)
    assert w2.consistency == "QUORUM"
    with pytest.raises(ValueError, match="missing columns"):
        datasource.CellStoreWriter(
            {"path": "/tmp/x"}, StructType.fromDDL("row_key binary, ts bigint"), False
        )
    with pytest.raises(ValueError, match="path"):
        datasource.CellStoreWriter({}, good, False)


def test_append_to_nonempty_store_keeps_prior_parts(spark, store, tmp_path):
    """r05 ADVICE (medium): deterministic part names silently clobbered
    earlier jobs' files on append; committed names are now job-unique."""
    out = str(tmp_path / "appended")
    cells = spark.read.parquet(store).select("row_key", "column_name", "value", "ts")
    n = cells.count()
    cells.write.format("cassandra_cells").mode("append").save(out)
    cells.write.format("cassandra_cells").mode("append").save(out)
    assert spark.read.parquet(out).count() == 2 * n
    via_ds = spark.read.format("cassandra_cells").load(out)
    assert via_ds.count() == 2 * n


def test_commit_sweeps_this_jobs_stale_tmp_only(tmp_path):
    """r05 ADVICE (low): speculative/failed task temps are swept at
    commit/abort — but only this job's prefix; a concurrent job's
    in-flight temps are untouched."""
    import os

    from pyspark.sql.types import StructType

    path = str(tmp_path / "sweep")
    os.makedirs(path)
    good = StructType.fromDDL(datasource._BASE_SCHEMA)
    w = datasource.CellStoreWriter({"path": path}, good, False)
    mine = os.path.join(path, f"._tmp-{w.job_id}-deadbeef.parquet")
    other = os.path.join(path, "._tmp-0123456789ab-cafe.parquet")
    for f in (mine, other):
        with open(f, "wb"):
            pass
    w.commit([])
    assert not os.path.exists(mine)
    assert os.path.exists(other)
    w2 = datasource.CellStoreWriter({"path": path}, good, False)
    mine2 = os.path.join(path, f"._tmp-{w2.job_id}-beef.parquet")
    with open(mine2, "wb"):
        pass
    w2.abort([])
    assert not os.path.exists(mine2)
    assert os.path.exists(other)


def test_user_schema_without_key_columns(spark, store):
    """r05 ADVICE (low): a user schema omitting row_key/column_name must
    not break the slice-order sort (sort keys intersect the projection)."""
    df = spark.read.format("cassandra_cells").schema("value binary, ts bigint").load(store)
    rows = df.collect()
    assert len(rows) > 0 and set(df.columns) == {"value", "ts"}


def test_reversed_slice_order(spark, store):
    """reversed=true ≙ slice_range.reversed
    (HiveCassandraStandardColumnInputFormat.java:88-92): rows stay keyed
    ascending, the column slice within each row comes back descending."""
    reader = datasource.CellStoreReader(
        {"path": store, "split_size": "1000000000", "reversed": "true"},
        StructType.fromDDL(datasource._BASE_SCHEMA),
    )
    (split,) = reader.partitions()
    keys = [
        (rk, cn)
        for b in reader.read(split)
        for rk, cn in zip(
            b.column("row_key").to_pylist(), b.column("column_name").to_pylist()
        )
    ]
    # expected: row_key ascending, column_name descending within row
    assert keys == sorted(keys, key=lambda t: (t[0], _desc_bytes(t[1])))
    # and the DataFrame-level read returns the same multiset of cells
    rev = spark.read.format("cassandra_cells").option("reversed", "true").load(store)
    fwd = spark.read.format("cassandra_cells").load(store)
    assert sorted(map(tuple, rev.collect())) == sorted(map(tuple, fwd.collect()))


def _desc_bytes(b: bytes):
    # order-reversing key for bytes: negate each octet, pad-sensitive via
    # length complement (shorter sorts AFTER any extension in desc order)
    return tuple(255 - x for x in b) + (256,)


def test_streaming_write_through_datasource(spark, store, tmp_path):
    """df.writeStream.format('cassandra_cells'): each micro-batch commits
    atomically under batch-id part names; the store's final contents equal
    the batch write of the same cells."""
    out = str(tmp_path / "stream_store")
    schema = spark.read.parquet(store).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(f"{store}/*.parquet")
    )
    q = (
        stream.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("batch_size", 50)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    import glob

    got = spark.read.format("cassandra_cells").load(out)
    want = spark.read.parquet(store).select(*[f.name for f in got.schema.fields])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # committed names carry the micro-batch id; no temp litter
    parts = glob.glob(f"{out}/part-*-b*.parquet")
    assert parts and not glob.glob(f"{out}/._tmp-*")
    # row groups obey the batch_mutate bound in the streaming path too
    for f in parts:
        md = pq.read_metadata(f)
        assert all(
            md.row_group(i).num_rows <= 50 for i in range(md.num_row_groups)
        )


def test_streaming_write_batch_replay_is_idempotent(spark, store, tmp_path):
    """commit(batchId) sweeps a crashed attempt's half-committed parts of
    the SAME batch before renaming — replay lands each batch exactly once."""
    import os

    from pyspark.sql.types import StructType

    out = str(tmp_path / "replay_store")
    os.makedirs(out)
    good = StructType.fromDDL(datasource._BASE_SCHEMA)
    # a previous attempt of batch 7 half-committed one part file
    orphan = os.path.join(out, "part-deadjob-b000000007-00000.parquet")
    with open(orphan, "wb"):
        pass
    w = datasource.CellStoreStreamWriter({"path": out}, good, False)
    w.commit([], 7)
    assert not os.path.exists(orphan)


def test_mixed_schema_store_reads_unified(spark, store, tmp_path):
    """A store created without the optional columns, later appended with
    super/TTL cells, must scan as ONE dataset: old files surface the
    missing columns as nulls (sparse-cell semantics), and schema
    inference sees the optional columns even when the first file lacks
    them."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "mixed")
    base = spark.read.parquet(store).select("row_key", "column_name", "value", "ts")
    n_base = base.count()
    base.write.format("cassandra_cells").mode("append").save(out)
    extra = base.limit(10).select(
        "row_key",
        "column_name",
        "value",
        "ts",
        F.col("column_name").alias("sub_column_name"),
        F.lit(60).cast("int").alias("ttl_s"),
    )
    extra.write.format("cassandra_cells").mode("append").save(out)
    df = spark.read.format("cassandra_cells").load(out)
    assert {"sub_column_name", "ttl_s"} <= set(df.columns)
    assert df.count() == n_base + 10
    assert df.filter(F.col("ttl_s").isNull()).count() == n_base
    assert df.filter(F.col("ttl_s") == 60).count() == 10


def test_streaming_read_tails_stream_written_store(spark, store, tmp_path):
    """readStream.format('cassandra_cells') over a stream-written store:
    batch ids are the offsets; the tailing read returns exactly the
    store's cells, and batch-job parts are refused."""
    out = str(tmp_path / "tail_store")
    schema = spark.read.parquet(store).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # several committed batch ids
        .parquet(f"{store}/*.parquet")
    )
    q = (
        src.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    tailed = spark.readStream.format("cassandra_cells").load(out)
    sink = (
        tailed.writeStream.format("memory")
        .queryName("tail_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    sink.awaitTermination()
    got = sorted(map(tuple, spark.table("tail_out").collect()))
    cols = spark.table("tail_out").columns
    want = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    assert got and got == want
    # batch-job parts have no batch-id ordering: the tailing reader refuses
    batch_store = str(tmp_path / "batch_store")
    spark.read.parquet(store).write.format("cassandra_cells").mode("append").save(batch_store)
    reader = datasource.CellStoreStreamReader({"path": batch_store}, schema)
    with pytest.raises(ValueError, match="stream-written"):
        reader.read({"pos": 0})


def test_streaming_read_offsets_are_deterministic(spark, store, tmp_path):
    """readBetweenOffsets replays a committed range exactly (failure
    recovery contract): rows for [0, mid) + [mid, end) == all rows."""
    out = str(tmp_path / "repl_store")
    schema = spark.read.parquet(store).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{store}/*.parquet")
    )
    q = (
        src.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    reader = datasource.CellStoreStreamReader({"path": out}, schema)
    rows, end = reader.read({"pos": 0})
    all_rows = sorted(rows)
    assert end["pos"] >= 1
    mid = max(1, end["pos"] // 2)
    replay = sorted(
        list(reader.readBetweenOffsets({"pos": 0}, {"pos": mid}))
        + list(reader.readBetweenOffsets({"pos": mid}, end))
    )
    assert replay == all_rows and len(all_rows) > 0


def test_streaming_write_complete_mode_truncates_per_batch(tmp_path):
    """overwrite=True (complete/truncate output mode): each micro-batch
    commit replaces the store contents instead of appending."""
    import os

    from pyspark.sql.types import StructType

    path = str(tmp_path / "complete_store")
    os.makedirs(path)
    good = StructType.fromDDL(datasource._BASE_SCHEMA)
    old = os.path.join(path, "part-oldjob-b000000001-00000.parquet")
    with open(old, "wb"):
        pass
    w = datasource.CellStoreStreamWriter({"path": path}, good, True)
    w.commit([], 2)
    assert not os.path.exists(old)
    # append mode keeps prior batches
    w2 = datasource.CellStoreStreamWriter({"path": path}, good, False)
    keep = os.path.join(path, "part-other-b000000003-00000.parquet")
    with open(keep, "wb"):
        pass
    w2.commit([], 4)
    assert os.path.exists(keep)


def test_as_of_batch_time_travel(spark, store, tmp_path):
    """as_of_batch=N reads the stream-written store as of micro-batch N
    (inclusive): each prefix of the commit log is a consistent snapshot;
    batch-job stores (no commit order) are refused."""
    out = str(tmp_path / "stream_store")
    src = str(tmp_path / "src_halves")
    cells = spark.read.parquet(store)
    half = F.crc32(F.col("row_key")) % 2
    cells.filter(half == 0).coalesce(1).write.parquet(src)
    cells.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    q = (
        stream.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    import glob
    import os
    import re

    ids = sorted(
        {
            int(re.search(r"-b(\d{9})-", os.path.basename(f)).group(1))
            for f in glob.glob(f"{out}/part-*-b*.parquet")
        }
    )
    assert len(ids) >= 2  # several micro-batches, else as-of is vacuous
    total = spark.read.format("cassandra_cells").load(out).count()
    prev = 0
    for b in ids:
        n = (
            spark.read.format("cassandra_cells")
            .option("as_of_batch", b)
            .load(out)
            .count()
        )
        assert n > prev  # snapshots grow monotonically along the log
        prev = n
    assert prev == total  # as-of the last batch == the full store
    # a batch-written store has no commit order → fail closed
    with pytest.raises(Exception, match="as_of_batch"):
        (
            spark.read.format("cassandra_cells")
            .option("as_of_batch", 0)
            .load(store)
            .count()
        )


def test_parallel_stream_reader_matches_simple(spark, store, tmp_path):
    """.option('parallel', 'true') tails the same commit log through the
    executor-parallel DataSourceStreamReader: identical rows to the
    driver-side Simple reader, batch ids still the offsets."""
    out = str(tmp_path / "stream_store")
    src = str(tmp_path / "src_halves")
    cells = spark.read.parquet(store)
    half = F.crc32(F.col("row_key")) % 2
    cells.filter(half == 0).coalesce(1).write.parquet(src)
    cells.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
        .writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ck_w"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()

    def tail(parallel: bool):
        name = f"tail_{'par' if parallel else 'simple'}"
        reader = spark.readStream.format("cassandra_cells")
        if parallel:
            reader = reader.option("parallel", "true")
        tq = (
            reader.load(out)
            .writeStream.format("memory")
            .queryName(name)
            .option(
                "checkpointLocation",
                str(tmp_path / f"ck_{name}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        tq.awaitTermination()
        return sorted(map(tuple, spark.table(name).collect()))

    par, simple = tail(True), tail(False)
    assert par == simple
    assert len(par) == cells.count()


def test_as_of_batch_composes_with_reversed(spark, store, tmp_path):
    """Reader options compose: a time-travel read with reversed=true must
    return exactly the snapshot's cells in descending column order per
    row."""
    out = str(tmp_path / "stream_store")
    src = str(tmp_path / "src_halves")
    cells = spark.read.parquet(store)
    half = F.crc32(F.col("row_key")) % 2
    cells.filter(half == 0).coalesce(1).write.parquet(src)
    cells.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
        .writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    plain = (
        spark.read.format("cassandra_cells")
        .option("as_of_batch", 0)
        .load(out)
    )
    rev = (
        spark.read.format("cassandra_cells")
        .option("as_of_batch", 0)
        .option("reversed", "true")
        .load(out)
    )
    assert sorted(map(tuple, rev.collect())) == sorted(map(tuple, plain.collect()))
    assert plain.count() < cells.count()  # genuinely a prefix snapshot
    # within each scan split, columns come back descending per row
    reader = datasource.CellStoreReader(
        {"path": out, "as_of_batch": "0", "reversed": "true",
         "split_size": "1000000000"},
        StructType.fromDDL(datasource._BASE_SCHEMA),
    )
    (split,) = reader.partitions()
    rows = [
        (rk, cn)
        for b in reader.read(split)
        for rk, cn in zip(
            b.column("row_key").to_pylist(), b.column("column_name").to_pylist()
        )
    ]
    assert rows == sorted(rows, key=lambda t: (t[0], [255 - x for x in t[1]]))


def test_vacuum_commit_log_folds_history_and_guards(spark, store, tmp_path):
    """sink.vacuum_commit_log: batches <= the watermark fold into one
    consolidated LWW part; full/as-of-watermark reads are unchanged,
    file count shrinks, earlier time travel and replays refuse, and a
    re-run is an idempotent no-op."""
    import glob
    import os
    import re

    from hive_cassandra_spark import sink as sink_mod

    out = str(tmp_path / "vac_store")
    src = str(tmp_path / "src_thirds")
    cells = spark.read.parquet(store)
    third = F.crc32(F.col("row_key")) % 3
    for r in range(3):
        cells.filter(third == r).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(cells.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    q = (
        stream.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "vac_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    ids = sorted(
        {
            int(re.search(r"-b(\d{9})-", os.path.basename(f)).group(1))
            for f in glob.glob(f"{out}/part-*-b*.parquet")
        }
    )
    assert len(ids) == 3
    read = lambda **kw: (  # noqa: E731
        spark.read.format("cassandra_cells").options(**kw).load(out)
    )
    key = lambda r: (bytes(r.row_key), bytes(r.column_name))  # noqa: E731
    full_before = sorted(map(key, read().collect()))
    asof1_before = sorted(map(key, read(as_of_batch=1).collect()))
    files_before = len(glob.glob(f"{out}/*.parquet"))

    stats = sink_mod.vacuum_commit_log(spark, out, retain_after_batch=1)
    assert stats["watermark"] == 1
    assert len(glob.glob(f"{out}/*.parquet")) < files_before
    # reads at/after the watermark are bit-identical
    assert sorted(map(key, read().collect())) == full_before
    assert sorted(map(key, read(as_of_batch=1).collect())) == asof1_before
    assert sorted(map(key, read(as_of_batch=2).collect())) == full_before
    # truncated history refuses fail-closed
    with pytest.raises(Exception, match="vacuum watermark"):
        read(as_of_batch=0).count()
    # a replayed micro-batch at/below the watermark refuses: rerunning
    # the SAME stream with its checkpoint deleted replays batch 0
    import shutil

    shutil.rmtree(str(tmp_path / "vac_ckpt"))
    q2 = (
        stream.writeStream.format("cassandra_cells")
        .option("checkpointLocation", str(tmp_path / "vac_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    with pytest.raises(Exception, match="vacuum watermark|fail closed"):
        q2.awaitTermination()
    # idempotent re-run: nothing below the watermark remains to fold
    again = sink_mod.vacuum_commit_log(spark, out, retain_after_batch=1)
    assert again["cells_out"] == stats["cells_out"]
    assert sorted(map(key, read().collect())) == full_before
