"""Relational helpers: plan-shape guarantees and skew-safe equivalence."""

import pytest
from pyspark.sql import functions as F

from hive_cassandra_spark.operators import relational as rel


def test_top_k_plans_take_ordered(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = rel.top_k(li, [F.col("l_extendedprice").desc()], 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # global sort would be O(n log n) + full shuffle; TakeOrderedAndProject
    # is a per-partition heap of K — the only safe plan at 100 TB
    assert "TakeOrderedAndProject" in plan
    assert out.count() == 10


def test_broadcast_join_plan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    out = rel.broadcast_join(li, part, li.l_partkey == part.p_partkey)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_brand")
    plain = li.join(part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")
    salted = rel.salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", salt_buckets=4
    )
    assert salted.count() == plain.count()
    a = plain.groupBy("l_partkey").agg(F.sum("l_quantity").alias("q")).collect()
    b = salted.groupBy("l_partkey").agg(F.sum("l_quantity").alias("q")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_skew_safe_count_distinct(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    naive = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("d")
    )
    safe = rel.skew_safe_count_distinct(li, ["l_returnflag"], "l_partkey")
    a = {r.l_returnflag: r.d for r in naive.collect()}
    b = {r.l_returnflag: r.distinct_l_partkey for r in safe.collect()}
    assert a == b


def test_skew_safe_distinct_agg_matches_naive(spark, sf_dir):
    """The fused one-pass variant: distinct count + row count + sums must
    equal the naive single-group aggregation exactly."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    naive = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("d"),
        F.sum("l_quantity").alias("q"),
    )
    fused = rel.skew_safe_distinct_agg(
        li, ["l_returnflag"], "l_partkey", sums={"q": "l_quantity"}
    )
    a = {r.l_returnflag: (r.n, r.d, round(r.q, 6)) for r in naive.collect()}
    b = {
        r.l_returnflag: (r.n_rows, r.distinct_l_partkey, round(r.q, 6))
        for r in fused.collect()
    }
    assert a == b


def test_deterministic_split(spark, sf_dir):
    ord_ = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = rel.deterministic_split(ord_, "o_orderkey")
    # pure function of the key: two evaluations agree row-for-row
    a = {r.o_orderkey: r.split for r in out.collect()}
    b = {r.o_orderkey: r.split for r in rel.deterministic_split(ord_, "o_orderkey").collect()}
    assert a == b
    # proportions roughly honor the 80/10/10 request
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert 0.7 < c["train"] / n < 0.9
    assert set(c) == {"train", "valid", "test"}
    # a different salt re-rolls some assignments
    resalted = {r.o_orderkey: r.split for r in rel.deterministic_split(ord_, "o_orderkey", salt="v2").collect()}
    assert resalted != a
    # narrow projection: no shuffle in the plan
    plan = rel.deterministic_split(ord_, "o_orderkey")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_deterministic_split_validates_percentages(spark):
    df = spark.range(10)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="total 100"):
        rel.deterministic_split(df, "id", splits={"train": 50, "test": 10})


def test_correlated_subquery_decorrelates(spark, sf_dir):
    from hive_cassandra_spark import queries as q

    out = q.QUERIES["q63_correlated_min_price"].fn(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Catalyst must rewrite the correlated scalar subquery to an
    # aggregate + equi-join; a per-row re-scan (cartesian/nested-loop)
    # would be quadratic in the corpus
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # each surviving row carries its part's true minimum price
    rows = out.collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    mins = {
        r.l_partkey: r.mn
        for r in li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("mn")).collect()
    }
    assert rows and all(abs(r.price - round(mins[r.partkey], 2)) < 1e-9 for r in rows)


def test_stratified_sample_deterministic_and_rate_accurate(spark, sf_dir):
    """Membership must be identical across runs and repartitionings, and
    realized rates must track the requested per-stratum percentages."""
    from pyspark.sql import functions as F

    from hive_cassandra_spark.operators import relational

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fr = {"1-URGENT": 25.0, "2-HIGH": 50.0}
    a = relational.stratified_sample(o, "o_orderkey", "o_orderpriority", fr, default_pct=10.0)
    b = relational.stratified_sample(
        o.repartition(7), "o_orderkey", "o_orderpriority", fr, default_pct=10.0
    )
    keys_a = {r.o_orderkey for r in a.select("o_orderkey").collect()}
    keys_b = {r.o_orderkey for r in b.select("o_orderkey").collect()}
    assert keys_a == keys_b  # stable under repartitioning (unlike sampleBy)

    totals = {r.o_orderpriority: r.n
              for r in o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = {r.o_orderpriority: r.n
            for r in a.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    for stratum, pct in [("1-URGENT", 0.25), ("2-HIGH", 0.50), ("5-LOW", 0.10)]:
        rate = kept.get(stratum, 0) / totals[stratum]
        assert abs(rate - pct) < 0.12, (stratum, rate)

    # salt re-rolls membership without touching the data
    c = relational.stratified_sample(
        o, "o_orderkey", "o_orderpriority", fr, default_pct=10.0, salt="v2"
    )
    keys_c = {r.o_orderkey for r in c.select("o_orderkey").collect()}
    assert keys_c != keys_a


def test_assign_shards_stable_under_repartition(spark, sf_dir):
    from hive_cassandra_spark.operators.relational import assign_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r.doc_id: r.shard_id for r in assign_shards(docs, 8, "doc_id").collect()}
    b = {
        r.doc_id: r.shard_id
        for r in assign_shards(docs.repartition(17), 8, "doc_id").collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(8))


def test_shard_manifest_checksum_order_independent(spark, sf_dir):
    from hive_cassandra_spark.operators.relational import shard_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = {r.shard_id: tuple(r) for r in shard_manifest(docs, 8, "doc_id", "n_chars").collect()}
    shuffled = {
        r.shard_id: tuple(r)
        for r in shard_manifest(
            docs.orderBy(F.col("text")), 8, "doc_id", "n_chars"
        ).collect()
    }
    assert base == shuffled
    assert sum(r[1] for r in base.values()) == docs.count()


def test_exact_n_sample_deterministic_and_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = rel.exact_n_sample(docs, 50, "doc_id", salt="s1")
    b = rel.exact_n_sample(docs.repartition(7), 50, "doc_id", salt="s1")
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert len(ids_a) == 50 and ids_a == ids_b  # partitioning-stable
    other = sorted(
        r.doc_id
        for r in rel.exact_n_sample(docs, 50, "doc_id", salt="s2").collect()
    )
    assert other != ids_a  # salt changes membership
    assert a.columns == docs.columns  # helper column dropped
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort
    with pytest.raises(ValueError):
        rel.exact_n_sample(docs, 0, "doc_id")


# ------------------------------------------------------ grouped prefix sum


def test_prefix_sum_by_group_matches_single_window(spark):
    """The two-phase distributed form must equal the naive
    Window.partitionBy(group) exclusive cumsum, under any partitioning."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", (i * 7) % 11 + 1) for i in range(200)],
        "k long, g string, v long",
    )
    naive = df.withColumn(
        "cum_before",
        F.sum("v").over(
            W.partitionBy("g")
            .orderBy("k")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        - F.col("v"),
    )
    expect = sorted((r.k, r.cum_before) for r in naive.collect())
    got = sorted(
        (r.k, r.cum_before)
        for r in rel.prefix_sum_by_group(
            df.repartition(9), ["g"], "k", "v"
        ).collect()
    )
    assert got == expect


def test_prefix_sum_leaves_no_cached_rdds_no_range_exchange(spark):
    """r06 verdict item 3: the two-phase prefix-sum helpers must not leak
    persisted RDDs (at 100 TB a cached copy of the repartitioned base is
    the whole input). __pid consistency now comes from literal split
    points (order_bucket_column): the bucket id is a pure function of the
    data, so the two consumers agree with no persist — and the old
    rangepartitioning exchange disappears from the plan entirely (the
    window's hash exchange does the physical placement)."""
    df = spark.createDataFrame(
        [(i, f"g{i % 5}", i % 7 + 1) for i in range(500)],
        "k long, g string, v long",
    )
    jsc = spark.sparkContext._jsc
    # compare ID SETS, not counts: other suites' caches can be unpersisted
    # by the ContextCleaner mid-test (their Python refs get GC'd), which
    # makes a count-based assert flaky under a full-suite run
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = rel.prefix_sum_by_group(df.repartition(11), ["g"], "k", "v")
    out.collect()
    rn = rel.global_row_number(df, [("k", "desc")])
    rn.collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()  # we added NOTHING
    for d in (out, rn):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        assert "rangepartitioning" not in plan  # one less full-row shuffle


def test_order_bucket_column_is_monotone_and_deterministic(spark):
    """bucket(x) <= bucket(y) whenever x precedes y in the sort order, for
    ANY split sample — and the assignment is identical across independent
    evaluations (the property the RangePartitioner can't give two separate
    exchanges)."""
    df = spark.createDataFrame(
        [(i, (i * 2654435761) % 1000) for i in range(2000)], "id long, v long"
    )
    b = rel.order_bucket_column(df, [("v", True), ("id", False)], 8)
    rows = df.withColumn("b", b).collect()
    srt = sorted(rows, key=lambda r: (-r.v, r.id))
    buckets = [r.b for r in srt]
    assert buckets == sorted(buckets)  # monotone along the sort order
    assert len(set(buckets)) >= 4  # the sample actually spread the data
    again = {(r.id): r.b for r in df.withColumn("b", b).collect()}
    assert all(again[r.id] == r.b for r in rows)  # stable re-evaluation


def test_global_row_number_matches_sort_order(spark):
    from hive_cassandra_spark.operators import relational as R
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2654435761 % 97).alias("v")
    )
    out = R.global_row_number(df, [("v", "desc"), ("id", "asc")])
    rows = sorted((r.rn, r.v, r.id) for r in out.collect())
    expect = sorted(
        ((r.v, r.id) for r in df.collect()), key=lambda t: (-t[0], t[1])
    )
    assert [t[0] for t in rows] == list(range(1000))  # dense, 0-based
    assert [(v, i) for _, v, i in rows] == expect
    # repartition-invariant: numbering depends only on the sort order
    again = R.global_row_number(
        df.repartition(7), [("v", "desc"), ("id", "asc")]
    )
    assert sorted((r.rn, r.v, r.id) for r in again.collect()) == rows


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from hive_cassandra_spark.operators.relational import weighted_sample

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, F.lit(50)).otherwise(F.lit(1)).alias("w"),
    )
    s1 = weighted_sample(df, "k", "w", 100)
    s2 = weighted_sample(df.repartition(17), "k", "w", 100)
    r1 = [(r.k, r.rank) for r in s1.orderBy("rank").collect()]
    r2 = [(r.k, r.rank) for r in s2.orderBy("rank").collect()]
    assert r1 == r2 and len(r1) == 100  # repartition-stable, exact k
    # heavy keys are 10% of the population with 50x weight → they should
    # dominate the sample (expected ~85%; assert a loose majority)
    heavy = sum(1 for k, _ in r1 if k < 100)
    assert heavy > 60
    # TakeOrdered plan, not a global sort
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_small_input_returns_all(spark):
    from hive_cassandra_spark.operators.relational import weighted_sample

    df = spark.range(7).select(F.col("id").alias("k"), F.lit(3).alias("w"))
    assert weighted_sample(df, "k", "w", 100).count() == 7


def test_zorder_key_known_values(spark):
    from hive_cassandra_spark.operators.relational import zorder_key

    rows = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    got = [
        r.z
        for r in rows.select(
            zorder_key(F.col("x"), F.col("y"), 16).alias("z")
        ).collect()
    ]
    # interleave by hand: x bits at even positions, y bits at odd
    assert got == [0, 1, 2, 39, (1 << 32) - 1]


def test_zorder_write_tightens_both_dims_file_stats(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from hive_cassandra_spark.operators.relational import zorder_write

    # two independent-ish dimensions derived from id
    df = spark.range(20_000).select(
        (F.col("id") * 7919 % 4096).alias("x"),
        (F.col("id") * 104729 % 4096).alias("y"),
    )
    naive, zpath = str(tmp_path / "naive"), str(tmp_path / "z")
    df.repartition(8).write.parquet(naive)
    zorder_write(df, zpath, "x", "y", 8, bits=12)

    # per-file (max - min) from the parquet footer stats — what the
    # row-group pruner consults
    def spans(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col)
            los, his = [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(ci).statistics
                los.append(st.min)
                his.append(st.max)
            out.append(max(his) - min(los))
        return sum(out)

    for col in ("x", "y"):
        assert spans(zpath, col) < spans(naive, col) * 0.7, col


def test_shuffle_shards_permutation_balance_and_salt(spark):
    from hive_cassandra_spark.operators.relational import shuffle_shards

    df = spark.range(1001).select(F.col("id").alias("k"))
    out = shuffle_shards(df, "k", 8, salt="a")
    rows = out.collect()
    # a true permutation: positions are exactly 0..n-1
    assert sorted(r.shuffle_pos for r in rows) == list(range(1001))
    # round-robin shards: sizes equal to +-1
    sizes = {}
    for r in rows:
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # deterministic under repartitioning
    again = {
        r.k: (r.shuffle_pos, r.shard)
        for r in shuffle_shards(df.repartition(13), "k", 8, salt="a").collect()
    }
    assert {r.k: (r.shuffle_pos, r.shard) for r in rows} == again
    # the salt actually re-shuffles
    other = {
        r.k: r.shuffle_pos
        for r in shuffle_shards(df, "k", 8, salt="b").collect()
    }
    moved = sum(
        1 for r in rows if other[r.k] != r.shuffle_pos
    )
    assert moved > 900


def test_analyze_table_stats_exact_and_estimated(spark):
    from hive_cassandra_spark.operators.relational import analyze_table

    df = spark.range(1000).select(
        F.col("id").alias("a"),
        (F.col("id") % 7).alias("b"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.lit("x")).alias("c"),
    )
    got = {r.col: r for r in analyze_table(df, ["a", "b", "c"], ndv_k=64).collect()}
    assert got["a"].n_rows == 1000 and got["a"].n_null == 0
    # 1000 distinct > k=64 → estimator kicks in; 13% RSE, assert 4 sigma
    assert got["a"].k_used == 64
    assert abs(got["a"].est_ndv - 1000) / 1000 < 0.52
    # 7 distinct < k → exact
    assert got["b"].k_used == 7 and got["b"].est_ndv == 7
    assert got["b"].min_val == "0" and got["b"].max_val == "6"
    assert got["c"].n_null == 100 and got["c"].est_ndv == 1
    with pytest.raises(ValueError):
        analyze_table(df, [])


def test_histogram_accounts_every_row_and_clamps(spark):
    from hive_cassandra_spark.operators.relational import histogram

    df = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", 9.99), ("a", 10.0), ("a", 99.0),
         ("a", 150.0), ("b", None), ("b", 42.0)],
        "g string, v double",
    )
    got = {(r.g, r.bin): r.cnt for r in
           histogram(df, ["g"], "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0 alongside 0.0 and 9.99; 150 clamps into bin 9
    assert got[("a", 0)] == 3
    assert got[("a", 1)] == 1 and got[("a", 9)] == 2  # 99.0 and 150.0
    assert got[("b", 4)] == 1  # NULL dropped, 42 → bin 4
    assert sum(c for (g, _), c in got.items() if g == "a") == 6
    with pytest.raises(ValueError):
        histogram(df, ["g"], "v", 5.0, 5.0, 10)


def test_weighted_sample_per_group_quota_and_plan(spark):
    from hive_cassandra_spark.operators.relational import (
        weighted_sample,
        weighted_sample_per_group,
    )

    df = spark.range(600).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    out = weighted_sample_per_group(df, ["g"], "k", "w", 25)
    sizes = {r.g: r.n for r in out.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {0: 25, 1: 25, 2: 25}  # exact quota per group
    # a single-group draw matches the global sampler's selection exactly
    one = df.filter(F.col("g") == 0)
    a = {(r.k, r.rank) for r in weighted_sample_per_group(
        one, ["g"], "k", "w", 25).select("k", "rank").collect()}
    b = {(r.k, r.rank) for r in weighted_sample(
        one, "k", "w", 25).select("k", "rank").collect()}
    assert a == b
    # map-side rank pruning before the exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_weighted_sample_per_group_repartition_stable(spark):
    from hive_cassandra_spark.operators.relational import (
        weighted_sample_per_group,
    )

    df = spark.range(900).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").alias("k"),
        (F.col("id") % 11 + 1).alias("w"),
    )
    a = {(r.g, r.k, r.rank) for r in weighted_sample_per_group(
        df, ["g"], "k", "w", 40).select("g", "k", "rank").collect()}
    b = {(r.g, r.k, r.rank) for r in weighted_sample_per_group(
        df.repartition(19), ["g"], "k", "w", 40
    ).select("g", "k", "rank").collect()}
    assert a == b


def test_prefix_sum_uniform52_matches_general_and_naive(spark):
    """The static hash-range fast path and the sampled general path must
    both equal the naive single-window cumsum when the order column is a
    hash52 — same contract, different bucket derivation."""
    from pyspark.sql import Window as W

    from hive_cassandra_spark.operators.sketches import hash52

    df = (
        spark.range(400)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") % 9 + 1).alias("v"),
        )
        .withColumn("r", hash52(F.col("k")))
    )
    naive = df.withColumn(
        "cum_before",
        F.sum("v").over(
            W.partitionBy("g").orderBy("r")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ) - F.col("v"),
    )
    expect = sorted((r.k, r.cum_before) for r in naive.collect())
    fast = sorted(
        (r.k, r.cum_before)
        for r in rel.prefix_sum_by_group(
            df, ["g"], "r", "v", uniform52=True
        ).collect()
    )
    general = sorted(
        (r.k, r.cum_before)
        for r in rel.prefix_sum_by_group(df, ["g"], "r", "v").collect()
    )
    assert fast == expect and general == expect


def test_order_bucket_column_string_keys_monotone(spark):
    """The sampled general path must stay monotone for string sort keys
    (Spark's UTF8 binary ordering — the driver-side sample sort agrees
    because UTF-8 byte order equals codepoint order)."""
    df = spark.createDataFrame(
        [(f"w{(i * 37) % 101:03d}x{i}",) for i in range(600)], "s string"
    )
    b = rel.order_bucket_column(df, [("s", False)], 6)
    rows = df.withColumn("b", b).collect()
    srt = sorted(rows, key=lambda r: r.s)
    buckets = [r.b for r in srt]
    assert buckets == sorted(buckets)
    assert len(set(buckets)) >= 3


def test_incremental_analyze_merge_equals_whole(spark, sf_dir):
    """merge(sketch(A), sketch(B)) finalizes to EXACTLY the whole-corpus
    analyze_table output — counts add, min/max re-reduce, KMV merge is
    exact. Three-way split too (merge is associative)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id", "lang", "source"]
    whole = {r.col: tuple(r) for r in rel.analyze_table(docs, cols).collect()}
    a = rel.analyze_sketch(docs.filter(F.col("doc_id") % 3 == 0), cols)
    b = rel.analyze_sketch(docs.filter(F.col("doc_id") % 3 == 1), cols)
    c = rel.analyze_sketch(docs.filter(F.col("doc_id") % 3 == 2), cols)
    merged = rel.analyze_finalize(rel.analyze_merge(rel.analyze_merge(a, b), c))
    got = {r.col: tuple(r) for r in merged.collect()}
    assert got == whole


def test_equidepth_histogram_exact_order_statistics(spark, sf_dir):
    """Bucket boundaries and counts equal the single-machine ground truth:
    sort all values, cut at rank·k div N."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    vals = sorted(
        (r.o_totalprice, r.o_orderkey)
        for r in orders.select("o_totalprice", "o_orderkey").collect()
    )
    n, k = len(vals), 8
    expected = {}
    for rank, (v, _) in enumerate(vals):
        b = rank * k // n
        lo, hi, cnt = expected.get(b, (v, v, 0))
        expected[b] = (min(lo, v), max(hi, v), cnt + 1)
    got = {
        r.bucket: (r.lo, r.hi, r.n_rows)
        for r in rel.equidepth_histogram(
            orders, "o_totalprice", ["o_orderkey"], k=k
        ).collect()
    }
    assert got == expected
    # equal depth: counts differ by at most 1 across buckets
    counts = [c for _, _, c in got.values()]
    assert max(counts) - min(counts) <= 1


def test_equidepth_histogram_no_global_single_task_sort(spark, sf_dir):
    """The plan must carry NO global (empty-partition-key) window or
    global Sort before the aggregate — rank comes from the two-phase
    prefix sum."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = rel.equidepth_histogram(orders, "o_totalprice", ["o_orderkey"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # per-bucket windows are keyed by __pid; a global window would show
    # an empty PartitionSpec on the big side. The tiny offsets window
    # (≤ #buckets rows) is the only unkeyed one allowed.
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[\]", plan):
        # unkeyed window must sit above the ≤32-row offsets aggregate,
        # which the plan renders right after a HashAggregate on __pid
        assert "__part_off" in plan[m.start() : m.start() + 400]


def test_check_expectations_report(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0, "O"), (2, "b", 3.0, "O"),
         (2, None, 7.0, "X"), (4, "d", -1.0, "F")],
        "k long, name string, amount double, status string",
    )
    out = {r.check_name: (r.metric, r.passed) for r in
           rel.check_expectations(df, [
               ("rowcount", "row_count_between", 1, 10),
               ("name_not_null", "not_null", "name"),
               ("k_unique", "unique", "k"),
               ("amount_min", "min_at_least", "amount", 0.0),
               ("status_domain", "values_in", "status", ["O", "F", "P"]),
           ]).collect()}
    assert out["rowcount"] == (4.0, True)
    assert out["name_not_null"] == (0.75, False)   # 3 of 4 non-null
    assert out["k_unique"] == (3.0, False)         # k=2 duplicated
    assert out["amount_min"] == (-1.0, False)
    assert out["status_domain"] == (1.0, False)    # the 'X' row
    # all-green table
    ok = spark.createDataFrame([(1, "a")], "k long, name string")
    rep = rel.check_expectations(ok, [
        ("k_unique", "unique", "k"), ("name_not_null", "not_null", "name"),
    ]).collect()
    assert all(r.passed for r in rep)
    # report is deterministically ordered by check_name
    assert [r.check_name for r in rep] == ["k_unique", "name_not_null"]


def test_check_expectations_null_and_errors(spark):
    import pytest
    df = spark.createDataFrame([(None,)], "status string")
    # NULLs are not domain violations — pair with not_null to forbid
    rep = {r.check_name: r.passed for r in rel.check_expectations(df, [
        ("dom", "values_in", "status", ["O"]),
        ("nn", "not_null", "status"),
    ]).collect()}
    assert rep == {"dom": True, "nn": False}
    with pytest.raises(ValueError):
        rel.check_expectations(df, [])
    with pytest.raises(ValueError):
        rel.check_expectations(df, [("x", "no_such_kind", "status")])


def test_compact_files_packs_and_preserves(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src, dst = str(tmp_path / "frag"), str(tmp_path / "opt")
    docs.repartition(32).write.parquet(src)
    stats = rel.compact_files(spark, src, dst, target_mb=128)
    assert stats["files_before"] == 32
    # tiny corpus, 128 MB target → exactly one packed file
    assert stats["files_after"] == 1
    # content contract: same rows, nothing lost or duplicated
    before = spark.read.parquet(src)
    after = spark.read.parquet(dst)
    assert after.count() == before.count()
    assert (
        after.agg(F.sum("doc_id")).first()[0]
        == before.agg(F.sum("doc_id")).first()[0]
    )
    with pytest.raises(ValueError):
        rel.compact_files(spark, str(tmp_path / "empty"), dst)


def test_compact_files_respects_target(spark, tmp_path):
    # ~3 MB of rows with a 1 MB target → more than one output file,
    # each under ~2x target (coalesce packs adjacent partitions)
    df = spark.range(400_000).withColumn(
        "pad", F.sha2(F.col("id").cast("string"), 256)
    )
    src, dst = str(tmp_path / "frag"), str(tmp_path / "opt")
    df.repartition(64).write.parquet(src)
    stats = rel.compact_files(spark, src, dst, target_mb=1)
    assert stats["files_after"] > 1
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(dst).count() == 400_000


def test_incremental_agg_matches_recompute_and_retracts(spark):
    rows = [
        ("u", "2024-01-01", 1.00),
        ("u", "2024-01-02", 2.50),
        ("v", "2024-01-03", 4.00),
    ]
    base_src = spark.createDataFrame(
        rows, "user_id string, day string, value double"
    )
    base = base_src.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("sum_cents"),
    )
    # delta: one insert for u, one retraction for each v row → v vanishes
    delta = spark.createDataFrame(
        [
            ("u", 3.00, 1),
            ("v", 4.00, -1),
            ("w", 9.99, 1),
        ],
        "user_id string, value double, w int",
    )
    out = {r.user_id: (r.n_rows, r.sum_cents)
           for r in rel.incremental_agg(
               base, delta, ["user_id"], weight_col="w").collect()}
    # u: 2 base rows + 1 insert; v: retracted to zero → dropped; w: new
    assert out == {"u": (3, 650), "w": (1, 999)}


def test_association_rules_support_and_lift(spark):
    # baskets: {A,B} x3, {A,C} x1, {B,C} x1, {A} x1  → N = 6
    rows = []
    for i, items in enumerate(
        [("A", "B"), ("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"), ("A",)]
    ):
        rows += [(i, it) for it in items]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r.item_a, r.item_b): (r.support, r.lift_ppm)
           for r in rel.association_rules(df, "basket", "item").collect()}
    # c_A=5, c_B=4, c_C=2, N=6
    assert out[("A", "B")] == (3, (1_000_000 * 6 * 3) // (5 * 4))
    assert out[("A", "C")] == (1, (1_000_000 * 6 * 1) // (5 * 2))
    assert out[("B", "C")] == (1, (1_000_000 * 6 * 1) // (4 * 2))
    # absolute min support prunes the singletons
    out2 = rel.association_rules(df, "basket", "item", min_support=2).collect()
    assert [(r.item_a, r.item_b) for r in out2] == [("A", "B")]
    # relative threshold: 40% of 6 baskets → ceil = 3 → only {A,B}
    out3 = rel.association_rules(
        df, "basket", "item", min_support_ppm=400_000
    ).collect()
    assert [(r.item_a, r.item_b) for r in out3] == [("A", "B")]


def test_association_rules_basket_cap_and_dedup(spark):
    # duplicate (basket, item) rows collapse before pairing; the 3-item
    # basket is excluded by max_basket_size=2 — its pairs vanish, and N
    # drops accordingly (exclusion, not truncation)
    df = spark.createDataFrame(
        [(1, "A"), (1, "A"), (1, "B"),
         (2, "A"), (2, "B"), (2, "C")],
        "basket long, item string",
    )
    out = {(r.item_a, r.item_b): r.support
           for r in rel.association_rules(
               df, "basket", "item", max_basket_size=2).collect()}
    assert out == {("A", "B"): 1}


def test_association_rules_randomized_identities(spark):
    """Seeded random baskets: Σ pair supports == Σ C(k,2) over basket
    sizes (every within-basket pair counted exactly once), and every
    pair's support is bounded by min of its items' supports."""
    import random
    from itertools import combinations

    for seed in (4, 13):
        rng = random.Random(seed)
        rows, sizes = [], []
        for b in range(rng.randint(5, 12)):
            items = rng.sample("ABCDEFGH", rng.randint(1, 5))
            sizes.append(len(items))
            rows += [(b, it) for it in items]
        df = spark.createDataFrame(rows, "basket long, item string")
        out = rel.association_rules(df, "basket", "item").collect()
        assert sum(r.support for r in out) == sum(
            k * (k - 1) // 2 for k in sizes
        )
        supp = {}
        for b, it in rows:
            supp[it] = supp.get(it, 0) + 1
        for r in out:
            assert r.support <= min(supp[r.item_a], supp[r.item_b])
        # python ground truth for one seed's pair counts
        truth: dict = {}
        baskets: dict = {}
        for b, it in rows:
            baskets.setdefault(b, set()).add(it)
        for its in baskets.values():
            for a, c in combinations(sorted(its), 2):
                truth[(a, c)] = truth.get((a, c), 0) + 1
        assert {(r.item_a, r.item_b): r.support for r in out} == truth


def test_table_diff_all_classes(spark):
    before = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("c", 3, None), ("d", 4, 40)],
        "k string, n int, s int",
    )
    after = spark.createDataFrame(
        [("b", 2, 21), ("c", 3, None), ("d", None, 40), ("e", 5, 50)],
        "k string, n int, s int",
    )
    out = {r.k: r for r in rel.table_diff(
        before, after, ["k"], ["n", "s"]).collect()}
    assert out["a"].op == "delete" and out["a"].n_after is None
    assert out["b"].op == "update" and (out["b"].s_before, out["b"].s_after) == (20, 21)
    assert "c" not in out                      # NULL == NULL → unchanged
    assert out["d"].op == "update"             # value → NULL is a change
    assert out["e"].op == "insert" and out["e"].n_before is None
    with pytest.raises(ValueError):
        rel.table_diff(before, after, ["k"], [])
    # diff → apply-style merge sanity: inserts+updates+deletes account
    # for every key difference between the versions
    keys_b = {r.k for r in before.collect()}
    keys_a = {r.k for r in after.collect()}
    ops = {r.k: r.op for r in out.values()}
    assert {k for k, o in ops.items() if o == "insert"} == keys_a - keys_b
    assert {k for k, o in ops.items() if o == "delete"} == keys_b - keys_a


def test_zorder_key_n_matches_2d_and_footer_stats(spark, sf_dir, tmp_path):
    # with two columns the N-dim interleave IS zorder_key
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    two = ev.select(
        rel.zorder_key(F.col("user_id"), F.col("event_id"), 16).alias("a"),
        rel.zorder_key_n([F.col("user_id"), F.col("event_id")], 16).alias("b"),
    )
    assert two.filter(F.col("a") != F.col("b")).count() == 0
    with pytest.raises(ValueError, match="at least 2"):
        rel.zorder_key_n([F.col("user_id")])
    with pytest.raises(ValueError, match="> 62"):
        rel.zorder_key_n([F.col("user_id")] * 4, bits=16)
    # 3-dim layout payoff: range-partition by the 3-way key, then files'
    # footer min/max must be tighter than the global range on the listed
    # dimensions. Two Morton preconditions, made explicit because the
    # naive version of this test violated both: every dimension must FIT
    # in `bits` (pmod wrapping scrambles a wider one) and must OCCUPY
    # comparable high bits (a narrow dimension contributes only low key
    # bits and never clusters — production OPTIMIZE ZORDER rescales by
    # per-column min/max for exactly this reason).
    import pyarrow.parquet as pq
    import glob as g

    hi = {c: ev.agg(F.max(c)).first()[0]
          for c in ("user_id", "event_id")}
    z = rel.zorder_key_n(
        [
            F.col("user_id") * int(16000 // hi["user_id"]),
            F.col("event_id") * int(16000 // hi["event_id"]),
            F.round(F.col("value") * 100).cast("long") * 3,
        ],
        bits=14,
    )
    def mean_spans(path: str) -> dict:
        spans = {c: [] for c in ("user_id", "event_id")}
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for i in range(row.num_columns):
                    col = row.column(i)
                    name = col.path_in_schema
                    if name in spans and col.statistics is not None:
                        st = col.statistics
                        spans[name].append(st.max - st.min)
        assert all(spans.values())
        return {c: sum(v) / len(v) for c, v in spans.items()}

    out, naive = str(tmp_path / "z3"), str(tmp_path / "naive")
    (
        ev.withColumn("__z", z)
        .repartitionByRange(64, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(out)
    )
    ev.repartition(64).write.parquet(naive)
    zs, ns = mean_spans(out), mean_spans(naive)
    # the judge of a clustering layout is the layout it replaces: the
    # 3-way interleave must tighten per-file min/max on EVERY listed
    # dimension versus a hash-random layout of the same file count
    # (quantile cuts over Morton ranges don't halve every dimension in
    # every file, so an absolute per-file bound is the wrong assert)
    for c in zs:
        assert zs[c] < ns[c] * 0.7, (c, zs[c], ns[c])
