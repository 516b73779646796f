"""KMV distinct sketch: exactness below k, estimator accuracy, bounded
state, and the merge property merge(kmv(A), kmv(B)) == kmv(A ∪ B)."""

import pytest
from pyspark.sql import functions as F

from hive_cassandra_spark.operators import sketches


def _events(spark, sf_dir):
    from hive_cassandra_spark.queries import load_events

    return load_events(spark, sf_dir)


def test_exact_below_k(spark):
    """Fewer distinct values than k → the sketch saw everything and the
    estimate IS the exact count."""
    df = spark.range(1000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 40).alias("v")
    )
    out = {
        r.g: r
        for r in sketches.kmv_distinct(df, ["g"], "v", k=64).collect()
    }
    for g in (0, 1):
        assert out[g].k_used == 20
        assert out[g].est_distinct == 20


def test_estimator_accuracy(spark):
    """10k distinct values, k=64 → the KMV estimator's relative standard
    error is ~1/sqrt(k-2) ≈ 13%; assert within 4 sigma."""
    df = spark.range(10_000).select(F.lit(0).alias("g"), F.col("id").alias("v"))
    row = sketches.kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    assert row.k_used == 64
    assert abs(row.est_distinct - 10_000) / 10_000 < 0.52


def test_bounded_state(spark):
    """The sketch never holds more than k hashes per group, whatever the
    input cardinality — the whole point at 100 TB."""
    df = spark.range(5_000).select((F.col("id") % 3).alias("g"), F.col("id").alias("v"))
    h = sketches.kmv_hashes(df, ["g"], "v", k=16)
    sizes = h.groupBy("g").count().collect()
    assert all(r["count"] == 16 for r in sizes)


def test_merge_equals_union(spark):
    """merge(kmv(A), kmv(B)) must equal kmv(A ∪ B) exactly — the partial-
    aggregate property that lets per-day sketches roll up to per-month.
    A and B overlap, so the merge must also dedup shared hashes."""
    base = spark.range(4_000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    a = base.filter(F.col("v") < 3_000)
    b = base.filter(F.col("v") >= 1_000)  # 1000..2999 in both
    k = 32
    merged = sketches.merge_kmv_hashes(
        sketches.kmv_hashes(a, ["g"], "v", k),
        sketches.kmv_hashes(b, ["g"], "v", k),
        ["g"],
        k,
    )
    direct = sketches.kmv_hashes(base, ["g"], "v", k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_k_below_two_rejected(spark):
    df = spark.range(10).select(F.lit(0).alias("g"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        sketches.kmv_hashes(df, ["g"], "v", k=1)


def test_hash52_matches_duckdb(spark):
    """The 52-bit hash must be the SAME number both engines compute — the
    whole determinism contract rests on it."""
    import duckdb

    vals = ["0", "12345", "hello"]
    got = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select(sketches.hash52(F.col("s")).alias("h"))
        .collect()
    )
    want = [
        duckdb.sql(
            f"SELECT CAST('0x' || substr(md5('{v}'), 1, 13) AS BIGINT)"
        ).fetchone()[0]
        for v in vals
    ]
    assert [r.h for r in got] == want


# ---------------------------------------------------------------------
# bottom-k quantile sketch
# ---------------------------------------------------------------------


def _quantile_fixture(spark):
    # two groups, values 0..999 (g=a) and 0..499 doubled (g=b); unique key
    return spark.range(1500).select(
        F.when(F.col("id") < 1000, F.lit("a")).otherwise(F.lit("b")).alias("g"),
        F.when(F.col("id") < 1000, F.col("id"))
        .otherwise((F.col("id") - 1000) * 2)
        .cast("double")
        .alias("v"),
        F.concat(F.lit("k"), F.col("id")).alias("rk"),
    )


def test_quantile_sketch_bounded_state(spark):
    df = _quantile_fixture(spark)
    sk = sketches.quantile_sketch(df, ["g"], "v", "rk", k=64)
    per_group = {r.g: r.c for r in sk.groupBy("g").agg(F.count("*").alias("c")).collect()}
    assert per_group == {"a": 64, "b": 64}


def test_quantile_sketch_merge_equals_full(spark):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) for a disjoint split —
    the partial-aggregate property that makes the sketch scale-safe."""
    df = _quantile_fixture(spark)
    a = df.filter(F.col("rk") < "k5")  # lexicographic split, disjoint
    b = df.filter(~(F.col("rk") < "k5"))
    k = 48
    merged = sketches.merge_quantile_sketch(
        sketches.quantile_sketch(a, ["g"], "v", "rk", k),
        sketches.quantile_sketch(b, ["g"], "v", "rk", k),
        ["g"],
        k,
    )
    direct = sketches.quantile_sketch(df, ["g"], "v", "rk", k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_quantile_estimate_tracks_exact(spark):
    """Sanity: sketch estimates land near the exact percentiles (uniform
    values 0..999, k=256 → sampling error well under 15 percentile
    points), and the full-population sketch (k >= n) is EXACTLY the
    discrete percentile."""
    df = _quantile_fixture(spark).filter(F.col("g") == "a")
    est = sketches.quantile_estimate(
        sketches.quantile_sketch(df, ["g"], "v", "rk", k=256), ["g"]
    ).collect()[0]
    assert est.n_sample == 256
    assert abs(est.p25 - 250) < 150 and abs(est.p50 - 500) < 150 \
        and abs(est.p75 - 750) < 150
    full = sketches.quantile_estimate(
        sketches.quantile_sketch(df, ["g"], "v", "rk", k=2000), ["g"]
    ).collect()[0]
    # n=1000: index ⌊999·p⌋ of sorted 0..999 = 249 / 499 / 749
    assert (full.n_sample, full.p25, full.p50, full.p75) == (1000, 249.0, 499.0, 749.0)


# ---------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_rate(spark):
    keys = spark.range(900).filter(F.col("id") % 3 == 0).select(F.col("id").alias("k"))
    bloom = sketches.bloom_build(keys, "k", n_words=16, k=4)
    assert bloom.count() <= 16  # bounded regardless of key count
    probe = spark.range(900).select(F.col("id").alias("k"))
    rows = sketches.bloom_probe(probe, bloom, "k", n_words=16, k=4).collect()
    members = {r.k for r in rows if r.maybe_member}
    truth = {i for i in range(900) if i % 3 == 0}
    assert truth <= members  # NO false negatives, ever
    fp = len(members - truth) / (900 - len(truth))
    assert fp < 0.6  # loaded filter, but far from degenerate


def test_bloom_probe_zero_shuffle_on_fact_side(spark):
    keys = spark.range(100).select(F.col("id").alias("k"))
    bloom = sketches.bloom_build(keys, "k")
    probe = spark.range(1000).select(F.col("id").alias("k"))
    out = sketches.bloom_probe(probe, bloom, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probe side must see only a broadcast of the 1-row word array —
    # its own data never exchanges; the sole hash exchange allowed is the
    # tiny bloom-build groupBy(word_idx) on the OTHER side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


# ---------------------------------------------------------------- heavy hitters


def test_mg_candidates_superset_guarantee(spark):
    """Any value with global frequency > N/(capacity+1) must appear in the
    per-partition Misra-Gries union, whatever the partitioning."""
    # 10k rows: value 'hot' 2000x, 'warm' 500x, the rest a long tail
    rows = (
        [("hot",)] * 2000
        + [("warm",)] * 500
        + [(f"tail{i % 750}",) for i in range(7500)]
    )
    df = spark.createDataFrame(rows, "v string").repartition(8)
    cap = 20
    cands = {
        r.v for r in sketches.mg_candidates(df, "v", capacity=cap).collect()
    }
    n = len(rows)
    exact = {
        r.v
        for r in df.groupBy("v")
        .count()
        .filter(F.col("count") > n / (cap + 1))
        .collect()
    }
    assert exact <= cands
    # bounded output: ≤ capacity rows per partition
    assert len(cands) <= cap * 8


def test_heavy_hitters_exact_and_partition_invariant(spark):
    rows = [(f"v{i % 37}",) for i in range(11100)] + [("big",)] * 900
    df = spark.createDataFrame(rows, "v string")
    out = {
        (r.v, r.cnt)
        for r in sketches.heavy_hitters(df, "v", 1, 20, capacity=64).collect()
    }
    n = len(rows)
    exact = {
        (r.v, r["count"])
        for r in df.groupBy("v")
        .count()
        .filter(F.col("count") * 20 >= n)
        .collect()
    }
    assert out == exact
    out7 = {
        (r.v, r.cnt)
        for r in sketches.heavy_hitters(
            df.repartition(7), "v", 1, 20, capacity=64
        ).collect()
    }
    assert out7 == exact


def test_heavy_hitters_threshold_guard(spark):
    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError, match="MG guarantee"):
        sketches.heavy_hitters(df, "v", 1, 1000, capacity=64)


def test_bloom_probe_expr_matches_probe(spark):
    """The literalized-words probe must be bit-identical to the broadcast
    one-row probe — same members, same false positives."""
    keys = spark.range(200).select((F.col("id") * 3).cast("string").alias("k"))
    bloom = sketches.bloom_build(keys, "k", n_words=16, k=4)
    probe = spark.range(900).select(F.col("id").cast("string").alias("k"))
    via_join = {
        (r.k, r.maybe_member)
        for r in sketches.bloom_probe(probe, bloom, "k", n_words=16, k=4).collect()
    }
    words = sketches.bloom_words(bloom, 16)
    via_expr = {
        (r.k, r.m)
        for r in probe.withColumn(
            "m", sketches.bloom_probe_expr(F.col("k"), words, n_words=16, k=4)
        ).collect()
    }
    assert via_expr == via_join


def test_kmv_set_estimates_exact_small_and_identities(spark):
    from hive_cassandra_spark.operators import sketches as S
    from pyspark.sql import functions as F

    # A = {0..39}, B = {20..59} per one group: k=64 > all cardinalities, so
    # every estimate is EXACT and inclusion-exclusion is exact too
    a_df = spark.range(0, 40).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    b_df = spark.range(20, 60).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    a = S.kmv_hashes(a_df, ["g"], "v", k=64)
    b = S.kmv_hashes(b_df, ["g"], "v", k=64)
    r = S.kmv_set_estimates(a, b, ["g"], k=64).collect()[0]
    assert (r.est_a, r.est_b, r.est_union, r.est_inter) == (40, 40, 60, 20)
    assert r.jaccard_pct == 20 * 100 // 60
    # disjoint groups: one-sided groups get 0 for the missing estimate
    a2 = S.kmv_hashes(
        a_df.withColumn("g", F.lit("only_a")), ["g"], "v", k=64
    )
    b2 = S.kmv_hashes(
        b_df.withColumn("g", F.lit("only_b")), ["g"], "v", k=64
    )
    rows = {r.g: r for r in S.kmv_set_estimates(a2, b2, ["g"], k=64).collect()}
    assert rows["only_a"].est_b == 0 and rows["only_a"].est_inter == 0
    assert rows["only_b"].est_a == 0 and rows["only_b"].jaccard_pct == 0


def test_kmv_set_estimates_sketch_accuracy(spark):
    """Above k the estimates are approximate; identical sets must still
    report ~full overlap and disjoint sets ~none (k=64 -> ~12% rel err)."""
    from hive_cassandra_spark.operators import sketches as S
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    a = S.kmv_hashes(base, ["g"], "v", k=64)
    same = S.kmv_set_estimates(a, a, ["g"], k=64).collect()[0]
    assert same.est_inter == same.est_union  # identical sketches: exact 100%
    assert same.jaccard_pct == 100
    disj = spark.range(2000, 4000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    b = S.kmv_hashes(disj, ["g"], "v", k=64)
    r = S.kmv_set_estimates(a, b, ["g"], k=64).collect()[0]
    # true jaccard 0; inclusion-exclusion noise stays small
    assert r.jaccard_pct <= 25
    assert r.est_union > r.est_a and r.est_union > r.est_b


def test_countmin_never_underestimates(spark):
    """One-sided error: est_count >= true count for every probed value,
    and with a comfortably wide sketch the estimates are exact."""
    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 50).alias("v")
    )
    cm = sketches.countmin_sketch(df, ["g"], "v", depth=4, width=512)
    probes = df.select("g", "v").distinct()
    est = {
        (r.g, r.v): r.est_count
        for r in sketches.countmin_query(
            cm, probes, ["g"], "v", depth=4, width=512
        ).collect()
    }
    true = {
        (r.g, r.v): r.cnt
        for r in df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert est.keys() == true.keys()
    assert all(est[k] >= true[k] for k in true)
    # width=512 >> 50 distinct values: collisions are unlikely enough that
    # a fully-exact readout is the expected outcome for this fixture
    assert est == true


def test_countmin_collisions_overestimate_only(spark):
    """Squeeze 400 distinct values into width=16: collisions are forced,
    so some estimates must be strictly larger — but never smaller."""
    df = spark.range(4000).select(
        F.lit(0).alias("g"), (F.col("id") % 400).alias("v")
    )
    cm = sketches.countmin_sketch(df, ["g"], "v", depth=2, width=16)
    probes = df.select("g", "v").distinct()
    rows = sketches.countmin_query(
        cm, probes, ["g"], "v", depth=2, width=16
    ).collect()
    assert all(r.est_count >= 10 for r in rows)  # every value occurs 10x
    assert any(r.est_count > 10 for r in rows)


def test_countmin_merge_equals_full(spark):
    """merge(cm(A), cm(B)) is cell-for-cell identical to cm(A ++ B)."""
    df = spark.range(3000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 97).alias("v")
    )
    a = df.filter(F.col("id") % 3 == 0)
    b = df.filter(F.col("id") % 3 != 0)
    merged = sketches.countmin_merge(
        sketches.countmin_sketch(a, ["g"], "v", depth=3, width=32),
        sketches.countmin_sketch(b, ["g"], "v", depth=3, width=32),
        ["g"],
    )
    full = sketches.countmin_sketch(df, ["g"], "v", depth=3, width=32)
    m = {(r.g, r.d, r.pos): r.cnt for r in merged.collect()}
    f = {(r.g, r.d, r.pos): r.cnt for r in full.collect()}
    assert m == f


def test_countmin_bounded_state(spark):
    """Sketch size is capped by depth x width per group no matter how many
    rows or distinct values flow in."""
    df = spark.range(50_000).select(
        F.lit(0).alias("g"), F.col("id").alias("v")
    )
    cm = sketches.countmin_sketch(df, ["g"], "v", depth=4, width=64)
    assert cm.count() <= 4 * 64
    with pytest.raises(ValueError):
        sketches.countmin_sketch(df, ["g"], "v", depth=0, width=64)


# ----------------------------------------------------------------- HLL


def test_hll_estimate_accuracy_and_bounded_state(spark):
    """Raw HLL at p=8: relative error within ~3 sigma (1.04/sqrt(256) ≈
    6.5% per-trial) on a 10k-distinct stream, and the register table never
    exceeds 256 rows per group regardless of input size."""
    df = spark.range(100_000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 10_000).alias("v")
    )
    regs = sketches.hll_registers(df, ["g"], "v")
    per_group = {r.g: r.n for r in regs.groupBy("g").count().withColumnRenamed("count", "n").collect()}
    assert all(n <= 256 for n in per_group.values())
    # id%2 splits id%10000 into even/odd halves: true distinct = 5000/group
    est = {r.g: r.est_ndv for r in sketches.hll_estimate(regs, ["g"]).collect()}
    for g, e in est.items():
        assert abs(e - 5_000) / 5_000 < 0.2, (g, e)


def test_hll_merge_lossless(spark):
    """estimate(merge(a, b)) == estimate(union) — the register-wise max
    commutes with the estimator, so shards can sketch independently."""
    df = spark.range(30_000).select(
        F.lit(0).alias("g"), (F.col("id") % 7_000).alias("v")
    )
    a = sketches.hll_registers(df.filter(F.col("id") < 15_000), ["g"], "v")
    b = sketches.hll_registers(df.filter(F.col("id") >= 15_000), ["g"], "v")
    merged = sketches.hll_estimate(sketches.hll_merge(a, b, ["g"]), ["g"])
    direct = sketches.hll_estimate(
        sketches.hll_registers(df, ["g"], "v"), ["g"]
    )
    assert [tuple(r) for r in merged.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_hll_small_range_linear_counting(spark):
    """With distinct count << m the raw estimator overestimates ~3x
    (measured 219 for a true 64); the precomputed linear-counting table
    must pull it back inside a tight band."""
    df = spark.range(64).select(F.lit(0).alias("g"), F.col("id").alias("v"))
    est = sketches.hll_estimate(
        sketches.hll_registers(df, ["g"], "v"), ["g"]
    ).collect()[0]
    assert est.registers_hit <= 64
    assert 55 <= est.est_ndv <= 80  # linear-counting band
