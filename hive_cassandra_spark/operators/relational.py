"""Relational surface helpers.

The reference exposes Cassandra tables to the full HiveQL-0.9 operator set
by contract (SURVEY.md §2.B; integration point
/root/reference/.../cassandra/CassandraStorageHandler.java:26 plugging into
hive-exec 0.9). Spark SQL supersedes all of it natively, so this module is
deliberately thin: a few composition helpers whose *physical plan shape*
matters at 100 TB, each documented with the plan we expect Catalyst to
produce. Queries themselves live in ``hive_cassandra_spark.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """Global top-K. Plans as TakeOrderedAndProject: per-partition heap of K
    then a K-row merge on the driver — no global sort, no full shuffle, so
    it is safe at any input size for small K."""
    return df.orderBy(*order_cols).limit(k)


def broadcast_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Fact ⋈ broadcast(dim): no shuffle of the fact side. The correct plan
    whenever the dim fits in executor memory (all TPC-H-ish dims here);
    at 100 TB the fact side never moves."""
    return fact.join(F.broadcast(dim), on, how)


def salted_join(
    big: DataFrame,
    skewed: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side's hot keys, replicate the
    small side across ``salt_buckets``. Use when AQE skew-join isn't enough
    (e.g. one key holding >1/parallelism of all rows). Adds a ``__salt``
    column internally and drops it.
    """
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated = skewed.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(replicated, [key, "__salt"], how)
    return out.drop("__salt")


def skew_safe_count_distinct(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """COUNT(DISTINCT value) per group without funneling a hot key's values
    into one reducer: first dedupe on (group, value) — a shuffle spread by
    the *value* too — then count per group (map-side-combinable).

    Plain algebraic aggs (sum/count/min/max) never need salting in Spark:
    map-side partials leave ≤1 row per upstream partition per key. Distinct
    and collect-style aggs are the ones that skew; this is the distinct fix.
    """
    return (
        df.select(*group_cols, value_col)
        .distinct()
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias(f"distinct_{value_col}"))
    )


def skew_safe_distinct_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    sums: dict[str, str] | None = None,
) -> DataFrame:
    """Per-group COUNT(DISTINCT value) PLUS row count and sums in ONE
    skew-safe pass — the fused generalization of
    ``skew_safe_count_distinct`` for when the same input also needs
    algebraic aggregates (computing them separately would re-scan or
    re-join the input).

    Pass 1 groups by (group, value): the shuffle is spread by the value
    too, so a hot group fans across reducers, and count/sum partials are
    map-side-combinable. Pass 2 is tiny — one row per distinct
    (group, value): the distinct count is count(*), the row count and
    sums fold the partials. Output columns: ``group_cols`` + ``n_rows`` +
    ``distinct_<value_col>`` + one column per ``sums`` key.
    """
    sums = sums or {}
    partials = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__s_{name}") for name, c in sums.items()],
    )
    return partials.groupBy(*group_cols).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias(f"distinct_{value_col}"),
        *[F.sum(f"__s_{name}").alias(name) for name in sums],
    )


def deterministic_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
    salt: str = "",
) -> DataFrame:
    """Reproducible train/valid/test assignment: bucket = first 32 bits of
    md5(salt|key) mod 100, mapped to named splits by cumulative percentage.

    The TABLESAMPLE analogue a training pipeline actually needs: membership
    is a pure function of the key (stable across runs, engines, cluster
    sizes — never ``rand()``), the salt re-rolls the assignment without
    touching the data, and the plan is a narrow codegen'd projection: no
    shuffle, no sampling pass. Adds a ``split`` column.
    """
    splits = splits or {"train": 80, "valid": 10, "test": 10}
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must total 100, got {splits}")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    expr = None
    cum = 0
    for name, pct in splits.items():
        cum += pct
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_pct: float = 100.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum subsampling: keep a row iff its md5
    bucket (basis 10000 — 0.01 % granularity) falls below the stratum's
    retention percentage. The class-rebalancing primitive of a training
    pipeline: downsample over-represented strata (language, source,
    quality tier) to target rates, with membership a pure function of
    (salt, key) — run-stable, engine-stable, cluster-size-stable, never
    ``rand()`` — and the plan a zero-shuffle codegen projection.
    ``df.sampleBy`` offers per-stratum fractions too but draws from a
    seeded RNG over partition order, so membership changes under
    repartitioning; this does not.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    threshold = None
    for stratum, pct in fractions.items():
        cond = F.col(strata_col) == stratum
        lit = F.lit(int(round(pct * 100)))
        threshold = F.when(cond, lit) if threshold is None else threshold.when(cond, lit)
    threshold = (
        F.lit(int(round(default_pct * 100)))
        if threshold is None
        else threshold.otherwise(F.lit(int(round(default_pct * 100))))
    )
    return df.filter(bucket < threshold)


def assign_shards(df: DataFrame, n_shards: int, key_col: str) -> DataFrame:
    """Deterministic output-shard assignment for training-data writes:
    shard = 52-bit md5 hash of the key, mod ``n_shards``. A pure function
    of the key — stable across runs, engines, and cluster sizes (never
    ``spark_partition_id`` or round-robin, which depend on physical
    layout) — so shard membership is reproducible and re-runs overwrite
    the same shard files. Zero-shuffle codegen projection; the writer then
    ``repartition(n_shards, "shard_id")`` so one task owns one shard file.
    Adds a ``shard_id`` column."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    return df.withColumn("shard_id", (h % n_shards).cast("long"))


def shard_manifest(
    df: DataFrame, n_shards: int, key_col: str, size_col: str
) -> DataFrame:
    """Shard-level write manifest: per shard, row count, total payload
    size, key span, and an order-independent content checksum (sum of
    per-key hashes mod 1_000_003 — commutative, so it is insensitive to
    row order within the shard and map-side-combinable). The manifest is
    what a 100 TB writer publishes for readers to audit shard balance and
    detect partial/duplicated writes; skew shows up directly as
    ``total_size`` spread across the ``n_shards`` rows.

    One map-side-combined aggregation on shard_id — the input is never
    sorted or collected."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    return (
        assign_shards(df, n_shards, key_col)
        .withColumn("__chk", h % 1000003)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(size_col)).cast("long").alias("total_size"),
            F.min(F.col(key_col)).alias("min_key"),
            F.max(F.col(key_col)).alias("max_key"),
            F.sum("__chk").cast("long").alias("checksum"),
        )
    )


def _norm_order_by(order_by: list) -> list[tuple[str, bool]]:
    """Normalize an order spec to [(column_name, is_desc)].

    Accepts plain names (ascending) or ``(name, "asc"|"desc")`` tuples.
    Plain named columns only — the two-phase prefix-sum helpers bake the
    sort key into a deterministic bucket expression, so the key must be a
    stored column, not an arbitrary expression (compute it with
    ``withColumn`` first)."""
    out: list[tuple[str, bool]] = []
    for item in order_by:
        if isinstance(item, str):
            out.append((item, False))
        elif isinstance(item, tuple) and len(item) == 2:
            name, d = item
            if d not in ("asc", "desc"):
                raise ValueError(f"direction must be asc|desc, got {d!r}")
            out.append((name, d == "desc"))
        else:
            raise TypeError(
                "order_by items must be 'name' or ('name', 'asc'|'desc'); "
                f"got {item!r}"
            )
    if not out:
        raise ValueError("order_by must name at least one column")
    return out


def _sort_exprs(keys: list[tuple[str, bool]]) -> list:
    return [F.col(n).desc() if d else F.col(n).asc() for n, d in keys]


def order_bucket_column(
    df: DataFrame,
    keys: list[tuple[str, bool]],
    nparts: int,
    sample_per_bucket: int = 64,
):
    """DETERMINISTIC order-contiguous bucket id (0..nparts-1) for the rows
    of ``df`` under the total order ``keys`` — the correctness-critical
    primitive under the two-phase distributed prefix sum.

    Why not ``repartitionByRange`` + ``spark_partition_id()``: Spark's
    RangePartitioner samples its split points independently PER EXCHANGE
    with a seed derived from the RDD id, so two consumers of the "same"
    repartitioned plan can disagree about which row landed in which
    partition unless the exchange is physically reused or the plan is
    persisted — a silent-wrong-results hazard at scale (a cached copy of
    the whole input is the alternative, and that leaks storage). Here the
    split points are computed ONCE (one tiny TakeOrdered job), collected,
    and baked into the returned expression as literals, so the bucket id
    is a pure function of the row's data: every consumer, every retry,
    and every recomputation agrees by construction.

    Split sampling: the ``nparts * sample_per_bucket`` rows with the
    smallest md5 of the key tuple — a deterministic pseudo-random sample
    that plans as TakeOrderedAndProject (per-task heaps, driver merge;
    never a global sort). The sample is driver-sorted in key order and
    every len/nparts-th element becomes a split literal.

    Correctness does NOT depend on split quality: the bucket expression
    ``sum_i(row > split_i)`` is monotone in the sort order for ANY split
    set, so a skewed sample only affects bucket balance, never the
    ordering contract (bucket(x) <= bucket(y) whenever x precedes y).
    Keys must be non-null and should be near-unique — all rows equal on
    the full key land in one bucket (same tie behavior as a range
    partitioner).

    The expression is O(nparts) comparisons per row, JVM-codegen'd; at
    the default 32-2000 shuffle partitions that is a few hundred branch
    instructions — far cheaper than the full-row range exchange it
    replaces (the caller's window shuffle on the bucket id does the
    physical placement)."""
    names = [n for n, _ in keys]
    h = F.md5(F.concat_ws("\x1f", *[F.col(n).cast("string") for n in names]))
    sample = (
        df.select(*names)
        .withColumn("__obk_h", h)
        .orderBy("__obk_h")
        .limit(max(nparts, 1) * sample_per_bucket)
        .drop("__obk_h")
        .collect()
    )
    if len(sample) < 2 or nparts < 2:
        return F.lit(0)

    from functools import cmp_to_key

    def _cmp(a, b):
        for n, d in keys:
            x, y = a[n], b[n]
            if x == y:
                continue
            lt = (x < y) != d  # flip for desc
            return -1 if lt else 1
        return 0

    srt = sorted(sample, key=cmp_to_key(_cmp))
    splits: list = []
    for i in range(1, nparts):
        cand = srt[(i * len(srt)) // nparts]
        if not splits or _cmp(splits[-1], cand) < 0:
            splits.append(cand)

    def _row_gt(split) -> "F.Column":
        # lexicographic "row > split" honoring per-column direction
        cond = F.lit(False)
        for n, d in reversed(keys):
            c, lit = F.col(n), F.lit(split[n])
            this_gt = (c < lit) if d else (c > lit)
            cond = this_gt | ((c == lit) & cond)
        return cond

    bucket = F.lit(0)
    for s in splits:
        bucket = bucket + _row_gt(s).cast("int")
    return bucket


def _uniform52_bucket(col_name: str, nparts: int):
    """Order-contiguous bucket id for a column KNOWN to be uniform in
    [0, 2^52) — hash52 outputs. Static equal hash ranges: perfectly
    deterministic and balanced with ZERO extra jobs (no sample, no
    collect), the fast path the md5-ordered shuffles/mixtures take."""
    step = ((1 << 52) + nparts - 1) // nparts
    return F.expr(f"{col_name} div {step}").cast("int")


def prefix_sum_by_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    uniform52: bool = False,
) -> DataFrame:
    """EXCLUSIVE running sum of ``value_col`` per group in ``order_col``
    order, without ever windowing one group in one task — the grouped
    generalization of the two-phase distributed prefix sum used by
    ``curation.pack_sequences`` (a single-key ``Window.partitionBy(group)``
    would funnel each group through one reducer: the straggler shape this
    module exists to avoid).

    1. ``order_bucket_column`` assigns each row a DETERMINISTIC
       order-contiguous bucket id over (group..., order) — literal split
       points, so within any group, bucket b's rows all precede b+1's and
       every consumer of the plan agrees on the assignment (no persist,
       no exchange-reuse dependence; see ``order_bucket_column``).
    2. Window prefix sum WITHIN (bucket, group) — one hash shuffle on
       (bucket, group), parallel across buckets.
    3. One tiny aggregation (≤ #buckets × #groups-straddling rows) yields
       per-(bucket, group) totals; their per-group exclusive prefix sum
       over bucket id — window form over that small table —
       broadcast-joins back as each (bucket, group)'s base offset. The
       offsets branch re-scans the source (columnar, pruned to the key +
       value columns) instead of caching it — at 100 TB a pruned second
       scan is far cheaper than pinning the repartitioned table in
       executor storage.

    Output: input columns + ``out_col`` (long). ``order_col`` must be
    non-null and unique within a group for a deterministic sum.

    ``uniform52=True`` declares ``order_col`` uniform in [0, 2^52) —
    hash52 priorities, the common case for md5-ordered mixtures — and
    buckets on static equal hash ranges instead of sampled splits: no
    sample job, same determinism. The bucket ignores the group (the
    window partitions by (bucket, group) anyway, and contiguity is only
    required WITHIN a group, which any monotone function of the order
    column gives).
    """
    sess = df.sparkSession
    nparts = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    if uniform52:
        bucket = _uniform52_bucket(order_col, nparts)
    else:
        keys = [(g, False) for g in group_cols] + [(order_col, False)]
        bucket = order_bucket_column(df, keys, nparts)
    base = df.withColumn("__pid", bucket)
    w_in = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn(
        "__cum_in", F.sum(value_col).over(w_in) - F.col(value_col)
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        base.groupBy("__pid", *group_cols)
        .agg(F.sum(value_col).alias("__part_tot"))
        .withColumn(
            "__part_off", F.sum("__part_tot").over(w_off) - F.col("__part_tot")
        )
        .select("__pid", *group_cols, "__part_off")
    )
    return (
        local.join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(
            out_col, (F.col("__part_off") + F.col("__cum_in")).cast("long")
        )
        .drop("__pid", "__cum_in", "__part_off")
    )


def global_row_number(
    df: DataFrame, order_by: list, out_col: str = "rn",
    uniform52: bool = False,
) -> DataFrame:
    """0-based GLOBAL row number in ``order_by`` order without the
    single-task global window (`Window.orderBy(...)` with no partition key
    funnels the whole table through one reducer): the row-count special
    case of the two-phase distributed prefix sum.

    1. ``order_bucket_column`` assigns a deterministic order-contiguous
       bucket id from literal split points (bucket b wholly precedes
       b+1; pure function of the data — consistent across the two
       consumers below with no persist and no exchange-reuse dependence).
    2. ``row_number`` WITHIN each bucket (window keyed by bucket id —
       parallel, one hash shuffle), plus a broadcast exclusive prefix of
       the per-bucket row counts (≤ #buckets rows) as each bucket's base;
       the counts branch re-scans the source pruned to the key columns.

    ``order_by`` items are column names (ascending) or
    ``("name", "desc")`` tuples; together they must form a total order
    over non-null keys for a deterministic numbering.

    ``uniform52=True`` declares the FIRST order column ascending-uniform
    in [0, 2^52) (a hash52 — the pseudo-random shuffle order) and takes
    static equal hash-range buckets: no sample job, same determinism."""
    keys = _norm_order_by(order_by)
    sess = df.sparkSession
    nparts = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    if uniform52:
        assert not keys[0][1], "uniform52 requires the hash column ascending"
        bucket = _uniform52_bucket(keys[0][0], nparts)
    else:
        bucket = order_bucket_column(df, keys, nparts)
    base = df.withColumn("__pid", bucket)
    w_in = Window.partitionBy("__pid").orderBy(*_sort_exprs(keys))
    local = base.withColumn("__rn_in", F.row_number().over(w_in) - 1)
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        base.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__part_n"))
        .withColumn("__part_off", F.sum("__part_n").over(w_off) - F.col("__part_n"))
        .select("__pid", "__part_off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__part_off") + F.col("__rn_in")).cast("long"))
        .drop("__pid", "__rn_in", "__part_off")
    )


def exact_n_sample(
    df: DataFrame, n: int, key_col: str, salt: str = ""
) -> DataFrame:
    """Deterministic global sample of EXACTLY min(n, count) rows: the n
    rows whose md5 hash of (salt, key) is globally smallest. Fractional
    samplers (stratified_sample) can't hit an exact row budget; this is
    the "give me exactly 10k eval documents, stable across runs and
    cluster sizes" primitive.

    Scale shape: orderBy(hash).limit(n) plans as TakeOrderedAndProject —
    each task keeps its local n smallest, the driver merges heaps; the
    input is never globally sorted and no task materializes more than n
    rows. Adds ``__h`` is NOT retained — output schema equals input.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    return (
        df.withColumn("__h", h)
        .orderBy("__h", key_col)
        .limit(n)
        .drop("__h")
    )


def colocated_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Join two identically-bucketed tables (see ``write_bucketed``) as a
    sort-merge join. The MERGE hint pins SMJ so the plan demonstrates the
    bucketing (broadcast would also be shuffle-free for a small side, but
    the 100 TB case is two FACT tables, where broadcast is impossible);
    with matching (bucket_col, n_buckets) on both sides the physical plan
    contains no Exchange and no Sort — asserted in test_scale_plans."""
    return left.hint("merge").join(right, on, how)


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weight-proportional sample without replacement
    (priority sampling, Duffield-Lund-Thorup 2007): each row gets priority
    ``w / u`` with ``u = (hash52(key)+1) / 2^52`` uniform on (0, 1], and
    the k largest priorities win — rows are included with probability
    proportional to weight (min(w/τ, 1) for the (k+1)-largest threshold
    τ), which is what a token-budget corpus selector wants when long
    documents should be kept proportionally more often.

    Determinism contract (the md5-hash tier used everywhere here): u is
    EXACT in double (h+1 ≤ 2^52; division by a power of two), and the
    priority is one correctly-rounded IEEE multiply+divide, so every
    engine orders identically — no RNG, repartition-stable, and the
    DuckDB oracle replays it bit-for-bit.

    Plans as TakeOrderedAndProject (per-partition heap of k, k-row driver
    merge) — no global sort, no full shuffle; the rank window after the
    limit touches only k rows. Scale-safe for any input size and small k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from hive_cassandra_spark.operators.sketches import hash52

    pri = (
        F.col(weight_col).cast("double") * float(1 << 52)
    ) / (hash52(F.col(key_col).cast("string")) + 1).cast("double")
    top = (
        df.withColumn("__pri", pri)
        .orderBy(F.desc("__pri"), F.col(key_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("__pri"), F.col(key_col))
    return top.withColumn("rank", F.row_number().over(w)).drop("__pri")


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns'
    low ``bits`` bits: bit i of x lands at position 2i, bit i of y at
    2i+1. Pure integer arithmetic (div/mod/multiply — no engine bitwise
    builtins), so whole-stage codegen folds it and an ANSI-SQL oracle
    replays it exactly.

    Rows close in z are close in BOTH dimensions, so range-partitioning
    files by z gives every file tight min/max on x AND y — parquet
    row-group pruning then works for predicates on either dimension,
    where a single-column sort only prunes its own column. This is the
    multi-dimensional analogue of the reference's token-ordered scan
    locality (one clustering order, one dimension)."""
    # pmod, not %: Spark's % keeps the dividend's sign, which would send
    # negative keys to negative "bit" values; pmod wraps them into
    # [0, 2^bits) so the interleave below (floor-div + pmod per bit) is
    # total. DuckDB's // and % on the wrapped non-negative value agree.
    x = F.pmod(x.cast("long"), F.lit(1 << bits))
    y = F.pmod(y.cast("long"), F.lit(1 << bits))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + ((x / (1 << i)).cast("long") % 2) * (1 << (2 * i))
            + ((y / (1 << i)).cast("long") % 2) * (1 << (2 * i + 1))
        )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Cluster ``df`` into ``n_files`` parquet files by Z-order of
    (x_col, y_col): repartitionByRange on the z key (one range exchange,
    sampled bounds) + in-file sort. Each file covers a compact z-range ⇒
    tight per-file min/max stats on both dimensions ⇒ file/row-group
    skipping for filters on either column (asserted against the footer
    stats in test_relational)."""
    z = zorder_key(F.col(x_col), F.col(y_col), bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic global dataset shuffle + balanced shard assignment —
    the training-order primitive: rows get a pseudo-random total order
    (md5 of salt|key, ties broken by the key), a 0-based global position
    in that order, and a round-robin shard ``pos % n_shards``, so shard
    sizes are equal to ±1 row and every shard is an interleaved sample of
    the whole corpus (NOT a contiguous hash range — round-robin by
    position means no shard inherits a hash-range's content bias; any
    prefix of any shard is itself an unbiased sample, which is what
    resumable training wants).

    Same determinism contract as ``deterministic_split``: membership and
    order are pure functions of (salt, key) — run-stable, engine-stable,
    cluster-size-stable; the salt re-shuffles between epochs without
    touching data. The global position comes from
    ``global_row_number``'s two-phase distributed prefix sum — never a
    single-task global window. Adds ``shuffle_pos`` and ``shard``."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from hive_cassandra_spark.operators.sketches import hash52

    h = hash52(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    ordered = global_row_number(
        df.withColumn("__h", h),
        ["__h", key_col],
        out_col="shuffle_pos",
        uniform52=True,  # __h IS hash52: static splits, no sample job
    )
    return ordered.withColumn(
        "shard", (F.col("shuffle_pos") % n_shards).cast("long")
    ).drop("__h")


def analyze_table(df: DataFrame, cols: list[str], ndv_k: int = 256) -> DataFrame:
    """ANALYZE-style statistics collection: one long-format stats row per
    column — row count, null count, exact min/max (string form), and a
    KMV-estimated distinct count (bounded ``ndv_k`` hashes per column;
    ``sketches.kmv_estimate`` arithmetic, so the estimate is exact below k
    and engine-replayable above). These are the inputs every cost-based
    choice in this package consumes — broadcast-vs-shuffle,
    brute-vs-IVF (similarity.choose_ann_strategy), salting decisions —
    and what Spark's own ``ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS`` feeds its CBO.

    Shape: the table pivots long in ONE projection (``stack`` — all
    analyzed columns in a single pass, where a per-column union would
    scan once per column), then ONE aggregation keyed by column name
    for count/nulls/min/max and one distinct+window pass for the KMV
    hashes — the input is read once per aggregation pass, both spread
    across (col, value), no driver state, no per-column collect.
    Output: (col, n_rows, n_null, min_val, max_val, k_used,
    est_ndv)."""
    from hive_cassandra_spark.operators import sketches

    if not cols:
        raise ValueError("need at least one column")
    pairs = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in cols
    )
    long_form = df.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (col, val)")
    )
    basic = long_form.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val").isNull().cast("long")).alias("n_null"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    ndv = sketches.kmv_estimate(
        sketches.kmv_hashes(
            long_form.filter(F.col("val").isNotNull()), ["col"], "val", k=ndv_k
        ),
        ["col"],
        k=ndv_k,
    ).select("col", "k_used", F.col("est_distinct").alias("est_ndv"))
    return basic.join(ndv, "col", "left").select(
        "col",
        "n_rows",
        "n_null",
        "min_val",
        "max_val",
        F.coalesce("k_used", F.lit(0)).alias("k_used"),
        F.coalesce("est_ndv", F.lit(0)).alias("est_ndv"),
    )


def histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-group equi-width histogram: ``bin = floor(((v - lo) * n_bins)
    / (hi - lo))`` clamped into [0, n_bins-1] (values outside [lo, hi)
    land in the edge bins rather than vanishing — a distribution report
    must account for every row), NULLs dropped. ONE map-side-combinable
    counting aggregation; output is bounded by groups × n_bins rows
    regardless of input size — the at-scale replacement for pulling a
    column to the driver to plot it. The bin expression is a fixed
    multiply-then-divide so every engine computes the identical IEEE
    result (the oracle replays it verbatim)."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if not hi > lo:
        raise ValueError("need hi > lo")
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * n_bins / F.lit(float(hi - lo)))
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("long")
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    k: int = 8,
) -> DataFrame:
    """Exact equi-depth (equi-height) histogram: k buckets holding equal
    row counts (±1), boundaries at exact order statistics — the
    optimizer-statistics / feature-binning complement to the equi-width
    ``histogram`` (which fixes bin WIDTH and lets counts skew; this fixes
    COUNTS and lets widths adapt, so heavy-tailed columns get resolution
    where the mass is).

    Exactness without the global-window trap: the 0-based global rank
    comes from ``global_row_number`` (two-phase distributed prefix sum —
    order-contiguous buckets from literal split points, per-bucket
    windows, broadcast offsets; never a single-task ORDER BY), the total
    N is a 1-row broadcast, and ``bucket = rank * k div N`` is BIGINT
    arithmetic (cross-engine exact — no float ratio enters the
    assignment). ``(value_col, *tiebreak_cols)`` must form a total order
    so ranks are deterministic.

    Output: (bucket, lo, hi, n_rows) — at most k rows regardless of
    input size."""
    if k < 1:
        raise ValueError("k must be >= 1")
    order_by = [value_col, *tiebreak_cols]
    numbered = global_row_number(
        df.select(value_col, *tiebreak_cols), order_by, "__rank"
    )
    total = df.select(F.count(F.lit(1)).alias("__n"))
    bucket = F.expr(f"__rank * {int(k)} div __n")
    return (
        numbered.join(F.broadcast(total))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Per-group priority sampling: ``weighted_sample``'s contract (md5
    priorities, weight-proportional, RNG-free, repartition-stable) with
    an independent k-slot draw PER GROUP — the per-source quota form a
    corpus mix actually uses ("top 10k docs per crawl, length-weighted").
    One shuffle on the group key; the rank window prunes map-side via
    WindowGroupLimit, so no reducer materializes more than ~k rows per
    group. Adds ``rank`` (1-based within the group)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from hive_cassandra_spark.operators.sketches import hash52

    pri = (
        F.col(weight_col).cast("double") * float(1 << 52)
    ) / (hash52(F.col(key_col).cast("string")) + 1).cast("double")
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("__pri"), F.col(key_col)
    )
    return (
        df.withColumn("__pri", pri)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("__pri")
    )


def analyze_sketch(
    df: DataFrame, cols: list[str], ndv_k: int = 256
) -> tuple[DataFrame, DataFrame]:
    """MERGEABLE form of ``analyze_table``: returns (basic, hashes) —
    the per-column additive aggregates (n_rows/n_null plus min/max,
    which merge by min/max) and the bounded per-column KMV hash rows.
    Two shards sketched independently merge with ``analyze_merge`` into
    the exact same state a whole-corpus pass produces — incremental
    stats maintenance for a 100 TB ingest: each new batch is sketched
    once (O(batch)), the corpus totals update in O(cols x k), and the
    corpus is NEVER rescanned. Finalize with ``analyze_finalize``."""
    from hive_cassandra_spark.operators import sketches

    if not cols:
        raise ValueError("need at least one column")
    pairs = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    long_form = df.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (col, val)")
    )
    basic = long_form.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val").isNull().cast("long")).alias("n_null"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    hashes = sketches.kmv_hashes(
        long_form.filter(F.col("val").isNotNull()), ["col"], "val", k=ndv_k
    )
    return basic, hashes


def analyze_merge(
    a: tuple[DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame],
    ndv_k: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Merge two analyze states: counts add, min/max re-reduce, KMV hash
    sets re-take the k smallest (``sketches.merge_kmv_hashes`` — the KMV
    merge is exact, so merged estimates equal whole-corpus estimates)."""
    from hive_cassandra_spark.operators import sketches

    basic = (
        a[0].unionByName(b[0])
        .groupBy("col")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null").alias("n_null"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
    )
    hashes = sketches.merge_kmv_hashes(a[1], b[1], ["col"], k=ndv_k)
    return basic, hashes


def analyze_finalize(
    state: tuple[DataFrame, DataFrame], ndv_k: int = 256
) -> DataFrame:
    """State → the ``analyze_table`` output shape: (col, n_rows, n_null,
    min_val, max_val, k_used, est_ndv)."""
    from hive_cassandra_spark.operators import sketches

    basic, hashes = state
    ndv = sketches.kmv_estimate(hashes, ["col"], k=ndv_k).select(
        "col", "k_used", F.col("est_distinct").alias("est_ndv")
    )
    return basic.join(ndv, "col", "left").select(
        "col",
        "n_rows",
        "n_null",
        "min_val",
        "max_val",
        F.coalesce("k_used", F.lit(0)).alias("k_used"),
        F.coalesce("est_ndv", F.lit(0)).alias("est_ndv"),
    )


def check_expectations(
    df: DataFrame, expectations: list[tuple]
) -> DataFrame:
    """Declarative data-quality expectation checks (the Deequ/Great-
    Expectations pattern): evaluate a list of named constraints against a
    table in ONE aggregation pass and emit a long-form report row per
    constraint (``check_name``, ``metric``, ``passed``) — the validation gate a 100 TB ingest pipeline runs before
    publishing a snapshot.

    Supported specs (name, kind, ...):

    - ``(name, "row_count_between", lo, hi)``
    - ``(name, "not_null", col)`` — completeness must be 1.0
    - ``(name, "unique", col)`` — exact distinct == non-null count
    - ``(name, "min_at_least", col, bound)``
    - ``(name, "max_at_most", col, bound)``
    - ``(name, "values_in", col, [allowed...])`` — zero violators
      (NULLs are not violations; pair with ``not_null`` to forbid them)

    Scale shape: every metric folds into a SINGLE ``agg`` over one scan —
    counts/min/max are plain map-side-combinable aggregates and the
    ``unique`` distincts ride Spark's expand-based multi-distinct
    rewrite. The result is one driver-sized row exploded into the report
    (constraint, metric, passed) — no second scan, no shuffle beyond the
    global aggregate. Pass verdicts compare counts as integers (never a
    rounded ratio), so boundary cases are exact; ``unique`` is EXACT by
    contract — for monitoring-grade approximate NDV at extreme
    cardinality use the KMV/HLL sketch tier (``analyze_table``) instead.
    """
    if not expectations:
        raise ValueError("check_expectations needs at least one constraint")
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    reports: list[F.Column] = []
    for spec in expectations:
        name, kind = spec[0], spec[1]
        key = f"__m_{name}"
        if kind == "row_count_between":
            lo, hi = spec[2], spec[3]
            metric = F.col("__n").cast("double")
            passed = (F.col("__n") >= lo) & (F.col("__n") <= hi)
        elif kind == "not_null":
            aggs.append(F.count(F.col(spec[2])).alias(key))
            metric = F.round(F.col(key) / F.greatest(F.col("__n"), F.lit(1)), 4)
            passed = F.col(key) == F.col("__n")
        elif kind == "unique":
            col = spec[2]
            aggs.append(F.countDistinct(F.col(col)).alias(key))
            aggs.append(F.count(F.col(col)).alias(f"{key}_n"))
            metric = F.col(key).cast("double")
            passed = F.col(key) == F.col(f"{key}_n")
        elif kind == "min_at_least":
            aggs.append(F.min(F.col(spec[2])).alias(key))
            metric = F.round(F.col(key).cast("double"), 4)
            passed = F.col(key) >= spec[3]
        elif kind == "max_at_most":
            aggs.append(F.max(F.col(spec[2])).alias(key))
            metric = F.round(F.col(key).cast("double"), 4)
            passed = F.col(key) <= spec[3]
        elif kind == "values_in":
            col, allowed = spec[2], spec[3]
            viol = F.when(
                F.col(col).isNotNull()
                & ~F.col(col).isin(*allowed), F.lit(1)
            )
            aggs.append(F.count(viol).alias(key))
            metric = F.col(key).cast("double")
            passed = F.col(key) == 0
        else:
            raise ValueError(f"unknown expectation kind: {kind}")
        reports.append(
            F.struct(
                F.lit(name).alias("check_name"),
                metric.alias("metric"),
                passed.alias("passed"),
            )
        )
    return (
        df.agg(*aggs)
        .select(F.explode(F.array(*reports)).alias("r"))
        .select("r.check_name", "r.metric", "r.passed")
        .orderBy("check_name")
    )


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    target_mb: int = 128,
) -> dict:
    """OPTIMIZE-style small-file compaction: rewrite a fragmented parquet
    directory into ``ceil(total_bytes / target)`` size-targeted files —
    the lakehouse maintenance pass every table accumulating streaming or
    per-task writes eventually needs (thousands of KB-sized files turn
    every scan into an open/footer/seek storm and blow the driver's
    split-planning memory; the fix is periodic bin-packing, Delta/Iceberg
    ``OPTIMIZE``).

    Sizing comes from a driver-side FileSystem listing — a manifest-level
    operation (one RPC per file entry, no data read), exactly how real
    OPTIMIZE implementations plan. The rewrite is ``coalesce`` — merging
    partitions WITHOUT a shuffle (pure packing moves no row between
    tasks; when clustering is also wanted, that is ``zorder_write``'s
    job, which pays the range exchange deliberately). Content is
    byte-identical row-wise: same rows, fewer files.

    Returns a stats dict (files/bytes before and after, target) for
    manifests and tests; read the compacted path for the data.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _list(path: str) -> tuple[int, int]:
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            raise ValueError(f"no parquet files under {path}")
        n = b = 0
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isFile() and name.endswith(".parquet"):
                n += 1
                b += st.getLen()
        return n, b

    n_before, bytes_before = _list(src_path)
    if n_before == 0:
        raise ValueError(f"no parquet files under {src_path}")
    target_bytes = target_mb * 1024 * 1024
    n_files = max(1, -(-bytes_before // target_bytes))
    (
        spark.read.parquet(src_path)
        .coalesce(int(n_files))
        .write.mode("overwrite")
        .parquet(dst_path)
    )
    n_after, bytes_after = _list(dst_path)
    return {
        "files_before": n_before,
        "bytes_before": bytes_before,
        "files_after": n_after,
        "bytes_after": bytes_after,
        "target_mb": target_mb,
    }


def incremental_agg(
    base_agg: DataFrame,
    delta: DataFrame,
    keys: list[str],
    value_col: str = "value",
    weight_col: str | None = None,
    scale: int = 100,
) -> DataFrame:
    """Incremental view maintenance for additive aggregates: fold a CDC
    delta into a MAINTAINED aggregate without rescanning the base data —
    cost is O(|base_agg| + |delta|), never O(base source). This is the
    aggregate-level complement of q129's table-level CDC apply, and the
    reason maintained rollups stay cheap at 100 TB: the base source is
    never re-read, only the (groups-sized) aggregate and the day's delta.

    ``base_agg`` carries (keys…, n_rows, sum_cents) — the same shape this
    function outputs, so maintenance composes day after day. ``delta`` is
    raw rows; ``weight_col`` (±1) makes retractions first-class: a delete
    arrives as weight -1 and subtracts exactly what its insert added
    (fixed-point cents, so the arithmetic is exact and order-free).
    Groups whose count reaches zero are dropped — matching what a full
    recompute over the corrected source would produce, which is the IVM
    correctness contract (and exactly what the q165 oracle checks).

    Plan: one hash aggregate over the delta, one unionByName, one merge
    aggregate on the keys — map-side combinable, no join, no window.
    """
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    cents = F.round(F.col(value_col) * scale).cast("long")
    d = delta.groupBy(*keys).agg(
        F.sum(w).alias("n_rows"),
        F.sum(cents * w).alias("sum_cents"),
    )
    merged = (
        base_agg.select(*keys, "n_rows", "sum_cents")
        .unionByName(d)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )
    return merged.filter(F.col("n_rows") > 0)


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 1,
    min_support_ppm: int | None = None,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Market-basket pair mining: co-occurrence support and exact lift
    for every item pair sharing a basket — the classic warehouse
    affinity analysis (and the bigram-table builder's set-valued
    cousin; q144's collocations are the sequence form).

    Plan shape at 100 TB: one DISTINCT (basket, item) exchange, a
    self-equi-join ON THE BASKET KEY (co-partitioned — both sides share
    the distinct's hash exchange), a map-side-combinable pair count,
    then two broadcast joins of the (items-sized) support table and a
    one-row broadcast N probe. Pair fanout per basket is C(k, 2);
    ``max_basket_size`` EXCLUDES oversized baskets from pairing (the
    standard cap in distributed frequent-itemset mining — a single
    million-item basket would otherwise emit half a trillion pairs),
    with exclusion a deterministic, oracle-replayable rule rather than
    a silent truncation.

    Lift is exact fixed-point: ``lift_ppm = (1e6 · N · c_ab) div
    (c_a · c_b)`` — all BIGINT, one floor division, engine-identical.
    Output: (item_a, item_b, support, lift_ppm) with item_a < item_b,
    filtered to ``support >= min_support``; ``min_support_ppm`` adds
    the standard RELATIVE threshold — support ≥ ceil(ppm·N/1e6) —
    which keeps the same selectivity as the corpus grows (an absolute
    count is meaningless across data scales). The ceiling is exact
    integer arithmetic, so both thresholds replay cross-engine.
    """
    b = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    if max_basket_size is not None:
        sizes = b.groupBy("basket").agg(F.count(F.lit(1)).alias("__k"))
        b = (
            b.join(sizes, "basket")
            .filter(F.col("__k") <= max_basket_size)
            .drop("__k")
        )
    n = b.select("basket").distinct().groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )
    item_supp = b.groupBy("item").agg(F.count(F.lit(1)).alias("c_item"))
    a1 = b.select("basket", F.col("item").alias("item_a"))
    a2 = b.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a1.join(a2, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    if min_support_ppm is not None:
        pairs = (
            pairs.crossJoin(F.broadcast(n))
            .filter(
                F.col("support")
                >= F.expr(f"(n * {int(min_support_ppm)} + 999999) div 1000000")
            )
            .drop("n")
        )
    ca = item_supp.select(
        F.col("item").alias("item_a"), F.col("c_item").alias("c_a")
    )
    cb = item_supp.select(
        F.col("item").alias("item_b"), F.col("c_item").alias("c_b")
    )
    # NO broadcast hint on the item-support joins: the item catalog is
    # data-sized (a 100 TB event log's distinct items can reach billions),
    # so a forced hint would override the threshold and OOM — AQE
    # broadcasts while it fits and shuffle-joins on the item key when it
    # doesn't (the r10-verdict q193 lesson). The 1-row n stays hinted.
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "support",
            F.expr("(1000000 * n * support) div (c_a * c_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )


def table_diff(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two versions of a keyed table — the
    change-data-FEED generator (the inverse of the q129 CDC *apply*):
    classify every key as ``insert`` (new in ``after``), ``delete``
    (gone from ``after``), or ``update`` (present in both with any
    compared column differing, NULL-aware); unchanged keys are filtered
    out, so the output is the delta a downstream ``incremental_agg`` /
    CDC apply consumes, and the tool a data-regression check diffs two
    snapshot reads with.

    One full-outer equi-join on the keys — both sides shuffle once on
    the same key hash, the classification is a codegen projection, and
    the output is delta-sized, not table-sized. Output columns:
    keys…, ``op``, then ``<col>_before`` / ``<col>_after`` for every
    compared column (NULL on the absent side).
    """
    if not compare_cols:
        raise ValueError("table_diff needs at least one compare column")
    b = before.select(
        *keys,
        F.lit(True).alias("__in_b"),
        *[F.col(c).alias(f"{c}_before") for c in compare_cols],
    )
    a = after.select(
        *keys,
        F.lit(True).alias("__in_a"),
        *[F.col(c).alias(f"{c}_after") for c in compare_cols],
    )
    j = b.join(a, keys, "full_outer")
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"{c}_before").eqNullSafe(F.col(f"{c}_after"))
        changed = ne if changed is None else (changed | ne)
    op = (
        F.when(F.col("__in_b").isNull(), F.lit("insert"))
        .when(F.col("__in_a").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            "op",
            *[
                F.col(f"{c}_{side}")
                for c in compare_cols
                for side in ("before", "after")
            ],
        )
    )


def zorder_key_n(cols: list, bits: int = 10):
    """N-dimensional Morton (Z-order) interleave — the ``OPTIMIZE
    ZORDER BY (a, b, c)`` generalization of ``zorder_key``: bit i of
    dimension d lands at position i·N + d, so files range-partitioned
    on the key carry tight min/max on EVERY listed column and parquet
    row-group pruning serves predicates on any of them. Same exactness
    contract as the 2-D key: pure div/mod/multiply integer arithmetic
    (pmod-wrapped into [0, 2^bits)), folded by whole-stage codegen and
    replayable verbatim by an ANSI-SQL oracle.

    Key width is N·bits — keep it ≤ 62 (3 dims × 20 bits, 6 dims × 10
    bits); more dimensions dilute clustering quality anyway (each file
    spans 2^(bits - file_bits/N) of every dimension), which is why
    lakehouse OPTIMIZE guidance caps ZORDER BY at a handful of columns.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key_n needs at least 2 columns")
    if n * bits > 62:
        raise ValueError(
            f"{n} dims x {bits} bits = {n * bits} key bits > 62 — "
            "reduce bits or dimensions"
        )
    wrapped = [F.pmod(c.cast("long"), F.lit(1 << bits)) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, w in enumerate(wrapped):
            z = z + ((w / (1 << i)).cast("long") % 2) * (
                1 << (i * n + d)
            )
    return z
