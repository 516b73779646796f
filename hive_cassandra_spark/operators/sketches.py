"""Distributed, DETERMINISTIC sketches (SURVEY.md §2.C extension): KMV
(k-minimum-values) distinct-count estimation and a bottom-k-sample
quantile sketch.

Why KMV and not HyperLogLog: Spark's ``approx_count_distinct`` (HLL++) and
DataSketches HLL are engine-specific — their estimates cannot be replicated
bit-for-bit by an ANSI-SQL oracle, so they would downgrade the correctness
gate to a rows-only check. KMV ("distinct sampling" / bottom-k, Bar-Yossef
et al. 2002) has the same one-pass, mergeable, bounded-state profile but is
a pure function of an md5-derived hash both engines compute identically, so
the gate proves the DISTRIBUTED sketch equals the oracle's serial one.

Scale posture (the reason a 100 TB engine carries a sketch at all):

- state per group is k hashes (k=64 → ~512 bytes), independent of input
  size; exact ``count(DISTINCT x)`` shuffles every distinct value.
- construction is (1) a map-side-combinable distinct on (group, hash) —
  duplicates of a value collapse inside each task before any exchange —
  then (2) a per-group sort window that keeps the k smallest. The window
  input is ALREADY distinct hashes, i.e. at most one row per distinct
  value, and Spark's window sort spills; no collect, no driver state.
- sketches MERGE: union two groups' k-minimum sets and re-take the k
  smallest (``merge_kmv_hashes``) — the partial-aggregate property that
  lets per-day sketches roll up to per-month without rescanning, exactly
  like q76's mergeable MinHash signatures.

Hash: the top 52 bits of md5 (13 hex chars) as a BIGINT. Both engines
agree exactly (Spark ``conv(substr(md5(x),1,13),16,10)``; DuckDB
``CAST('0x' || substr(md5(x),1,13) AS BIGINT)``), 52 bits keeps every
integer exact even if a reader round-trips through a double, and
(k-1)·2^52 stays well inside BIGINT for the estimator arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

HASH_SPACE = 1 << 52  # top 52 bits of md5 → hashes uniform on [0, 2^52)


def hash52(col: Column) -> Column:
    """Deterministic 52-bit hash of a value's string form, identical across
    Spark and DuckDB (see module docstring)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast(
        "long"
    )


def kmv_hashes(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The sketch itself: per group, the k smallest distinct 52-bit hashes
    of ``value_col``. Returns (group..., h) with ≤ k rows per group —
    bounded state, mergeable via ``merge_kmv_hashes``."""
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    distinct_h = (
        df.select(*group_cols, hash52(F.col(value_col)).alias("h")).distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        distinct_h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def merge_kmv_hashes(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Merge two KMV sketches: union the hash sets and keep each group's k
    smallest again. merge(kmv(A), kmv(B)) == kmv(A ∪ B) exactly — the
    k-minimum set of a union depends only on the operands' k-minimum sets."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        a.unionByName(b)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_estimate(
    hashes: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimate from a ``kmv_hashes`` table. INTEGER-ONLY
    arithmetic so both engines agree bit-for-bit: with fewer than k hashes
    the sketch saw every distinct value and the count is exact; otherwise
    the classic KMV estimator (k-1) / normalized-kth-minimum, computed as
    ``(k-1)·2^52 div h_k`` in BIGINT (h_k ≥ 1 guard: a genuine zero hash
    has probability 2^-52; ``greatest`` keeps the expression total)."""
    scaled = (k - 1) * HASH_SPACE
    return (
        hashes.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_hash"))
        .select(
            *group_cols,
            "k_used",
            "kth_hash",
            F.when(F.col("k_used") < k, F.col("k_used"))
            .otherwise(
                F.expr(f"{scaled} div greatest(kth_hash, 1L)")
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """One-shot per-group distinct estimate: sketch + estimator."""
    return kmv_estimate(kmv_hashes(df, group_cols, value_col, k), group_cols, k)


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Set-operation estimates between two KMV sketches per group — the
    theta-sketch A∪B / A∩B / Jaccard surface from two ``kmv_hashes``
    tables that never saw each other's raw data:

    - ``est_union``  from ``merge_kmv_hashes`` — EXACTLY the sketch of
      A ∪ B (the proven merge identity), so union carries full sketch
      accuracy;
    - ``est_inter``  by inclusion–exclusion, floored at 0 (direct
      θ-intersection has lower variance but needs float normalization;
      inclusion–exclusion keeps every step in the INTEGER-ONLY estimator
      both engines replay bit-for-bit);
    - ``jaccard_pct`` = 100·inter ÷ union (integer).

    Groups present on only one side get 0 for the missing estimate (full
    alignment via the union sketch, which has every group by construction).
    All inputs are ≤ k rows per group, so the whole operation is
    sketch-sized — at 100 TB you compute the sketches once (one bounded
    shuffle each, possibly on different clusters or days: they are
    mergeable partial aggregates) and compare them for pennies."""
    union = kmv_estimate(merge_kmv_hashes(a, b, group_cols, k), group_cols, k)
    ea = kmv_estimate(a, group_cols, k).select(
        *group_cols, F.col("est_distinct").alias("est_a")
    )
    eb = kmv_estimate(b, group_cols, k).select(
        *group_cols, F.col("est_distinct").alias("est_b")
    )
    out = (
        union.select(*group_cols, F.col("est_distinct").alias("est_union"))
        .join(ea, group_cols, "left")
        .join(eb, group_cols, "left")
        .withColumn("est_a", F.coalesce(F.col("est_a"), F.lit(0)).cast("long"))
        .withColumn("est_b", F.coalesce(F.col("est_b"), F.lit(0)).cast("long"))
    )
    inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
    ).cast("long")
    return out.select(
        *group_cols,
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_inter"),
        F.floor(inter * 100 / F.greatest(F.col("est_union"), F.lit(1)))
        .cast("long")
        .alias("jaccard_pct"),
    )


# ------------------------------------------------------------------------
# Bloom filter: deterministic membership sketch. The runtime-filter
# pattern for 100 TB joins — when the "small" side's key set is too big to
# broadcast as data, its bloom BITS are still tiny (n_words × 8 bytes,
# independent of key count), so the fact table can be prefiltered with a
# single broadcast and ZERO shuffle; false positives then resolve in a
# much smaller exact join. md5-derived positions, so Spark and an ANSI
# oracle compute bit-identical filters; merge = bitwise OR (partial
# filters compose, like every sketch in this module).
# ------------------------------------------------------------------------

# 62 usable bits per word: bit index ≤ 61 keeps 1<<bit inside signed
# BIGINT in BOTH engines (DuckDB raises on 1<<63 overflow).
BLOOM_BITS_PER_WORD = 62


def _bloom_positions(col: Column, k: int, n_words: int):
    """The k (word, bit) positions of a key: hash_i = 52-bit md5 of
    'i:key', reduced mod the filter's bit size."""
    size = n_words * BLOOM_BITS_PER_WORD
    for i in range(k):
        h = hash52(F.concat(F.lit(f"{i}:"), col.cast("string"))) % size
        yield (h / BLOOM_BITS_PER_WORD).cast("long"), h % BLOOM_BITS_PER_WORD


def bloom_build(
    df: DataFrame, key_col: str, n_words: int = 16, k: int = 4
) -> DataFrame:
    """Build the filter: one row per word, (word_idx, bits) — bits is the
    OR of 1<<bit over every key position landing in that word. One
    map-side-combinable aggregation; output is ≤ n_words rows regardless
    of key count."""
    pos = []
    for w, b in _bloom_positions(F.col(key_col), k, n_words):
        pos.append(F.struct(w.alias("word_idx"), b.alias("bit")))
    exploded = df.select(F.explode(F.array(*pos)).alias("p")).select(
        "p.word_idx", "p.bit"
    )
    # SQL form: the shiftleft Python wrapper only takes a literal count
    return exploded.groupBy("word_idx").agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(bit as int)))").alias(
            "bits"
        )
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_words: int = 16,
    k: int = 4,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Probe: flag each row whether ALL k of its positions are set. The
    filter is collapsed to ONE row holding the words as an array (missing
    words → 0) and broadcast — the probe side is a pure zero-shuffle
    expression over that single crossed-in row. No false negatives;
    false-positive rate ~(1 - e^{-kn/m})^k."""
    size = n_words * BLOOM_BITS_PER_WORD
    words = F.array(
        *[
            F.coalesce(
                F.max(F.when(F.col("word_idx") == i, F.col("bits"))),
                F.lit(0).cast("long"),
            )
            for i in range(n_words)
        ]
    ).alias("__bloom_words")
    one_row = bloom.groupBy().agg(words)
    probed = df.crossJoin(F.broadcast(one_row))
    hcols = []
    for i in range(k):
        hc = f"__bh{i}"
        probed = probed.withColumn(
            hc,
            hash52(F.concat(F.lit(f"{i}:"), F.col(key_col).cast("string")))
            % size,
        )
        hcols.append(hc)
    # SQL-form bit test (the shiftright Python wrapper only takes a
    # literal count): word div/bit extraction in pure integer arithmetic
    tests = [
        F.expr(
            f"(shiftright(element_at(__bloom_words, "
            f"cast({hc} div {BLOOM_BITS_PER_WORD} + 1 as int)), "
            f"cast({hc} % {BLOOM_BITS_PER_WORD} as int)) % 2) = 1"
        )
        for hc in hcols
    ]
    member = tests[0]
    for t in tests[1:]:
        member = member & t
    return probed.withColumn(out_col, member).drop("__bloom_words", *hcols)


# ------------------------------------------------------------------------
# Quantile sketch: bottom-k uniform row sample (same deterministic-hash
# family as KMV — Cohen & Kaplan's bottom-k sampling), the scale-safe
# replacement for exact F.percentile whose aggregation buffer holds EVERY
# group value (the one `weak`-for-100-TB item in the round-3 verdict).
# ------------------------------------------------------------------------


def quantile_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """Per group, a uniform sample of ≤ k ROWS — the rows whose 52-bit hash
    of ``key_col`` (a unique row key, so duplicates of a value each get an
    independent coin) is among the group's k smallest. Returns
    (group..., h, v): bounded state, one shuffle (the rank window), and
    mergeable via ``merge_quantile_sketch`` — per-partition sketches
    compose to the global one, so per-day sketches roll up to per-month
    without rescanning. Ties on h are broken by v; equal (h, v) pairs are
    interchangeable, so the sampled VALUE multiset is deterministic."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keyed = df.select(
        *group_cols,
        hash52(F.col(key_col)).alias("h"),
        F.col(value_col).alias("v"),
    )
    w = Window.partitionBy(*group_cols).orderBy("h", "v")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def merge_quantile_sketch(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Merge two bottom-k row samples: union and re-take each group's k
    hash-smallest rows. merge(sketch(A), sketch(B)) == sketch(A ∪ B) for
    disjoint row sets — the global bottom-k is contained in the union of
    the operands' bottom-k sets. (No distinct: rows are legitimate
    duplicates when values collide.)"""
    w = Window.partitionBy(*group_cols).orderBy("h", "v")
    return (
        a.unionByName(b)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def quantile_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    quantiles: list[tuple[str, int, int]] = (
        ("p25", 25, 100),
        ("p50", 50, 100),
        ("p75", 75, 100),
    ),
) -> DataFrame:
    """Discrete quantiles from a ``quantile_sketch`` table: per group, sort
    the sampled values and pick the element at index ⌊(n-1)·p⌋ (0-based) —
    no interpolation, so the answer is an actual stored value and
    bit-exact across engines (INTEGER-ONLY index arithmetic; ``quantiles``
    entries are (output_name, numerator, denominator)). Returns
    (group..., n_sample, <name>...)."""
    w = Window.partitionBy(*group_cols).orderBy("v", "h")
    n_w = Window.partitionBy(*group_cols)
    ranked = sketch.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(n_w)
    )
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"1 + ((n - 1) * {num}) div {den}"),
                F.col("v"),
            )
        ).alias(name)
        for name, num, den in quantiles
    ]
    return ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sample"), *aggs
    )


# ------------------------------------------------------------------------
# Heavy hitters: EXACT frequent items in two bounded-memory passes — the
# Misra-Gries candidate sweep plus an exact confirmation count. The sketch
# does candidate GENERATION only, so the final answer is exact and
# oracle-comparable (unlike a raw MG/count-min readout, whose counts are
# approximate and partition-order-dependent).
# ------------------------------------------------------------------------


def mg_candidates(df: DataFrame, col: str, capacity: int = 512) -> DataFrame:
    """Per-partition Misra-Gries summaries, unioned. Guarantee: any value
    whose GLOBAL frequency exceeds N/(capacity+1) appears in the output —
    if a value is absent from partition p's summary, its count there is
    ≤ N_p/(capacity+1); summing over partitions bounds its global count.

    Batch-form MG inside ``mapInPandas`` (Arrow-vectorized value_counts
    per batch, then one threshold-subtraction when the dict overflows —
    every subtraction event removes ≥ m·(capacity+1) total mass, which is
    what preserves the per-partition bound). State is ≤ ~2×capacity
    entries per task regardless of input size; output ≤ capacity rows per
    partition. No shuffle at all — the union IS the per-partition yield.
    """
    import pandas as pd

    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    def mg(batches):
        counts: dict = {}
        for pdf in batches:
            for v, c in pdf[col].dropna().value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > capacity:
                m = sorted(counts.values(), reverse=True)[capacity]
                counts = {v: c - m for v, c in counts.items() if c > m}
        yield pd.DataFrame({col: list(counts.keys())})

    return df.select(col).mapInPandas(mg, schema=f"{col} string")


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_count_num: int,
    min_count_den: int,
    capacity: int = 512,
) -> DataFrame:
    """All values of ``col`` with frequency ≥ N·min_count_num/min_count_den
    (N = total rows), with their EXACT counts. Requires
    min_count_num/min_count_den > 1/(capacity+1) so the Misra-Gries
    candidate union provably contains every qualifying value.

    Two passes over the input, both bounded: (1) ``mg_candidates`` — no
    shuffle; (2) one counting aggregation where every non-candidate
    collapses into a single NULL group map-side (count partials combine,
    so the lumped group is NOT a hot key) — the shuffle carries
    ≤ candidates+1 rows per upstream partition. N falls out of the same
    pass (sum of all group counts), so the input is never scanned a third
    time. The threshold is INTEGER arithmetic (cnt·den ≥ N·num): bit-exact
    across engines. Output: (col, cnt), exact.
    """
    if min_count_den <= 0 or min_count_num <= 0:
        raise ValueError("threshold fraction must be positive")
    if min_count_num * (capacity + 1) <= min_count_den:
        raise ValueError(
            "threshold must exceed 1/(capacity+1) for the MG guarantee"
        )
    cands = mg_candidates(df, col, capacity=capacity).distinct()
    tagged = df.select(col).join(
        F.broadcast(cands.withColumn("__cand", F.lit(True))), col, "left"
    )
    grouped = (
        tagged.groupBy(F.when(F.col("__cand"), F.col(col)).alias(col))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = grouped.groupBy().agg(F.sum("cnt").alias("__n"))
    return (
        grouped.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * min_count_den >= F.col("__n") * min_count_num)
        .select(col, "cnt")
    )


def bloom_words(bloom: DataFrame, n_words: int) -> list[int]:
    """Materialize a built filter as its ≤ ``n_words`` word list (missing
    words → 0). The ONE deliberate driver collect in this module — bounded
    at n_words rows (~KBs) independent of key count, the IVF-centroid
    precedent — so the filter can be embedded as plan literals where a
    broadcast join is unavailable or unwanted (streaming plans, runtime
    filters pushed into scans)."""
    got = {r["word_idx"]: r["bits"] for r in bloom.collect()}
    return [int(got.get(i, 0)) for i in range(n_words)]


def bloom_probe_expr(
    key: Column, words: list[int], n_words: int, k: int
) -> Column:
    """Pure-expression membership test against a literalized filter: the
    words ride the plan as an array literal, so the probe is zero-join,
    zero-shuffle, zero-state — usable in a streaming projection (where a
    per-batch cross join would add a stream-static join) or as a pushed
    runtime filter. Bit-identical to ``bloom_probe``."""
    size = n_words * BLOOM_BITS_PER_WORD
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    member = None
    for i in range(k):
        h = hash52(F.concat(F.lit(f"{i}:"), key.cast("string"))) % size
        word = F.element_at(arr, (h / BLOOM_BITS_PER_WORD).cast("int") + 1)
        # the F.shiftright wrapper takes only literal counts; the SQL
        # function itself accepts a column count — call it by name
        t = (
            F.call_function(
                "shiftright", word, (h % BLOOM_BITS_PER_WORD).cast("int")
            )
            % 2
            == 1
        )
        member = t if member is None else (member & t)
    return member


# ------------------------------------------------------------------------
# CountMin frequency sketch (Cormode & Muthukrishnan 2005). Where
# ``heavy_hitters`` answers "which values are frequent" EXACTLY with a
# second pass, CountMin answers point-frequency queries for ANY value in
# one pass with bounded state and a one-sided error (estimate >= truth) —
# and, unlike Misra-Gries summaries, two sketches MERGE by cell-wise
# addition, so per-day sketches roll up to per-month without rescanning
# (the same partial-aggregate contract as kmv/bloom/quantile above).
#
# Representation: LONG format, one row per non-zero counter cell
# (group..., d, pos, cnt) with d < depth rows of width counters. Sparse —
# at most depth x width rows per group regardless of input size, and
# empty cells cost nothing. Construction is ONE map-side-combinable
# counting aggregation over the exploded (d, pos) pairs; no window, no
# driver state. The cell coordinates are the deterministic 52-bit md5
# hash (seeded per row d), so an ANSI-SQL oracle replays the entire
# sketch bit-for-bit — the reason this is CountMin and not Spark's
# engine-private CountMinSketch class (df.stat.countMinSketch), whose
# murmur placement no oracle can reproduce.
# ------------------------------------------------------------------------


def countmin_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Build the sketch: per group, a sparse depth x width counter table
    (group..., d, pos, cnt). Each input row increments one counter per
    hash row d at ``pos = hash52(d || value) % width``. One shuffle, with
    map-side partial counts; output is bounded by depth·width rows per
    group."""
    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1 and width >= 2")
    rows = F.array(*[F.lit(d) for d in range(depth)])
    v = F.col(value_col).cast("string")
    exploded = df.select(
        *group_cols,
        F.explode(rows).alias("d"),
        v.alias("__v"),
    ).select(
        *group_cols,
        "d",
        (
            hash52(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("__v")))
            % width
        ).alias("pos"),
    )
    return (
        exploded.groupBy(*group_cols, "d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_merge(
    a: DataFrame, b: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge two sketches of the SAME (depth, width) geometry: cell-wise
    addition. merge(cm(A), cm(B)) == cm(A ++ B) exactly — counters are
    sums and sums commute with union-all."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "d", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )


def countmin_query(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-frequency estimates: for each probe row (group..., value),
    ``est = min over d of cnt[d][hash52(d||value) % width]`` (absent cell
    → 0). Classic CountMin guarantee: est >= true count always; est <=
    true + eps·N with probability 1 - (1/2)^depth for width = 2/eps.

    The probe side fans out depth rows per probe, joins the sketch on the
    full (group, d, pos) coordinate — an equi-join the planner broadcasts
    when either side is small — then one min-agg per probe. Probes are a
    DataFrame, not a literal list: runtime probe sets (e.g. yesterday's
    trending keys) stay distributed."""
    rows = F.array(*[F.lit(d) for d in range(depth)])
    v = F.col(value_col).cast("string")
    fan = probes.select(
        *group_cols,
        F.col(value_col),
        F.explode(rows).alias("d"),
    ).withColumn(
        "pos",
        hash52(F.concat(F.col("d").cast("string"), F.lit(":"), v)) % width,
    )
    joined = fan.join(sketch, [*group_cols, "d", "pos"], "left")
    return (
        joined.groupBy(*group_cols, value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# ------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — integer-exact estimator variant
# ------------------------------------------------------------------------
# The redundant-by-design sibling of the KMV sketch (same capability:
# mergeable distinct counting; HLL state is 2^p small registers instead of
# k hashes — at 100 TB a 256-register sketch per group merges in O(m)
# regardless of cardinality). Same cross-engine determinism contract as
# every sketch in this module: the register index/rank split is pure
# integer arithmetic on hash52, the rank uses floor(log2(tail)) — exact
# for tail < 2^44 because the distance from log2(2^k - 1) to k (~2^-k/ln2)
# is orders of magnitude wider than double spacing there — and the
# estimator is a single BIGINT division with a 2^20-scaled alpha constant,
# so DuckDB replays the estimate bit-for-bit. Deliberate deviation from
# the paper: NO small-range (linear-counting) correction, because ln() is
# not integer-replayable; the raw estimator's small-range bias is part of
# this sketch's documented contract, and the oracle gates the exact same
# formula. (Spark's own approx_count_distinct is HLL++ with an engine-
# private register layout no oracle can reproduce — same reason CountMin
# above is hand-rolled.)

HLL_P = 8  # 2^8 = 256 registers; tail width 52-8 = 44 bits
_HLL_M = 1 << HLL_P
_HLL_TAIL_BITS = 52 - HLL_P
_HLL_RHO_MAX = _HLL_TAIL_BITS + 1  # rank when the tail is all zeros
# alpha_256 = 0.7213 / (1 + 1.079/256), fixed-point scaled by 2^20
_HLL_ALPHA_2_20 = 753163
# Small-range (linear-counting) correction WITHOUT runtime ln(): with
# m = 256 registers the correction m*ln(m/zeros) has only 256 possible
# inputs, so it is a precomputed INTEGER lookup table — evaluated here
# once with Python's math.log and baked into the plan (and the oracle
# SQL) as literals, keeping the estimator fully integer-replayable.
import math as _math

_HLL_LC = [
    int(round(_HLL_M * _math.log(_HLL_M / zeros)))
    for zeros in range(1, _HLL_M + 1)
]


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HLL register maxima: (group..., idx, rho) with at most
    2^p rows per group. idx is the top p bits of hash52; rho is the
    1-based position of the highest set bit missing from the 44-bit tail
    (leading-zero count + 1). One map-side-combined aggregation; absent
    registers mean rho 0 and are materialized only at estimate time."""
    h = hash52(F.col(value_col))
    tail = h % (1 << _HLL_TAIL_BITS)
    rho = F.when(tail > 0, _HLL_TAIL_BITS - F.floor(F.log2(tail))).otherwise(
        F.lit(_HLL_RHO_MAX)
    )
    return (
        df.select(
            *group_cols,
            (h / (1 << _HLL_TAIL_BITS)).cast("long").alias("idx"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two register tables: register-wise max — the HLL merge is
    lossless (merge-then-estimate equals estimate-of-union), which is the
    whole reason to ship registers between shards instead of raw keys."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Integer-exact raw-HLL estimate per group.

    sum(2^-rho_j) over all m registers is represented exactly as
    S = sum(2^(RHO_MAX - rho_j)) + (m - hit) * 2^RHO_MAX  (a BIGINT:
    <= 256 * 2^45 = 2^53), and the estimate alpha*m^2/sum(2^-rho) becomes
    one integer division (ALPHA_2_20 * m^2 * 2^(RHO_MAX-20)) div S with a
    numerator ~2^60.5 — still BIGINT. Below the 2.5m small-range
    threshold the paper's linear-counting correction m*ln(m/zeros)
    applies via the precomputed integer table (raw HLL overestimates
    small sets ~3x; measured 219 for a true 64 before the table). No
    floats anywhere after the floor(log2) rank."""
    numer = _HLL_ALPHA_2_20 * _HLL_M * _HLL_M * (1 << (_HLL_RHO_MAX - 20))
    lc = F.array(*[F.lit(v) for v in _HLL_LC])
    raw = F.expr(
        f"{numer} div (s_hit + ({_HLL_M} - hit) * "
        f"cast({1 << _HLL_RHO_MAX} as bigint))"
    )
    zeros = _HLL_M - F.col("hit")
    est = F.when(
        (raw <= int(2.5 * _HLL_M)) & (zeros > 0),
        F.element_at(lc, zeros.cast("int")),
    ).otherwise(raw)
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("hit"),
            F.sum(
                F.expr(f"cast(pow(2, {_HLL_RHO_MAX} - rho) as bigint)")
            ).alias("s_hit"),
        )
        .select(
            *group_cols,
            F.col("hit").cast("long").alias("registers_hit"),
            est.cast("long").alias("est_ndv"),
        )
    )
