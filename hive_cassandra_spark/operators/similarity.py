"""Similarity search over embedding columns (SURVEY.md §2.C).

Two tiers:

- ``brute_force_topk`` — exact cosine top-k: every (query, item) pair is
  scored. Correctness baseline and the right plan when |queries| is small
  (queries are broadcast; the item side streams — no shuffle of the corpus,
  per-partition top-k via the window's partial TakeOrdered).
- ``lsh_topk`` — the scale path: random-hyperplane LSH buckets both sides;
  only bucket-colliding pairs are scored. Multi-table probing trades
  compute for recall. Hyperplanes are seeded numpy, generated driver-side
  once and shipped as literals (tiny: L×H×dim doubles), so the operator
  stays deterministic and executor-local.

- ``ivf_topk`` — the second scale path: an IVF (inverted-file) index.
  Coarse centroids are the element-wise averages of deterministic
  ``pmod(id, k)`` buckets (one distributed aggregation — a single Lloyd
  step from hashed init), collected to the driver (k×dim doubles — tiny,
  the MLlib-style exception to the no-collect rule) and folded back into
  the plan as literals, so cell assignment is a narrow codegen'd
  projection: the corpus is never shuffled for indexing. Queries probe
  ``nprobe`` nearest cells; only same-cell pairs are scored.

Vector math is built-in ``zip_with``/``aggregate`` over array<double> —
JVM-side, no Python boundary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from hive_cassandra_spark.session import local_df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    Plan shape: items ⋈ broadcast(queries) — the corpus never shuffles;
    ranking is a window partitioned by query id (k small ⇒ partial
    top-k per partition under AQE). Returns
    (query_id, neighbor_id, cosine) with cosine rounded to 6.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    it = items.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("iv")
    )
    scored = (
        it.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("iv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def l2_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by squared L2 distance (self
    excluded) — the ground truth the IVF/PQ tiers approximate, so this
    is the reference side of ``ann_recall_eval``. Same plan shape as
    ``brute_force_topk``: items ⋈ broadcast(queries), corpus never
    shuffles, WindowGroupLimit top-k. d2 uses the sum-of-squares
    algebra (‖x‖² + ‖y‖² − 2⟨x,y⟩) rounded to 6 — the q148 float
    contract — with deterministic (d2 ASC, neighbor ASC) ties."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    it = items.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("iv"),
    )
    scored = it.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("qv"))
            + dot(F.col("iv"), F.col("iv"))
            - 2 * dot(F.col("qv"), F.col("iv")),
            6,
        ).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def ann_recall_eval(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate ANN ranking against the exact ground
    truth — the eval tier of the ANN family (the q172 retrieval-eval
    sibling): per query, how many of the exact top-k did the index
    return. Inputs are any two (query_id, neighbor_id, rank) frames;
    output ``(query_id, k, overlap, recall_pct)`` with the percentage in
    exact integers (100·overlap div k — no float ever). Both sides are
    k·|queries| rows regardless of corpus size, so the eval is trivially
    cheap at any scale — the cost lives in the rankings being evaluated."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    ov = e.join(a, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("overlap")
    )
    return (
        e.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.lit(k).cast("long").alias("k"),
            F.coalesce(F.col("overlap"), F.lit(0)).cast("long").alias("overlap"),
            (F.lit(100) * F.coalesce(F.col("overlap"), F.lit(0)))
            .cast("long")
            .alias("__num"),
        )
        .withColumn("recall_pct", F.expr(f"__num div {int(k)}"))
        .drop("__num")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).randn(tables, bits, dim)


def _lit_double_array(vals) -> Column:
    """Literal array<double> built with ONE expression-parse call.

    ``F.array(*[F.lit(v) ...])`` costs a py4j round-trip per element —
    thousands of driver→JVM calls for LSH/IVF constant tables (benched:
    several seconds of pure plan construction). A single ``F.expr`` string
    parses JVM-side in one call; values are reprs of Python floats, which
    Spark SQL reads back to the identical double."""
    return F.expr("array(" + ",".join(repr(float(v)) for v in vals) + ")").cast(
        "array<double>"
    )


def _bucket_cols(vec: Column, planes: np.ndarray) -> list[Column]:
    """One signature string per LSH table: the sign bits of the hyperplane
    projections, as a '0'/'1' string (a literal-folded dot product per
    bit — codegen'd, no UDF)."""
    out = []
    for table in planes:
        bits = []
        for plane in table:
            proj = dot(vec, _lit_double_array(plane))
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        out.append(F.concat(*bits))
    return out


def lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only bucket-colliding (query, item) pairs.

    Candidates = pairs agreeing on the full ``bits``-bit signature in ≥1 of
    ``tables`` tables. Join key (table, signature) is uniformly spread; the
    corpus shuffles once on it. Recall rises with ``tables`` and falls with
    ``bits`` (tested against brute force in tests/test_similarity.py).
    """
    planes = _hyperplanes(dim, bits, tables, seed)

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        sigs = _bucket_cols(v, planes)
        pairs = F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), s.alias("sig"))
                for t, s in enumerate(sigs)
            ]
        )
        return df.select(
            F.col(id_col).alias(id_alias),
            v.alias(vec_alias),
            F.explode(pairs).alias("b"),
        ).select(id_alias, vec_alias, "b.tbl", "b.sig")

    qb = with_buckets(queries, "query_id", "qv")
    ib = with_buckets(items, "neighbor_id", "iv")
    cand = (
        ib.join(qb, ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "iv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("iv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -------------------------------------------------------------------- IVF ---

def centroids(
    items: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, centroid: array<double>) — element-wise average of the vectors
    in each deterministic ``pmod(id, n)`` bucket: one Lloyd step from a
    hash-partition init. Components rounded to 6 so the centroid is stable
    across engines (summation order is not associative in IEEE doubles).

    Two shuffles on small data: posexplode→(cid,pos) partial-avg, then
    (cid) assembly. The corpus streams through once.
    """
    base = items.select(
        F.pmod(F.col(id_col), F.lit(n_centroids)).cast("int").alias("cid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    long = base.groupBy("cid", "pos").agg(F.round(F.avg("x"), 6).alias("c"))
    return long.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def _cell_cols(vec: Column, cents: list[tuple[int, list[float]]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids for ``vec`` by cosine —
    ranked with the scale-free surrogate dot(v,c)/|c|: the common 1/|v|
    factor cannot change the order, and |c| folds to a driver-side literal,
    so each centroid costs one fused multiply-add fold. Ties break toward
    the lower cid (encoded as struct(score, -cid) descending sort). Pure
    expression: no shuffle, no UDF."""
    import math

    tagged = F.array(
        *[
            F.struct(
                (
                    dot(vec, _lit_double_array(cv))
                    / F.lit(math.sqrt(sum(c * c for c in cv)))
                ).alias("cs"),
                F.lit(-cid).alias("negcid"),
            )
            for cid, cv in cents
        ]
    )
    top = F.slice(F.sort_array(tagged, False), 1, nprobe)
    return F.transform(top, lambda s: -s["negcid"])


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF index: items live in their nearest
    centroid's cell; each query probes its ``nprobe`` nearest cells and
    scores only the vectors in them.

    Scale shape: the index build never shuffles the corpus (centroids are
    literals after one small aggregation); the only corpus-sized exchange is
    the equi-join on cell id, whose key spreads as evenly as the data does
    (centroid cells ≈ balanced for hash-bucketed init). Recall rises with
    ``nprobe``; tested against brute force in tests/test_similarity.py.
    """
    cents_rows = centroids(items, n_centroids, id_col, vec_col).collect()
    cents = sorted((r.cid, list(r.centroid)) for r in cents_rows)

    it = items.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("iv"),
    ).withColumn("cell", F.element_at(_cell_cols(F.col("iv"), cents, 1), 1))
    qr = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("cell", F.explode(_cell_cols(F.col("qv"), cents, nprobe)))

    scored = (
        it.join(qr, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("iv")), 6).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ------------------------------------------------- stats-driven strategy ---

DEFAULT_BRUTE_FORCE_MAX_BYTES = 256 * 1024 * 1024


def estimated_input_bytes(df: DataFrame) -> int | None:
    """Size estimate of a DataFrame's input relation via public API only.

    Sums the on-disk size of ``df.inputFiles()`` (available under Spark
    Connect too, where ``_jdf`` does not exist). For a parquet relation this
    equals Catalyst's own ``sizeInBytes`` estimate (sum of file sizes x
    ``fileCompressionFactor``, default 1.0). Falls back to the private
    Catalyst stats probe only when file sizes are unreachable (non-file
    sources, remote filesystems without local stat); returns None when no
    estimate is obtainable."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        total, known = 0, 0
        for uri in files:
            parsed = urlparse(uri)
            if parsed.scheme in ("file", ""):
                try:
                    total += os.path.getsize(unquote(parsed.path))
                    known += 1
                except OSError:
                    pass
        if known == len(files):
            return total
    try:  # classic-mode fallback; absent under Spark Connect
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def choose_ann_strategy(
    items: DataFrame,
    brute_force_max_bytes: int = DEFAULT_BRUTE_FORCE_MAX_BYTES,
    on_unknown: str = "ivf",
) -> str:
    """'brute' or 'ivf', from a size estimate of the item side.

    This is the optional optimizer rule SURVEY.md §7 sketches ("rewrite
    similarity_topk onto an LSH/IVF pre-filter plan"), expressed at the
    library layer: below the threshold the exact broadcast-queries scan is
    both faster and exact; above it, scoring every pair is the 100 TB
    mistake and the IVF pre-filter bounds the candidate set.

    ``on_unknown`` decides when NO size estimate is obtainable (non-file
    source under Spark Connect, remote fs without stat): 'ivf' is the
    scale-safe default for open-ended pipelines; callers under an exactness
    contract (a correctness gate, a published benchmark) pass 'brute' so an
    environment quirk can never silently swap exact results for
    approximate ones."""
    if on_unknown not in ("brute", "ivf"):
        raise ValueError(f"on_unknown must be 'brute' or 'ivf', got {on_unknown!r}")
    size_in_bytes = estimated_input_bytes(items)
    if size_in_bytes is None:
        return on_unknown
    return "brute" if size_in_bytes <= brute_force_max_bytes else "ivf"


def auto_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    brute_force_max_bytes: int = DEFAULT_BRUTE_FORCE_MAX_BYTES,
    on_unknown: str = "ivf",
    **ivf_kwargs,
) -> DataFrame:
    """Top-k neighbors with the execution strategy picked from plan stats
    (see choose_ann_strategy; ``on_unknown`` pins the no-estimate fallback).
    Same output schema either way: (query_id, neighbor_id, cosine, rank)."""
    if choose_ann_strategy(items, brute_force_max_bytes, on_unknown) == "brute":
        return brute_force_topk(items, queries, k, id_col, vec_col)
    return ivf_topk(items, queries, k, id_col=id_col, vec_col=vec_col, **ivf_kwargs)


# ----------------------------------------------------- int8 quantization ---


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    qvec[i] = floor(x/scale + 0.5) (round-half-up — floor(+0.5) is exact
    and identical across engines, unlike round()'s half-even/half-away
    split). 4x memory cut on the corpus vectors — at 100 TB that is the
    difference between the ANN working set fitting executor memory or
    spilling. Cosine is invariant under per-vector scaling, so quantized
    cosine needs no dequantization at all; the scale column is kept for
    dot-product / L2 consumers that do."""
    v = F.col(vec_col).cast("array<double>")
    scale = (
        F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12))
        / F.lit(127.0)
    )
    out = df.withColumn(scale_col, scale)
    return out.withColumn(
        out_col,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("tinyint"),
        ),
    )


def quantized_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-shape brute-force top-k over int8-quantized vectors: same
    broadcast-queries plan as brute_force_topk, but the corpus side carries
    1/4 the bytes and the dot products are small exact integers (dim x
    127^2 — no float summation-order divergence). The ranking differs from
    float cosine only by quantization error (~1e-2), which is the accepted
    trade of every int8 ANN deployment."""
    qi = quantize_embeddings(items, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").cast("array<double>").alias("iv")
    )
    qq = quantize_embeddings(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").cast("array<double>").alias("qv")
    )
    scored = qi.join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("iv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_iterate(
    items: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_assign: DataFrame | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means, fully relational: hash-partition
    init (``pmod(id, k)`` — ``centroids()``'s seed step) followed by
    ``iters`` assign/update rounds; returns the final assignment
    ``(id, cid, d2)`` with the rounded squared euclidean distance to the
    assigned centroid.

    Cross-engine float contract (q113/q92 precedent): centroid
    components are avg-then-round(6) per (cluster, position); the
    assignment distance is round(6)ed BEFORE the argmin; ties break to
    the smaller cid via row_number — every decision the oracle replays
    lands on identical doubles.

    Plan shape per iteration: the long-form vectors join the (k x dim)
    long-form centroid table on position — BROADCAST (k·dim rows), so
    assignment costs one hash aggregate on (id, cid) plus the argmin
    window on id: two exchanges of N·k narrow rows, the textbook
    relational k-means cost. The centroid update re-aggregates the
    long-form vectors by (cid, pos) off the same exploded child. A
    throughput deployment would swap the positional join for the IVF
    literal-fold assignment (``_cell_cols`` — zero-shuffle, k·dim
    centroid literals in the plan, the documented driver-collect
    exception) once the oracle contract is no longer needed; the
    relational form is the one both engines replay bit-identically.
    """
    pos = items.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    # init assignment: hash buckets, or a caller-provided (id, cid)
    # seeding (e.g. kmeans_assign_to_seeds over kmeans_seed_farthest —
    # the deterministic k-means++-style alternative when hash buckets
    # would average to coincident centroids)
    if init_assign is not None:
        assign = init_assign.select("id", "cid")
    else:
        assign = items.select(
            F.col(id_col).alias("id"),
            F.pmod(F.col(id_col), F.lit(k)).cast("int").alias("cid"),
        )
    out = None
    for _ in range(iters):
        cents = (
            pos.join(assign, "id")
            .groupBy("cid", "i")
            .agg(F.round(F.avg("x"), 6).alias("c"))
        )
        scored = (
            pos.join(F.broadcast(cents), "i")
            .groupBy("id", "cid")
            .agg(
                F.sum(F.col("x") * F.col("c")).alias("dot"),
                F.sum(F.col("x") * F.col("x")).alias("nx"),
                F.sum(F.col("c") * F.col("c")).alias("nc"),
            )
            .select(
                "id",
                "cid",
                F.round(
                    F.col("nx") + F.col("nc") - 2 * F.col("dot"), 6
                ).alias("d2"),
            )
        )
        w = Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cid"))
        out = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        assign = out.select("id", "cid")
    return out


def kmeans_seed_farthest(
    items: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic farthest-point seeding (the greedy max-min variant
    of k-means++ — no RNG, so the seed set is replayable): seed 0 is
    the smallest id; each later seed is the vector maximizing its
    distance to the nearest already-chosen seed, ties to the smaller
    id. Fixes the hash-init failure mode pinned in test_similarity
    (two hash buckets averaging to the same midpoint collapse a
    cluster, which Lloyd cannot recover).

    Plan shape: k-1 rounds, each one aggregate — per vector, min d2 to
    the BROADCAST chosen-seed vectors (long-form positional join, the
    q140 shape), then a global top-1 (TakeOrdered — no full sort). The
    corpus is scanned per round; k is small and fixed, so this is k
    cheap passes, exactly how a cluster-scale implementation seeds
    (sampling-based k-means|| is the alternative when even k passes
    hurt — documented, out of scope).
    """
    pos = items.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    first = items.agg(F.min(id_col).alias("id"))
    seeds = first.select(F.lit(0).alias("cid"), "id")
    for round_no in range(1, k):
        seed_pos = pos.join(
            F.broadcast(seeds.select("id")), "id"
        ).withColumnRenamed("x", "c").withColumnRenamed("id", "sid")
        d2 = (
            pos.join(F.broadcast(seed_pos), "i")
            .groupBy("id", "sid")
            .agg(
                F.round(
                    F.sum(F.col("x") * F.col("x"))
                    + F.sum(F.col("c") * F.col("c"))
                    - 2 * F.sum(F.col("x") * F.col("c")),
                    6,
                ).alias("d2")
            )
            .groupBy("id")
            .agg(F.min("d2").alias("min_d2"))
        )
        nxt = (
            d2.orderBy(F.desc("min_d2"), F.asc("id"))
            .limit(1)
            .select(F.lit(round_no).alias("cid"), "id")
        )
        seeds = seeds.unionByName(nxt)
    return seeds


def kmeans_assign_to_seeds(
    items: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid): each vector assigned to its nearest seed vector —
    turns a ``kmeans_seed_farthest`` seed set into the init assignment
    ``kmeans_iterate`` refines. Same broadcast positional-join shape."""
    pos = items.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    seed_pos = (
        pos.withColumnRenamed("id", "seed_id")
        .join(
            F.broadcast(seeds.withColumnRenamed("id", "seed_id")), "seed_id"
        )
        .select("cid", "i", F.col("x").alias("c"))
    )
    scored = (
        pos.join(F.broadcast(seed_pos), "i")
        .groupBy("id", "cid")
        .agg(
            F.round(
                F.sum(F.col("x") * F.col("x"))
                + F.sum(F.col("c") * F.col("c"))
                - 2 * F.sum(F.col("x") * F.col("c")),
                6,
            ).alias("d2")
        )
    )
    w = Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "cid")
    )


def pq_topk(
    items: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    query_max: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization ANN (Jégou/Douze/Schmid TPAMI'11): split each
    vector into ``m`` subspaces, train a tiny per-subspace codebook
    (one deterministic Lloyd round from the hash init — the
    ``kmeans_iterate`` float contract per subspace), encode every vector
    as ``m`` code ids, and answer queries by ASYMMETRIC DISTANCE
    COMPUTATION: the query's exact distance to each centroid per
    subspace becomes an (m × k) lookup table, and an item's approximate
    distance is the sum of its codes' LUT entries.

    Why this is THE 100 TB embedding-search shape: the corpus collapses
    from N × dim floats to N × m single-byte codes (here 64 doubles →
    4 codes, a 128× working-set cut), scoring touches no vectors — just
    a broadcast m·k LUT joined on the code id — and codebook training
    aggregates (sub, cid, pos) cells whose cardinality is m·k·(dim/m),
    independent of N.

    Cross-engine float contract (q140 precedent): centroids round(avg,6)
    per (sub, cid, pos); encode and LUT distances round(6) before any
    argmin; ADC sum rounded(6); all ties break to the smaller id.

    Output: (query_id, neighbor_id, adc_d2, rank) — ``topk`` rows per
    query with vec_id < ``query_max``, self excluded.
    """
    s = None  # subspace width derived from the data below
    pos = items.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    dim_row = items.select(
        F.size(vec_col).alias("__dim")
    ).limit(1)
    # subspace width as a column (dim div m) — derived in-plan, no collect
    sp = pos.join(F.broadcast(dim_row)).select(
        "id",
        F.expr(f"i div (__dim div {int(m)})").alias("sub"),
        "i",
        "x",
    )
    assign = items.select(
        F.col(id_col).alias("id"),
        F.pmod(F.col(id_col), F.lit(k_codes)).cast("int").alias("cid"),
    )
    cents = (
        sp.join(assign, "id")
        .groupBy("sub", "cid", "i")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    d2 = F.round(
        F.sum(F.col("x") * F.col("x"))
        + F.sum(F.col("c") * F.col("c"))
        - 2 * F.sum(F.col("x") * F.col("c")),
        6,
    ).alias("d2")
    enc_d = (
        sp.join(F.broadcast(cents), ["sub", "i"])
        .groupBy("id", "sub", "cid")
        .agg(d2)
    )
    w_enc = Window.partitionBy("id", "sub").orderBy("d2", "cid")
    codes = (
        enc_d.withColumn("__rn", F.row_number().over(w_enc))
        .filter(F.col("__rn") == 1)
        .select("id", "sub", "cid")
    )
    qsub = sp.filter(F.col("id") < query_max).select(
        F.col("id").alias("query_id"), "sub", "i", F.col("x").alias("qx")
    )
    lut = (
        qsub.join(F.broadcast(cents), ["sub", "i"])
        .groupBy("query_id", "sub", "cid")
        .agg(
            F.round(
                F.sum(F.col("qx") * F.col("qx"))
                + F.sum(F.col("c") * F.col("c"))
                - 2 * F.sum(F.col("qx") * F.col("c")),
                6,
            ).alias("d2")
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= topk)
    )


def ivfpq_topk(
    items: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 8,
    query_max: int = 3,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite index (the Faiss IVFPQ shape, Jégou et al.):
    a coarse quantizer routes each vector to one of ``n_cells`` inverted
    lists, the RESIDUAL (vector − its cell centroid) is product-
    quantized into ``m`` code ids against a global codebook, and a query
    probes only its ``nprobe`` nearest cells — scoring the probed cells'
    items via a per-(query, cell) asymmetric-distance LUT over the
    query's residual in that cell.

    This is the composition every billion-vector deployment runs: IVF
    cuts the scanned fraction to ~nprobe/n_cells, PQ cuts the bytes per
    scanned item ~128×, and residual encoding recovers the accuracy a
    global PQ loses (residuals are centered near zero, so the same k
    codes cover them far more densely than raw vectors).

    Deterministic throughout (q140/q147 float contract): both quantizers
    train one Lloyd round from the ``id % k`` hash init, every distance
    rounds(6) before its argmin, ADC sums round(6), ties to smaller ids.
    Residuals are exact doubles (input − round-6 centroid — identical
    on every engine, no re-rounding needed).

    Output: (query_id, neighbor_id, adc_d2, rank) — ``topk`` rows per
    query with id < ``query_max``, self excluded; only neighbors whose
    home cell was probed appear (the IVF recall tradeoff, by design).
    """
    ix = _ivfpq_build(items, n_cells, m, k_codes, id_col, vec_col)
    qpos = ix["pos"].filter(F.col("id") < query_max).withColumnRenamed(
        "id", "query_id"
    )
    qcd = ix["cd"].filter(F.col("id") < query_max).select(
        F.col("id").alias("query_id"), "ccid", "d2"
    )
    return _ivfpq_serve(ix, qpos, qcd, nprobe, m, topk)


def _d2_of(x: str, c: str) -> Column:
    """Round-6 squared euclidean between two exploded (i, value) sides
    inside a groupBy — the q140/q147 float contract."""
    return F.round(
        F.sum(F.col(x) * F.col(x))
        + F.sum(F.col(c) * F.col(c))
        - 2 * F.sum(F.col(x) * F.col(c)),
        6,
    )


def _ivfpq_build(
    items: DataFrame,
    n_cells: int,
    m: int,
    k_codes: int,
    id_col: str,
    vec_col: str,
) -> dict:
    """The index-construction half of IVF-PQ, shared by the inline query
    (``ivfpq_topk``) and the persisted artifact (``build_ivfpq_index_occ``):
    coarse centroids, per-item cell assignments, residual PQ codebooks,
    and per-item PQ codes — all from the deterministic one-Lloyd-round
    hash-init construction the q148 oracle replays."""
    pos = items.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    dim_row = items.select(F.size(vec_col).alias("__dim")).limit(1)
    # coarse quantizer: one round from the hash init
    a0 = items.select(
        F.col(id_col).alias("id"),
        F.pmod(F.col(id_col), F.lit(n_cells)).cast("int").alias("ccid"),
    )
    cc = (
        pos.join(a0, "id")
        .groupBy("ccid", "i")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    cd = (
        pos.join(F.broadcast(cc), "i")
        .groupBy("id", "ccid")
        .agg(_d2_of("x", "c").alias("d2"))
    )
    w_cell = Window.partitionBy("id").orderBy("d2", "ccid")
    cassign = (
        cd.withColumn("__rn", F.row_number().over(w_cell))
        .filter(F.col("__rn") == 1)
        .select("id", "ccid")
    )
    # residuals under the assigned cell, split into subspaces
    res = (
        pos.join(cassign, "id")
        .join(F.broadcast(cc), ["ccid", "i"])
        .join(F.broadcast(dim_row))
        .select(
            "id",
            F.expr(f"i div (__dim div {int(m)})").alias("sub"),
            "i",
            (F.col("x") - F.col("c")).alias("r"),
        )
    )
    # global PQ codebook over residuals
    p0 = items.select(
        F.col(id_col).alias("id"),
        F.pmod(F.col(id_col), F.lit(k_codes)).cast("int").alias("pcid"),
    )
    pc = (
        res.join(p0, "id")
        .groupBy("sub", "pcid", "i")
        .agg(F.round(F.avg("r"), 6).alias("c"))
    )
    pd_ = (
        res.join(F.broadcast(pc), ["sub", "i"])
        .groupBy("id", "sub", "pcid")
        .agg(_d2_of("r", "c").alias("d2"))
    )
    w_code = Window.partitionBy("id", "sub").orderBy("d2", "pcid")
    codes = (
        pd_.withColumn("__rn", F.row_number().over(w_code))
        .filter(F.col("__rn") == 1)
        .select("id", "sub", "pcid")
    )
    return {
        "pos": pos,
        "dim": dim_row,
        "cc": cc,
        "cd": cd,
        "assign": cassign,
        "res": res,
        "pc": pc,
        "codes": codes,
    }


def _ivfpq_serve(
    ix: dict,
    qpos: DataFrame,
    qcd: DataFrame,
    nprobe: int,
    m: int,
    topk: int,
) -> DataFrame:
    """The query half of IVF-PQ over index parts ``ix``: probe the
    ``nprobe`` nearest cells, build the per-(query, cell) residual ADC
    LUT, score the probed cells' codes, rank. ``qpos`` is the exploded
    query vectors (query_id, i, x); ``qcd`` the query→cell distances."""
    w_probe = Window.partitionBy("query_id").orderBy("d2", "ccid")
    probes = (
        qcd.withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "ccid")
    )
    qres = (
        probes.join(qpos, "query_id")
        .join(F.broadcast(ix["cc"]), ["ccid", "i"])
        .join(F.broadcast(ix["dim"]))
        .select(
            "query_id",
            "ccid",
            F.expr(f"i div (__dim div {int(m)})").alias("sub"),
            "i",
            (F.col("x") - F.col("c")).alias("qr"),
        )
    )
    lut = (
        qres.join(F.broadcast(ix["pc"]), ["sub", "i"])
        .groupBy("query_id", "ccid", "sub", "pcid")
        .agg(_d2_of("qr", "c").alias("d2"))
    )
    adc = (
        probes.join(ix["assign"], "ccid")
        .join(ix["codes"], "id")
        .join(
            F.broadcast(lut),
            ["query_id", "ccid", "sub", "pcid"],
        )
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= topk)
    )


def ann_tune_nprobe(
    items: DataFrame,
    candidates=(1, 2, 4),
    k: int = 5,
    target_pct: int = 60,
    n_cells: int = 8,
    m: int = 4,
    k_codes: int = 8,
    query_max: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall-driven nprobe selection (r09 verdict item 4): measure
    recall@k on a deterministic validation split for every candidate
    nprobe and CHOOSE the cheapest one that meets the target — the
    tuning report a production vector index is operated by, closing the
    loop q190 opened (``choose_ann_strategy`` picks by corpus size
    alone; this picks by measured quality).

    ONE index build and ONE max-candidate scoring pass evaluate every
    candidate: an item's ADC distance is independent of nprobe (it
    scores against its single home cell's residual LUT), so candidate
    p's ranking is exactly the max-probe ADC rows whose home-cell probe
    rank ≤ p — re-ranked per candidate over candidate-sized data, never
    re-scored. Exact ground truth is one corpus scan against the
    broadcast validation queries (``l2_topk``'s shape).

    All verdicts are exact integers (recall = 100·overlap div (k·|Q|);
    integer threshold; deterministic ties): chosen = the smallest
    nprobe meeting ``target_pct``, else the highest-recall candidate
    (ties to the smaller nprobe). Output one row per candidate:
    (nprobe, overlap_total, nq, recall_pct, meets_target, chosen)."""
    cands = sorted({int(c) for c in candidates})
    max_p = cands[-1]
    ix = _ivfpq_build(items, n_cells, m, k_codes, id_col, vec_col)
    qpos = ix["pos"].filter(F.col("id") < query_max).withColumnRenamed(
        "id", "query_id"
    )
    qcd = ix["cd"].filter(F.col("id") < query_max).select(
        F.col("id").alias("query_id"), "ccid", "d2"
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "ccid")
    probes = (
        qcd.withColumn("prank", F.row_number().over(w_probe).cast("int"))
        .filter(F.col("prank") <= max_p)
        .select("query_id", "ccid", "prank")
    )
    qres = (
        probes.join(qpos, "query_id")
        .join(F.broadcast(ix["cc"]), ["ccid", "i"])
        .join(F.broadcast(ix["dim"]))
        .select(
            "query_id",
            "ccid",
            F.expr(f"i div (__dim div {int(m)})").alias("sub"),
            "i",
            (F.col("x") - F.col("c")).alias("qr"),
        )
    )
    lut = (
        qres.join(F.broadcast(ix["pc"]), ["sub", "i"])
        .groupBy("query_id", "ccid", "sub", "pcid")
        .agg(_d2_of("qr", "c").alias("d2"))
    )
    adc = (
        probes.join(ix["assign"], "ccid")
        .join(ix["codes"], "id")
        .join(F.broadcast(lut), ["query_id", "ccid", "sub", "pcid"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"), "prank")
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    spark = items.sparkSession
    cand_df = local_df(spark, [(c,) for c in cands], "nprobe int")
    w_rank = Window.partitionBy("nprobe", "query_id").orderBy(
        "adc_d2", "neighbor_id"
    )
    approx = (
        adc.join(F.broadcast(cand_df), F.col("prank") <= F.col("nprobe"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("nprobe", "query_id", "neighbor_id")
    )
    queries = items.filter(F.col(id_col) < query_max)
    exact = l2_topk(items, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    ov = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count(F.lit(1)).alias("overlap_total"))
    nq_row = exact.groupBy().agg(
        F.count_distinct("query_id").alias("nq")
    )
    rep = (
        cand_df.join(ov, "nprobe", "left")
        .crossJoin(F.broadcast(nq_row))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            F.coalesce("overlap_total", F.lit(0))
            .cast("long")
            .alias("overlap_total"),
            F.col("nq").cast("long").alias("nq"),
        )
        .withColumn(
            "recall_pct",
            F.expr(f"(100 * overlap_total) div ({int(k)} * nq)"),
        )
        .withColumn(
            "meets_target",
            (F.col("recall_pct") >= target_pct).cast("long"),
        )
    )
    # chosen = smallest nprobe meeting the target, else highest recall
    # (tie to smaller nprobe) — a single deterministic ordering over the
    # candidate-count-sized report (the one-row-window cost is nil here)
    w_choose = Window.orderBy(
        F.col("meets_target").desc(),
        F.when(F.col("meets_target") == 1, F.col("nprobe"))
        .otherwise(-F.col("recall_pct"))
        .asc(),
        F.col("nprobe").asc(),
    )
    return rep.withColumn(
        "chosen", (F.row_number().over(w_choose) == 1).cast("long")
    )


def build_ivfpq_index_occ(
    spark,
    items: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 4,
    k_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expected_version: int | None = None,
    retain_versions: int = 0,
) -> dict:
    """Materialize the IVF-PQ index once per corpus version — the Faiss
    index-file analogue, and the vector-side counterpart of
    ``retrieval.build_postings_index_occ``: coarse centroids, PQ
    codebooks, per-item cell assignments, per-item PQ codes and a meta
    row carrying the build parameters publish atomically as ONE
    SNAPSHOT commit. This is THE corpus pass; serving
    (``ivfpq_topk_indexed_occ``) then reads only the artifact, whose
    dominant parts (assignments + codes) are a few ints per vector —
    ~128× smaller than the vectors — and the corpus embeddings are
    never rescanned. At 100 TB of vectors the build is the amortized
    nightly job; queries are interactive. A rebuild whose read version
    went stale fails closed instead of clobbering a concurrent
    refresh."""
    from hive_cassandra_spark import sink

    ix = _ivfpq_build(items, n_cells, m, k_codes, id_col, vec_col)
    # persist the shared construction tables for the duration of the
    # commit: the five staged writes below otherwise re-derive
    # overlapping lineage (codes → pc → res → assign → cc), recomputing
    # the coarse centroids 4x and the cell assignment 3x — one corpus
    # pass each instead
    for key in ("cc", "pc", "assign", "res"):
        ix[key] = ix[key].persist()
    # the meta table carries the build parameters: serving derives the
    # subspace split from __m rather than trusting its caller (a
    # mismatched m would silently mis-bucket `sub` and return wrong
    # neighbors with no error)
    meta = (
        ix["dim"]
        .withColumn("__m", F.lit(int(m)))
        .withColumn("__n_cells", F.lit(int(n_cells)))
        .withColumn("__k_codes", F.lit(int(k_codes)))
    )
    v = (
        sink.store_version(path)
        if expected_version is None
        else expected_version
    )
    res = sink.occ_commit_tables(
        spark,
        path,
        {
            "coarse_centroids": ix["cc"],
            "pq_codebooks": ix["pc"],
            "assignments": ix["assign"],
            "codes": ix["codes"],
            "meta": meta,
        },
        v,
        snapshot=True,
    )
    for key in ("cc", "pc", "assign", "res"):
        ix[key].unpersist()
    if res["committed"]:
        # retain_versions keeps the K newest superseded versions through
        # the post-rebuild vacuum so as_of_version pins (q204) survive
        # the nightly retrain (sink.occ_vacuum retention)
        sink.occ_vacuum(path, retain_versions=retain_versions)
    return res


def ivfpq_topk_indexed_occ(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    id_col: str = "query_id",
    vec_col: str = "embedding",
    as_of_version: int | None = None,
) -> DataFrame:
    """Serve IVF-PQ top-k from a ``build_ivfpq_index_occ`` artifact:
    the query vectors are the ONLY non-artifact input — corpus
    embeddings are never touched (plan-asserted in test_similarity).
    Same deterministic arithmetic as the inline ``ivfpq_topk``, so
    results are row-identical when the queries are the same corpus
    members; the subspace count ``m`` comes from the artifact's meta.

    Every table is read from ONE ``sink.occ_snapshot``, so centroids,
    codebooks, assignments, codes and meta always come from the same
    version set: the quantizers (centroids, codebooks, meta) read at
    the latest visible version carrying them (replace semantics — a
    snapshot rebuild supersedes them atomically), while assignments and
    codes UNION every visible version (append semantics —
    ``update_ivfpq_index_occ`` deltas layer on the bootstrap exactly
    like postings deltas on q188's index). ``as_of_version=N`` pins
    every table to the index state when version N was the head, so an
    evaluation or training run reproduces the exact neighbor sets it
    recorded."""
    from hive_cassandra_spark import sink

    snap = sink.occ_snapshot(spark, path)

    def read(table, latest_only=False):
        return snap.read(
            table, latest_only=latest_only, as_of_version=as_of_version
        )

    ix = {
        "cc": read("coarse_centroids", latest_only=True),
        "pc": read("pq_codebooks", latest_only=True),
        "assign": read("assignments"),
        "codes": read("codes"),
        "dim": read("meta", latest_only=True),
    }
    m = int(ix["dim"].select("__m").head()[0])
    ix["dim"] = ix["dim"].select("__dim")
    # Query-side frames are interactive-scale by definition (|queries| ×
    # dim rows); checkpoint them once so the serve plan's several
    # consumers (probe ranking, residual LUT, ADC join) don't each
    # replay the query scan — exchange reuse does not canonicalize
    # through posexplode (the q176 lesson on the text side).
    qpos = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    ).localCheckpoint(eager=False)
    qcd = (
        qpos.join(F.broadcast(ix["cc"]), "i")
        .groupBy("query_id", "ccid")
        .agg(_d2_of("x", "c").alias("d2"))
        .localCheckpoint(eager=False)
    )
    return _ivfpq_serve(ix, qpos, qcd, nprobe, m, topk)


def kcenter_select(
    items: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) selection over an embedding
    column — Gonzalez's 2-approximation (1985), the coreset / diversity
    sampler LLM data pipelines run AFTER dedup: where SemDeDup (q92)
    removes redundancy, k-center picks the maximally SPREAD exemplar
    set (facility-location surrogate for "cover the distribution with
    k prototypes").

    Algorithm: seed with the minimum id (deterministic), then k−1
    rounds of "pick the point farthest from the chosen set". The
    min-distance column is maintained INCREMENTALLY — each round
    computes d² against ONLY the newly chosen center (a literal array
    in the plan, the BPE per-round-argmax precedent q179) and folds it
    in with least(), so round r costs ONE map-only corpus scan plus a
    TakeOrdered(1) — never |corpus|×|chosen| work, no all-pairs
    materialization, nothing driver-side beyond k single-row argmaxes.
    localCheckpoint per round truncates the k-deep lineage.

    Determinism contract: d² uses l2_topk's sum-of-squares algebra
    rounded to 6 BEFORE the least()/argmax decisions, ties break
    (dmin DESC, id ASC) — the q148 float contract, engine-replayable.

    Returns k rows ``(round, vec_id, dmin)`` — dmin is the point's
    distance² to the previously chosen set at selection time (the
    classic non-increasing Gonzalez trace; the seed reports 0.0). At
    100 TB the k scans are the whole cost and each is embarrassingly
    parallel; for k beyond ~100s, batch variants (over-sample then
    prune) trade approximation for fewer rounds — documented, not
    needed for prototype-set sizes."""
    it = items.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    seed = it.orderBy(F.col("vec_id").asc()).limit(1).head()
    if seed is None:
        return local_df(
            items.sparkSession, [], "round long, vec_id long, dmin double"
        )
    chosen = [(1, int(seed["vec_id"]), 0.0)]

    def _d2_to(lit_vec):
        arr = F.array(*[F.lit(float(x)) for x in lit_vec])
        return F.round(
            dot(F.col("v"), F.col("v"))
            + F.lit(float(sum(x * x for x in lit_vec)))
            - 2 * dot(F.col("v"), arr),
            6,
        )

    cur = (
        it.filter(F.col("vec_id") != int(seed["vec_id"]))
        .withColumn("dmin", _d2_to(seed["v"]))
        .localCheckpoint()
    )
    for r in range(2, int(k) + 1):
        top = (
            cur.orderBy(F.col("dmin").desc(), F.col("vec_id").asc())
            .limit(1)
            .head()
        )
        if top is None:
            break
        chosen.append((r, int(top["vec_id"]), float(top["dmin"])))
        if r == int(k):
            break
        cur = (
            cur.filter(F.col("vec_id") != int(top["vec_id"]))
            .withColumn(
                "dmin", F.least(F.col("dmin"), _d2_to(top["v"]))
            )
            .localCheckpoint()
        )
    return local_df(
        items.sparkSession, chosen, "round long, vec_id long, dmin double"
    )


def stream_update_ivfpq_index(
    spark,
    stream_items: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """CONTINUOUS vector-index maintenance: every micro-batch of newly
    embedded items lands in the OCC-versioned IVF-PQ artifact through
    ``update_ivfpq_index_occ`` — the vector-side sibling of
    ``retrieval.stream_update_postings_index`` (r10 verdict item 8),
    completing the streaming lifecycle SYMMETRICALLY across the two
    retrieval modalities: build once (q182), serve from the artifact,
    maintain incrementally (q200), maintain FROM THE STREAM, measure
    (q190), tune (q192).

    Exactly-once composition, the q196 two-layer discipline: the
    checkpoint replays unfinished batches (at-least-once delivery), and
    each batch commits under ``batch_id = stream-<n>`` so a replayed
    batch finds its marker tag already published and NO-OPS —
    at-least-once upgrades to exactly-once index content. Every batch's
    vectors are encoded under the artifact's FROZEN quantizers (Faiss
    add() semantics) and its (assignments, codes) delta publishes under
    ONE version marker, so the artifact stays atomically serveable
    throughout; a racing nightly rebuild supersedes via the OCC
    snapshot and a stale delta fails closed and retries. Bootstrap with
    ``build_ivfpq_index_occ`` before starting the stream. Returns the
    StreamingQuery; callers own awaitTermination/stop."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_ivfpq_index_occ(
            spark, path, batch_df, id_col, vec_col,
            batch_id=f"stream-{int(batch_id)}",
        )

    return (
        stream_items.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def update_ivfpq_index_occ(
    spark,
    path: str,
    new_items: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | None = None,
    max_retries: int = 5,
    claim_grace_s: float = 10.0,
) -> dict:
    """Incremental IVF-PQ maintenance — the vector-side sibling of
    ``retrieval.update_postings_index_occ`` (r09's q188), completing
    the lifecycle symmetry between the two retrieval modalities: build
    once, serve from the artifact, MAINTAIN INCREMENTALLY, measure
    (q190), tune (q192). Only the NEW vectors are scanned: they are
    encoded against the artifact's FROZEN coarse centroids and PQ
    codebooks (exactly how Faiss `add`s to a trained IVFPQ — the
    quantizers train on the bootstrap corpus and subsequent batches
    quantize under them; periodic REBUILDS retrain when drift
    accumulates, and the OCC snapshot supersede handles that race),
    and their (assignments, codes) delta publishes under ONE version
    marker, through ``sink.occ_update``: one attempt reads ONE snapshot
    of the marker log, a replayed ``batch_id`` is detected from that
    snapshot (its marker tag) and no-ops, and a stale writer fails
    closed and retries against refreshed state. Returns
    {vecs_added, version, conflicts, already_applied}."""
    from hive_cassandra_spark import sink

    held = []  # each attempt's persisted coarse assignment

    def derive(snap):
        cc = snap.read("coarse_centroids", latest_only=True)
        pc = snap.read("pq_codebooks", latest_only=True)
        meta = snap.read("meta", latest_only=True)
        m = int(meta.select("__m").head()[0])
        dim_row = meta.select("__dim")
        # encode ONLY the new vectors under the frozen quantizers —
        # the same route → residual → code arithmetic as _ivfpq_build,
        # with cc/pc as inputs instead of trained outputs
        pos = new_items.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "i", "x"
            ),
        )
        cd = (
            pos.join(F.broadcast(cc), "i")
            .groupBy("id", "ccid")
            .agg(_d2_of("x", "c").alias("d2"))
        )
        w_cell = Window.partitionBy("id").orderBy("d2", "ccid")
        # persist: the coarse assignment is consumed twice per commit
        # attempt (its own staging write AND the residual/codes lineage
        # below) — unpersisted, the route-to-nearest-centroid pass over
        # the batch would run twice
        cassign = (
            cd.withColumn("__rn", F.row_number().over(w_cell))
            .filter(F.col("__rn") == 1)
            .select("id", "ccid")
        ).persist()
        held.append(cassign)
        res = (
            pos.join(cassign, "id")
            .join(F.broadcast(cc), ["ccid", "i"])
            .join(F.broadcast(dim_row))
            .select(
                "id",
                F.expr(f"i div (__dim div {int(m)})").alias("sub"),
                "i",
                (F.col("x") - F.col("c")).alias("r"),
            )
        )
        pd_ = (
            res.join(F.broadcast(pc), ["sub", "i"])
            .groupBy("id", "sub", "pcid")
            .agg(_d2_of("r", "c").alias("d2"))
        )
        w_code = Window.partitionBy("id", "sub").orderBy("d2", "pcid")
        codes = (
            pd_.withColumn("__rn", F.row_number().over(w_code))
            .filter(F.col("__rn") == 1)
            .select("id", "sub", "pcid")
        )
        return {"assignments": cassign, "codes": codes}, {
            "vecs_added": new_items.count()
        }

    try:
        res = sink.occ_update(
            spark, path, derive, tag=batch_id, max_retries=max_retries,
            claim_grace_s=claim_grace_s,
        )
    finally:
        for df in held:
            df.unpersist()
    del res["files"]
    return {"vecs_added": 0, **res}
