"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (SURVEY.md §2.C).

Scale posture (the whole point of these designs):

- **exact**: one hash-aggregate shuffle on the normalized text — the
  map-side partial collapses duplicates before the exchange.
- **n-gram Jaccard** is quadratic if done naively; here it's an
  *inverted-index* self-join on shingles: only docs sharing ≥1 shingle meet,
  and the join key (shingle) is high-cardinality → well-spread shuffle.
  Still the exact method — use on candidate sets, not raw 100 TB.
- **MinHash+LSH** is the sub-quadratic scale path: O(docs × hashes) for
  signatures (map-side-combined groupBy), then candidates only where a band
  bucket collides. All hashing is md5-based and deterministic → the whole
  pipeline is oracle-comparable in ANSI SQL (rare for LSH; we exploit it
  for the correctness gate).
- **SimHash**: fixed 64-bit signature per doc (two 32-bit halves),
  candidates via 16-bit band collision (4 × 65,536 buckets, capped width),
  verify by Hamming distance — constant state per doc.
- **embedding near-dup**: cosine over a blocking key to keep the pair space
  bounded; the unblocked variant is in similarity.py.

No collect(), no driver-side loops anywhere.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import Column, DataFrame, functions as F

from hive_cassandra_spark.operators import sketches
from hive_cassandra_spark.operators.text import normalize, tokens


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text. Docs shorter
    than n tokens contribute their whole text as one shingle."""
    toks = tokens(text)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: keep the minimum id per text, count
    the group. One shuffle, map-side combined."""
    return (
        df.groupBy(normalize(F.col(text_col)).alias("norm_text"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc, shs: array<string>) — the distinct shingle set per document.

    This compact form (pre-explode, one row per doc) is the thing worth
    persisting: every dedup pipeline stage (signatures, sizes, exact-verify)
    derives from it, and at any scale it is orders of magnitude smaller than
    the exploded doc×shingle relation."""
    return _spread(df, id_col).select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), n).alias("shs")
    )


JACCARD_MAX_DF = 1000


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = JACCARD_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted-index self-join.

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b with jaccard ≥
    threshold; jaccard rounded to 4 for cross-engine comparability.

    ``max_df`` is the hot-shingle guard: a shingle shared by k documents
    emits k² rows in the self-join, so one stop-phrase in a million docs
    is a quadratic straggler. Shingles with document frequency > max_df
    are dropped from the *candidate index only* (a tiny hot set, removed
    with a broadcast anti-join); the Jaccard reported for surviving pairs
    is still exact — it is verified against the FULL shingle sets. The
    only loss is recall for pairs connected *exclusively* through
    stop-shingles, which carry ~no similarity signal by definition.
    Pass ``max_df=None`` for the exhaustive join.
    """
    sh_tbl = shingle_table(df, text_col, id_col, n).persist()
    sh = sh_tbl.select("doc", F.explode("shs").alias("sh"))
    if max_df is not None:
        # the hot set is tiny by construction (few shingles exceed max_df),
        # so the anti-join broadcasts — no extra exchange on the big side
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    # merge-hint: identical subtrees shuffle on sh → AQE stage reuse (one
    # shingle-explode pass instead of two)
    a, b = sh.alias("a").hint("merge"), sh.alias("b").hint("merge")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # exact verify on the full (unfiltered) shingle sets — same shape as
    # minhash_lsh_dedup's verify step; shingles are distinct per doc so
    # set arithmetic is array arithmetic
    sa = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("shs").alias("sh_a"))
    sb = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("shs").alias("sh_b"))
    j = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        4,
    ).alias("jaccard")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", j)
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------- MinHash ---

def _seed_tags(num_hashes: int) -> list[str]:
    return [f"{i:02d}" for i in range(num_hashes)]


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Rebalance by key before a CPU-bound explode. Parquet partitions by
    input *bytes*; a few-MB documents file arrives as 1 partition, which
    would serialize the (rows × shingles × hashes) fan-out onto one core.
    At 100 TB the scan already yields thousands of partitions and this
    hash-exchange of the compact pre-explode rows is noise."""
    sess = df.sparkSession
    n = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, key)


def _signatures_from_shingles(sh_tbl: DataFrame, num_hashes: int) -> DataFrame:
    """Wide signature from a (doc, shs) shingle table (possibly persisted)."""
    exploded = sh_tbl.select("doc", F.explode("shs").alias("sh"))
    mins = [
        F.min(F.md5(F.concat(F.lit(s), F.lit("|"), F.col("sh")))).alias(f"m{s}")
        for s in _seed_tags(num_hashes)
    ]
    return exploded.groupBy("doc").agg(*mins)


def merge_signatures(
    sig_a: DataFrame, sig_b: DataFrame, num_hashes: int = 12
) -> DataFrame:
    """Merge two MinHash signature tables over the SAME doc ids: the
    min-hash of a shingle-set union is the elementwise min of the parts'
    signatures, so signatures are composable partial aggregates — the
    dedup analogue of the q64 continuous-aggregate property. An
    incremental 100 TB ingest therefore signatures only the NEW batch of
    content and min-merges into the standing table, never rescanning the
    corpus. Docs present in one side only pass through unchanged (their
    other part contributed no shingles)."""
    cols = [F.min(f"m{s}").alias(f"m{s}") for s in _seed_tags(num_hashes)]
    return sig_a.unionByName(sig_b).groupBy("doc").agg(*cols)


def lsh_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, band, bucket) from a wide signature: bucket = md5 of the band's
    seed-tagged minhashes joined in seed order (seeds are fixed-width, so
    seed order == lexicographic order of the tagged strings — the exact
    string the SQL oracle's ordered string_agg produces). Pure projection +
    explode; no extra shuffle."""
    seeds = _seed_tags(bands * rows_per_band)
    band_structs = []
    for b in range(bands):
        tagged = [
            F.concat(F.lit(f"{s}:"), F.col(f"m{s}"))
            for s in seeds[b * rows_per_band : (b + 1) * rows_per_band]
        ]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *tagged)).alias("bucket"),
            )
        )
    return sig.select(
        "doc", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc", "bb.band", "bb.bucket")


def _pairs_within(docs: Column) -> Column:
    """All ordered pairs (a < b) from an ascending-sorted array — nested
    transform + slice, fully codegen'd."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def lsh_candidate_pairs(buckets: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) colliding in ≥1 band.

    Shape: ONE shuffle on (band, bucket) — a hash key, uniformly spread —
    grouping each bucket's members, then a narrow in-bucket pair explode
    (vs a self-join: two sorted shuffle sides + merge; benched 1.7s → 1.1s
    at sf0.1). Per-task memory is bounded by the largest bucket, which the
    LSH guarantee keeps at near-dup-cluster size — the same corpora that
    would blow this up would also emit quadratic pairs under any scheme."""
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return (
        grouped.select(F.explode(_pairs_within(F.col("docs"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: candidates from band collisions,
    then *exact* Jaccard verification on the candidates only.

    With b=4 bands of r=3 rows the LSH S-curve crosses ~(1/4)^(1/3)≈0.63,
    so threshold ≤ ~0.6 keeps recall high while the verify step keeps
    precision exact. Returns (doc_a, doc_b, jaccard).
    """
    assert num_hashes % bands == 0, (
        f"num_hashes={num_hashes} must divide into bands={bands}: a "
        "remainder would compute minhash columns that enter no band — "
        "wasted signature work and silently lower recall than the "
        "(1-s^r)^b formula for the requested num_hashes"
    )
    rows_per_band = num_hashes // bands
    # Persist the compact (doc, shs) table once: signatures, LSH buckets and
    # the exact-verify step all derive from it, so without the persist the
    # tokenize+shingle scan runs 3× (benched 11.9s → 7.6s cold at sf0.1).
    # It is the pre-explode relation — tiny relative to the corpus at any SF.
    sh_tbl = shingle_table(df, text_col, id_col, n).persist()
    sig = _signatures_from_shingles(sh_tbl, num_hashes)
    # Persist the candidate pairs too: they are tiny (LSH guarantees
    # near-dup-cluster-sized output) and referenced by a join whose
    # optimizer plan would otherwise re-derive the whole signature pipeline
    # a second time (benched: 2× signature cost without this). At 100 TB
    # the same persist holds — candidates are O(duplicates), not O(corpus).
    cand = lsh_candidate_pairs(lsh_buckets(sig, bands, rows_per_band)).persist()
    a = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("shs").alias("sh_a"))
    b = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("shs").alias("sh_b"))
    j = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        4,
    ).alias("jaccard")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", j)
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_prefilter_jaccard_pairs(
    df: DataFrame,
    t_num: int = 1,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH prefilter + integer-exact Jaccard verify: the
    sub-quadratic 100 TB DEFAULT for near-dup pair generation, vs the
    exact-but-superlinear ``prefix_filter_jaccard_pairs`` (the opt-in
    audit path — its candidate set inherently outgrows corpus volume,
    measured 12.5→40.6 s at 10× on the leakage-split bench, while LSH
    candidates stay O(near-dup clusters)).

    Candidates come from ``bands`` × ``rows_per_band`` MinHash band
    collisions (q33's machinery: one shingle explode, one groupBy(doc)
    with N parallel min-aggregates, one (band, bucket) shuffle); the
    verify recomputes Jaccard on the FULL shingle sets and keeps pairs
    with ``t_den·|A∩B| ≥ t_num·|A∪B|`` — integer-exact, so every
    reported pair is a true pair (precision 1.0 by construction).

    The recall contract: a true pair is reported iff the SAME
    deterministic md5 band family collides it — so the output is a
    deterministic, engine-independent function of the corpus that any
    SQL engine with md5 can replay bit-for-bit (the oracle does exactly
    that: same bands, same integer verify). With b bands of r rows the
    miss probability for a pair at Jaccard s is (1 − s^r)^b — the
    published S-curve; callers below the curve's knee accept boundary
    movement on LOW-similarity pairs only, which for cluster-level
    consumers (leakage splits) moves cluster boundaries, never breaks
    the exactness of any reported similarity.
    """
    assert num_hashes % bands == 0, (
        f"num_hashes={num_hashes} must divide into bands={bands}: a "
        "remainder would compute minhash columns that enter no band — "
        "wasted signature work and silently lower recall than the "
        "(1-s^r)^b formula for the requested num_hashes"
    )
    rows_per_band = num_hashes // bands
    # same persist contract as minhash_lsh_dedup: signatures + both
    # verify sides all derive from the compact pre-explode shingle table
    sh_tbl = shingle_table(df, text_col, id_col, n).persist()
    sig = _signatures_from_shingles(sh_tbl, num_hashes)
    cand = lsh_candidate_pairs(lsh_buckets(sig, bands, rows_per_band)).persist()
    a = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("shs").alias("sh_a"))
    b = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("shs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(inter * t_den >= union * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


# --------------------------------------------------------------- SimHash ---

SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16 → 65,536 buckets/band
# Cap on DISTINCT signatures per (pos, band) bucket. Since the r10
# exact-signature pre-collapse, duplicate-heavy corpora cannot trigger it
# (identical docs are one signature), and candidate generation is a
# distributed self-join AQE can skew-split — so the cap's only job is to
# refuse DEGENERATE stop-bands (a band value carried by ~everything, e.g.
# the all-zeros word of near-empty docs) whose candidate space no cluster
# should pay. 100k distinct sigs in one 16-bit bucket ≈ 5B candidate
# pairs — beyond that the band carries no discriminating signal and
# dropping it is the documented recall trade.
SIMHASH_MAX_BUCKET = 100_000


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document from md5-derived token hashes, returned
    as two non-negative 32-bit halves (doc, sim_hi, sim_lo).

    Token hash = first 16 hex chars of md5, split into two 32-bit words.
    Each token votes ±1 per bit position (with multiplicity); the signature
    bit is the vote sign. Plan: explode tokens → one groupBy(doc) with 64
    conditional sums (all codegen'd) → assemble the halves. One shuffle.

    The hi/lo split is deliberate: a single 64-bit value would set the sign
    bit, and signed-shift semantics differ across engines (and Python's
    bin() on negative ints), while two always-non-negative 32-bit words
    shift/xor identically everywhere — which keeps the full pipeline
    oracle-comparable in ANSI SQL.
    """
    # Every repeated expression is built as ONE F.expr string parse: the
    # nested-Column form (sum(when(shiftright(...)...)) × 64 plus two
    # 32-term assemblies) costs ~450 py4j round-trips of driver-side plan
    # construction — measured 1.5 s build vs 0.6 s execution at sf0.1.
    # Same lesson as similarity._lit_double_array.
    tok = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .withColumn("md5", F.md5("tok"))
        .withColumn("h_hi", F.expr("cast(conv(substring(md5, 1, 8), 16, 10) as bigint)"))
        .withColumn("h_lo", F.expr("cast(conv(substring(md5, 9, 8), 16, 10) as bigint)"))
    )
    half_bits = SIMHASH_BITS // 2
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h_{'lo' if b < half_bits else 'hi'}, "
            f"{b % half_bits}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc").agg(*votes)

    def _assemble_sql(bit_range) -> str:
        return " + ".join(
            f"(CASE WHEN b{b} > 0 THEN {1 << (b % half_bits)}L ELSE 0L END)"
            for b in bit_range
        )

    return agg.select(
        "doc",
        F.expr(f"{_assemble_sql(range(half_bits, SIMHASH_BITS))} AS sim_hi"),
        F.expr(f"{_assemble_sql(range(half_bits))} AS sim_lo"),
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4 × 16-bit words;
    candidate pairs share ≥1 exact word at the same position (any pair
    within Hamming ≤3 must agree on ≥1 of 4 bands — pigeonhole, since 3
    differing bits touch ≤3 bands); verify with bit_count(xor) over both
    halves. Returns (doc_a, doc_b, hamming).

    ``max_bucket`` drops degenerate buckets (more DISTINCT signatures
    than the cap) before pair generation: a band value shared by k
    distinct signatures emits k²/2 signature pairs, and at 100 TB a
    stop-band (e.g. the all-zeros word from near-empty docs) would
    otherwise produce a quadratic straggler task. Exact-duplicate
    clusters collapse before the cap is measured (they can no longer
    trigger it); dropped buckets lose only cross-signature pairs whose
    OTHER three bands all differ, so the cap remains a documented
    recall trade, sized (10k default) to never trigger on
    non-degenerate data."""
    sig = simhash(df, text_col, id_col)
    return signature_hamming_pairs(sig, max_hamming, max_bucket)


@_contextmanager
def _adaptive_width(spark, n_rows: int, per_partition: int = 100_000):
    """Scope in which shuffle width is derived from a MATERIALIZED input
    size instead of the session constant (guide §2.2/§2.4): ~
    ``per_partition`` rows per shuffle partition, clamped to the session
    default so large inputs keep full cluster width and AQE's skew
    handling. The single-partition regime additionally disables AQE —
    on tiny inputs the wall is per-query-stage scheduling latency
    (measured 8.8 s → 3.2 s on the components loop, 2.8 s → 1.2 s on
    the banded pair stage), while AQE off at full width is
    catastrophically WORSE (29-42 s measured), hence the coupling.
    Yields True when a reduced width is in effect (callers materialize
    inside the scope), False when the clamp binds (no conf touched —
    the 100 TB path is byte-identical to not calling this at all).
    Partitioning and AQE never change values, only schedules."""
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    p = max(1, min(default_p, n_rows // per_partition + 1))
    if p >= default_p:
        yield False
        return
    default_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        if p == 1:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield True
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_p))
        spark.conf.set("spark.sql.adaptive.enabled", default_aqe)


def signature_band_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """The banded-Hamming CANDIDATE stage over DISTINCT signatures:
    verified signature pairs (ha, la, hb, lb, hamming ≤ ``max_hamming``)
    where the two 64-bit signatures (as 32-bit halves) share ≥1 of the
    4 × 16-bit position bands.

    This is where the engine's quadratic would live, so it runs over the
    DISTINCT (sim_hi, sim_lo) space only: a crawl drowning in exact
    duplicates (the regime image dedup exists for) collapses to one row
    per distinct signature before any bucket is grouped, so in-bucket
    pair space is quadratic in distinct near-dup signatures, never in
    documents. ``max_bucket`` now caps DISTINCT signatures per
    (pos, band) bucket — a cap that hot exact-duplicate clusters can no
    longer trigger (SCALING_r09 measured the old doc-level cap firing at
    20× and silently dropping recall)."""
    from pyspark.sql import Window

    mask = (1 << SIMHASH_BAND_BITS) - 1
    words = [
        ("sim_lo", 0),
        ("sim_lo", SIMHASH_BAND_BITS),
        ("sim_hi", 0),
        ("sim_hi", SIMHASH_BAND_BITS),
    ]
    dsig = sig.select("sim_hi", "sim_lo").distinct()
    bands = dsig.select(
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("pos"),
                        F.shiftright(F.col(col), sh)
                        .bitwiseAND(F.lit(mask))
                        .alias("band"),
                    )
                    for i, (col, sh) in enumerate(words)
                ]
            )
        ).alias("bb"),
    ).select("sim_hi", "sim_lo", "bb.pos", "bb.band")
    # cap on DISTINCT signatures per bucket (a degenerate stop-band
    # guard); the >1 filter drops singleton buckets before the join
    bucket_w = Window.partitionBy("pos", "band")
    bands = (
        bands.withColumn("bucket_n", F.count(F.lit(1)).over(bucket_w))
        .filter((F.col("bucket_n") > 1) & (F.col("bucket_n") <= max_bucket))
        .drop("bucket_n")
    )
    # candidate generation is a DISTRIBUTED self-join keyed on
    # (pos, band), not a per-bucket collected-array explode: a hot band
    # spreads across tasks (AQE skew-split applies) instead of building
    # a bucket²/2 array in one row — the explode formulation put a
    # 33k-wide band's 550M candidates in ONE task at the 20x scale
    # point; the join spreads the identical candidate set. The Hamming
    # verify lands in the join filter, so the dedup shuffle (distinct)
    # sees only verified pairs, never the raw candidate space.
    a_side = bands.select(
        "pos",
        "band",
        F.col("sim_hi").alias("ha"),
        F.col("sim_lo").alias("la"),
    )
    b_side = bands.select(
        "pos",
        "band",
        F.col("sim_hi").alias("hb"),
        F.col("sim_lo").alias("lb"),
    )
    cand = a_side.join(b_side, ["pos", "band"]).filter(
        (F.col("ha") < F.col("hb"))
        | ((F.col("ha") == F.col("hb")) & (F.col("la") < F.col("lb")))
    )
    return (
        cand.withColumn(
            "hamming",
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("ha", "la", "hb", "lb", "hamming")
        .distinct()
    )


def signature_hamming_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature table (doc, sim_hi,
    sim_lo) — the banded-Hamming engine ``simhash_pairs`` runs on text
    SimHash and ``multimodal.image_dhash`` runs on perceptual image
    hashes. Returns (doc_a, doc_b, hamming) with doc_a < doc_b.

    Exact-signature duplicates are collapsed FIRST (r09 verdict item 2):

    1. ``signature_band_pairs`` bands + pairs the DISTINCT signature
       space only — quadratic work tracks distinct near-dup signatures,
       not documents, so dense exact-duplicate clusters (Hamming 0,
       the dominant regime in web crawls) cost nothing in the bucket
       explode and the ``max_bucket`` cap stops firing on them.
    2. Hamming-0 pairs expand via an equality self-join on the
       signature (hash-partitioned; AQE splits hot-signature skew) —
       identical signatures need no banding to be found, so they are
       emitted unconditionally (strictly better recall than the old
       doc-level engine, which could cap-drop them).
    3. Cross-signature pairs expand each verified signature pair over
       both member sets (the signature-pair table is candidate-sized
       and broadcastable; the expansion joins are keyed on the
       signature halves).

    The expanded output is exactly the true pair set — unavoidable when
    the caller wants pairs; use ``signature_neardup_edges`` for the
    connectivity-sufficient linear edge set when the consumer is
    connected components (q189's path)."""
    sig = sig.select("doc", "sim_hi", "sim_lo").persist()
    # the count materializes the (persisted) signature kernel output —
    # the same pass the pair search forces anyway — and sizes the
    # banded stage: the spairs subtree (bands explode → bucket window →
    # self-join → distinct, ~6 tiny stages on a small distinct-signature
    # space) materializes inside the adaptive-width scope; the verified
    # signature-pair table is candidate-sized by design (broadcastable —
    # see the expansion joins below), so persisting it is scale-safe.
    # The EXPANSION joins stay at session width: their output is the
    # true pair set, output-quadratic in dense-duplicate fixtures, and
    # must keep full width + AQE skew handling at scale.
    n_sig = sig.count()
    with _adaptive_width(sig.sparkSession, 4 * n_sig) as scoped:
        spairs = signature_band_pairs(sig, max_hamming, max_bucket)
        if scoped:
            spairs = spairs.persist()
            spairs.count()
    a_side = sig.select(
        F.col("sim_hi").alias("ha"),
        F.col("sim_lo").alias("la"),
        F.col("doc").alias("dx"),
    )
    b_side = sig.select(
        F.col("sim_hi").alias("hb"),
        F.col("sim_lo").alias("lb"),
        F.col("doc").alias("dy"),
    )
    cross = (
        spairs.join(a_side, ["ha", "la"])
        .join(b_side, ["hb", "lb"])
        .select(
            F.least("dx", "dy").alias("doc_a"),
            F.greatest("dx", "dy").alias("doc_b"),
            "hamming",
        )
    )
    x, y = sig.alias("x"), sig.alias("y")
    within = x.join(
        y,
        (F.col("x.sim_hi") == F.col("y.sim_hi"))
        & (F.col("x.sim_lo") == F.col("y.sim_lo"))
        & (F.col("x.doc") < F.col("y.doc")),
    ).select(
        F.col("x.doc").alias("doc_a"),
        F.col("y.doc").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # disjoint by construction (cross pairs differ in signature, within
    # pairs share it; a doc has exactly one signature row) — no distinct
    return cross.unionByName(within)


def signature_neardup_edges(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Connectivity-sufficient near-dup edge set over a 64-bit signature
    table: (doc_a, doc_b) edges whose connected components are IDENTICAL
    to those of the full ``signature_hamming_pairs`` output, with
    O(docs + distinct-signature pairs) edges instead of the quadratic
    within-cluster pair space.

    Star edges link each exact-signature group's min-doc representative
    to its members (k−1 edges for a k-duplicate cluster, not k²/2);
    each verified distinct-signature pair contributes ONE representative
    ↔ representative edge. Any member pair the full expansion would emit
    is connected through the two stars plus that rep edge, and no edge
    here joins docs the full graph keeps apart — so the transitive
    closure is unchanged. This is the 100 TB components path (q189)."""
    sig = sig.select("doc", "sim_hi", "sim_lo").persist()
    # materialize the signature cache (the pass every consumer forces
    # anyway) and size the whole edge build from it: star edges, the
    # banded spairs subtree and the rep-rep expansion are ALL linear or
    # candidate-sized by construction (the docstring's contract), so on
    # a small signature space the entire edge set materializes inside
    # the adaptive-width scope; at 100 TB the clamp binds and this is
    # byte-identical to the lazy build at session width.
    n_sig = sig.count()
    with _adaptive_width(sig.sparkSession, 4 * n_sig) as scoped:
        reps = sig.groupBy("sim_hi", "sim_lo").agg(
            F.min("doc").alias("rep"), F.count(F.lit(1)).alias("n_members")
        )
        star = (
            sig.join(reps, ["sim_hi", "sim_lo"])
            .filter(F.col("doc") != F.col("rep"))
            .select(F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b"))
        )
        spairs = signature_band_pairs(sig, max_hamming, max_bucket)
        cross = (
            spairs.join(
                reps.select(
                    F.col("sim_hi").alias("ha"),
                    F.col("sim_lo").alias("la"),
                    F.col("rep").alias("ra"),
                ),
                ["ha", "la"],
            )
            .join(
                reps.select(
                    F.col("sim_hi").alias("hb"),
                    F.col("sim_lo").alias("lb"),
                    F.col("rep").alias("rb"),
                ),
                ["hb", "lb"],
            )
            .select(
                F.least("ra", "rb").alias("doc_a"),
                F.greatest("ra", "rb").alias("doc_b"),
            )
        )
        out = star.unionByName(cross)
        if scoped:
            out = out.persist()
            out.count()
    return out


# ---------------------------------------------------- embedding near-dup ---

EMBEDDING_MAX_BLOCK = 10_000


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block: int = EMBEDDING_MAX_BLOCK,
    validate_blocks: bool = True,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold within a blocking key.

    Blocking bounds the pair space (|block|² per block, not |corpus|²);
    at 100 TB the block key must be an LSH bucket or cluster id — use
    ``embedding_neardup_lsh_pairs`` when no natural key exists. Here the
    fixture's label. Cosine in double precision, rounded to 6.

    ``validate_blocks`` (default on) runs one cheap aggregation pass and
    REFUSES to build the plan if any block exceeds ``max_block`` members —
    a degenerate block key (constant column, giant cluster) silently turns
    this into the all-pairs quadratic join it exists to avoid, and the
    guard scan costs ~nothing next to that. Opt out only when the key's
    distribution is already known-bounded.
    """
    from hive_cassandra_spark.operators.similarity import cosine

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if validate_blocks:
        over = (
            base.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_block)
            .limit(1)
            .collect()
        )
        if over:
            raise ValueError(
                f"block {over[0].blk!r} has {over[0].n} members (> max_block="
                f"{max_block}): the within-block self-join would be "
                "quadratic. Use embedding_neardup_lsh_pairs, pass a finer "
                "block_col, or raise max_block explicitly."
            )
    a, b = base.alias("a"), base.alias("b")
    cos = F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos)
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 12,
    tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production blocking path: block key = random-hyperplane LSH
    signature, so no natural cluster column is needed and bucket width is
    ~|corpus| / 2^bits by construction. Candidates collide on the full
    signature in ≥1 of ``tables`` tables (recall knob); every candidate is
    verified with exact double cosine, so precision is exact — identical
    output contract to ``embedding_neardup_pairs``.

    One shuffle on (table, signature) — the same uniformly-spread key
    ``similarity.lsh_topk`` uses; vectors ride the explode (×tables bytes,
    tables is small) so verification happens in-bucket with no rejoin.
    """
    from hive_cassandra_spark.operators.similarity import (
        _bucket_cols,
        _hyperplanes,
        cosine,
    )

    planes = _hyperplanes(dim, bits, tables, seed)
    v = F.col(vec_col).cast("array<double>")
    sigs = _bucket_cols(v, planes)
    base = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), s.alias("sig"))
                    for t, s in enumerate(sigs)
                ]
            )
        ).alias("b"),
    ).select("id", "v", "b.tbl", "b.sig")
    a, b = base.alias("a"), base.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ------------------------------------------------- cluster assignment ---


def neardup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (node, component)
    with component = the minimum member id — the keeper every dedup policy
    ultimately needs (pairs alone don't say which doc to drop when dup
    chains overlap: a~b, b~c must collapse to ONE keeper).

    Algorithm: iterative min-label propagation to fixpoint. Each round is
    one equi-join (edge src → label) plus one map-side-combinable min
    aggregation, both hash-partitioned on the node id — no single-machine
    step anywhere, so it scales like any shuffle. Rounds needed = graph
    diameter, and near-dup clusters are small-diameter by construction
    (every member pair met an LSH/Jaccard/SimHash threshold), so the loop
    converges in a handful of rounds. ``max_iters`` is a hard SAFETY CAP,
    not a result truncation: if the cap is hit before the labeling
    stabilizes the function RAISES rather than silently returning split
    components (a dup chain with diameter > max_iters used to yield
    wrong clusters with no diagnostic). ``localCheckpoint`` truncates
    lineage each round — without it the plan doubles per iteration and
    the job dies on analysis cost long before data cost.

    No reference analogue (SURVEY.md §2.C adjacency — reference is a
    storage connector); the composition-of-DataFrame-ops tier of the
    custom-operator policy, same shape GraphX/GraphFrames use internally.
    """
    # persist the directed edge list BEFORE mirroring it: the union-swap
    # references the edge subtree twice, so an unpersisted (often
    # expensive — banded pair join, prefix filter) upstream would be
    # recomputed for each leg inside the und materialization
    edges = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).persist()
    und = (
        edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    # Scale-adaptive loop execution (guide §2.2/§2.4 — derive the
    # partitioning from the input, never a constant tuned for one rig):
    # every round is a chain of tiny shuffles (prop join → min agg → hop
    # join), and on a SMALL edge set the wall is pure per-stage latency
    # — ~6 sequential AQE query-stage materializations per round, each
    # with scheduling + re-planning overhead, regardless of row count.
    # Measured on q189's real 8k-edge graph (idle box, interleaved
    # configs): AQE+32 partitions 8.8 s, AQE+1 partition 5.3 s, AQE OFF
    # + 1 partition 3.2 s — but AQE off at the default width is 30-40 s
    # (runtime coalescing/broadcast conversion is what keeps the wide
    # plan sane), so the low-latency shape must engage ONLY when the
    # materialized edge count says the graph is small. Rule: ~200k
    # edges per partition, clamped to the session default so a 100 TB
    # edge set keeps full cluster width AND its AQE skew handling; the
    # single-partition regime additionally drops AQE for the loop's
    # lifetime (nothing to coalesce, no skew to split at that size).
    # The und mirror itself materializes at the SESSION defaults (its
    # input can be any size — the adaptive decision needs its count),
    # then label init, convergence probes, and every round run under
    # the derived regime. Partition count and AQE never change a
    # min-label fixpoint — values are identical.
    spark = pairs.sparkSession
    n_und = und.count()
    edges.unpersist()
    with _adaptive_width(spark, n_und, per_partition=200_000):
        # lazy checkpoint: the convergence aggregate below is the SOLE
        # action per round — it materializes (and stores) the checkpoint
        # as a side effect, so each round pays one job instead of an
        # eager-checkpoint job plus a separate aggregate job
        labels = (
            und.select(F.col("a").alias("node")).distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=False)
        )
        # Convergence signal: labels only ever DECREASE
        # (min-propagation), so sum(component) is strictly monotone
        # until the fixpoint — an unchanged sum proves an unchanged
        # labeling. One scalar aggregate per round instead of a
        # join-and-compare pass.
        prev_sum = labels.agg(F.sum("component")).collect()[0][0]
        converged, labels = _components_fixpoint_loop(
            und, labels, prev_sum, max_iters
        )
    und.unpersist()
    if not converged:
        raise RuntimeError(
            f"neardup_components did not reach a fixpoint within max_iters="
            f"{max_iters} rounds — the pair graph has a component with "
            "diameter beyond the cap, and returning now would silently "
            "split it. Raise max_iters (rounds needed = graph diameter)."
        )
    return labels


def _components_fixpoint_loop(
    und: DataFrame, labels: DataFrame, prev_sum, max_iters: int
) -> tuple[bool, DataFrame]:
    """The min-label propagation rounds of ``neardup_components``, split
    out so the caller can scope the shuffle-partition override to exactly
    the loop. Returns (converged, final labels)."""
    converged = False
    for _ in range(max_iters):
        prop = und.join(labels, und["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        labels = (
            labels.unionAll(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer-jumping shortcut (Shiloach-Vishkin style): each node
        # additionally adopts its label's own label, so label chains halve
        # every round and the loop converges in O(log diameter) rounds
        # instead of O(diameter). Every label IS a node id (min-label
        # init + min propagation), so the self-join always matches; the
        # labels table is node-sized — far smaller than the edge list the
        # main propagation joins — making the extra join cheap.
        hop = labels.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        labels = (
            labels.join(hop, labels["component"] == hop["c_node"], "left")
            .select(
                "node",
                F.coalesce("c_comp", "component").alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("component")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    return converged, labels


def neardup_clusters(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Collapse a near-dup pair graph to clusters: (keeper_id, cluster_size)
    — keeper = min member id, size counts every clustered document. The
    output is what a curation job joins back against the corpus to drop
    non-keepers."""
    comp = neardup_components(pairs, id_a, id_b)
    return (
        comp.groupBy(F.col("component").alias("keeper_id"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = EMBEDDING_MAX_BLOCK,
    validate_cells: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus into centroid cells
    (similarity.centroids — one Lloyd step from a deterministic
    hash-bucket init, centroids collected as literals), compare pairs
    ONLY within a cell, and drop every item that has a smaller-id
    neighbor with rounded cosine ≥ ``threshold`` in its cell — the
    smallest id of each tight semantic group survives. Returns one row
    per input item: (``id_col``, cell, kept).

    Scale shape: cell assignment is a pure codegen expression over
    centroid literals (zero shuffle — the q47 IVF pattern); the only
    corpus-sized exchange is the self-join keyed by cell id. Within-cell
    comparison is quadratic in cell size, so cells must stay bounded:
    ``n_centroids`` is the knob (SemDeDup runs ~100k clusters at web
    scale so cells hold ~thousands), and ``validate_cells`` REFUSES to
    build the quadratic plan if the largest cell exceeds ``max_cell`` —
    same guard contract as ``embedding_neardup_pairs``.
    """
    from hive_cassandra_spark.operators.similarity import (
        _cell_cols,
        centroids,
        cosine,
    )

    cents_rows = centroids(df, n_centroids, id_col, vec_col).collect()
    cents = sorted((r.cid, list(r.centroid)) for r in cents_rows)
    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("cell", F.element_at(_cell_cols(F.col("v"), cents, 1), 1))
    if validate_cells:
        worst = tagged.groupBy("cell").count().agg(
            F.max("count").alias("m")
        ).collect()[0]["m"]
        if worst and worst > max_cell:
            raise ValueError(
                f"largest centroid cell holds {worst} items > max_cell="
                f"{max_cell}: raise n_centroids (bounded cells are the "
                "contract that keeps the within-cell join non-quadratic)"
            )
    a = tagged.select("cell", F.col("id").alias("a_id"), F.col("v").alias("av"))
    b = tagged.select("cell", F.col("id").alias("b_id"), F.col("v").alias("bv"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(cosine(F.col("av"), F.col("bv")), 6) >= threshold)
        .select(F.col("b_id").alias("id"))
        .distinct()
    )
    return (
        tagged.select("id", "cell")
        .join(dropped.withColumn("__dropped", F.lit(True)), "id", "left")
        .select("id", "cell", F.col("__dropped").isNull().alias("kept"))
    )


def doc_chunks(
    df: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut each document's normalized token stream into disjoint
    ``chunk_tokens``-token chunks (last chunk may be short). One narrow
    codegen'd projection + posexplode — NO shuffle. Output:
    (doc, chunk_idx, chunk)."""
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    # guard: sequence(0, -1) would COUNT DOWN, not return empty
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("doc"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup (the "exact substring dedup" of
    Lee et al. 2022, *Deduplicating Training Data Makes Language Models
    Better*, restricted to disjoint token windows so reassembly is
    deterministic): a chunk of text is kept only at its globally FIRST
    occurrence — ordered by (doc, chunk_idx) — and every later repetition,
    in the same or any other document, is dropped; each document is then
    reassembled from its surviving chunks. This removes boilerplate
    (headers, license blocks, navigation chrome) that whole-document
    dedup can never see.

    Scale shape: chunking is a zero-shuffle projection+explode; the
    first-occurrence rank is ONE window partitioned by the chunk text —
    high-cardinality, well-spread, each partition a handful of rows (hot
    boilerplate chunks cap at their repetition count, and the window only
    ranks — never materializes — the partition); reassembly is ONE
    groupBy(doc) whose collect_list holds ≤ the doc's own chunks. Two
    shuffles total, both spread, no driver participation.

    Output: one row per input doc with ≥1 token — (doc, n_chunks,
    kept_chunks, rebuilt_md5) where rebuilt_md5 hashes the
    space-joined surviving chunks ('' when none survive).
    """
    from pyspark.sql import Window as W

    chunks = doc_chunks(df, chunk_tokens, text_col=text_col, id_col=id_col)
    w = W.partitionBy("chunk").orderBy("doc", "chunk_idx")
    ranked = chunks.withColumn("first_here", F.row_number().over(w) == 1)
    kept_struct = F.when(
        F.col("first_here"), F.struct("chunk_idx", "chunk")
    )  # collect_list drops the NULLs for non-first occurrences
    return ranked.groupBy(F.col("doc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("first_here").cast("long")).alias("kept_chunks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk,
                ),
            )
        ).alias("rebuilt_md5"),
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_words: int = 64,
    k: int = 4,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the incremental
    crawl-ingest op: is this page already in the last 100 TB? — without
    joining the full corpus against the full batch. A bloom filter over
    the corpus's normalized texts (``sketches.bloom_build``: ≤ n_words
    rows total, independent of corpus size) is broadcast and probed
    map-side; only probe-positive batch docs reach the exact confirmation
    anti-join, so the shuffle carries the (tiny) candidate set, never the
    batch. The result is EXACT: bloom has no false negatives, and its
    false positives are cleared by the confirm join.

    Output: every batch row as (id, maybe_member, is_new) —
    ``maybe_member`` the bloom verdict, ``is_new`` the exact one;
    (maybe_member=false, is_new=false) is impossible.
    """
    key = normalize(F.col(text_col)).alias("__key")
    corpus_keys = corpus.select(key)
    bloom = sketches.bloom_build(corpus_keys, "__key", n_words=n_words, k=k)
    probed = sketches.bloom_probe(
        batch.select(F.col(id_col).alias("id"), key),
        bloom,
        "__key",
        n_words=n_words,
        k=k,
    )
    clean = probed.filter(~F.col("maybe_member"))  # never shuffled
    candidates = probed.filter(F.col("maybe_member"))
    confirmed_dup = candidates.join(
        corpus_keys.distinct().withColumn("__hit", F.lit(True)), "__key", "left"
    )
    return (
        clean.withColumn("__hit", F.lit(None).cast("boolean"))
        .unionByName(confirmed_dup)
        .select(
            "id",
            "maybe_member",
            F.col("__hit").isNull().alias("is_new"),
        )
    )


def canonical_per_cluster(
    components: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """Quality-aware canonical selection within dup clusters: instead of
    'keeper = min id' (``neardup_clusters``), keep the member with the
    HIGHEST quality score, ties to the smallest id — the production rule
    ('keep the longest/cleanest copy') a curation job wants when dup
    clusters mix a full document with truncated or boilerplated copies.

    ``components`` is ``neardup_components`` output (node, component);
    ``quality`` maps id → a numeric score (n_chars, an LM score, a
    cascade verdict...). One broadcast-or-shuffle join on the node id and
    one max_by aggregation per component — the quality table is only the
    CLUSTERED docs (O(duplicates), not O(corpus)).

    Output: (component, canonical_id, best_quality, cluster_size)."""
    joined = components.join(
        quality.select(
            F.col(id_col).alias(node_col),
            F.col(quality_col).alias("__q"),
        ),
        node_col,
    )
    pick = F.struct(F.col("__q"), (-F.col(node_col)).alias("__negid"))
    return joined.groupBy(component_col).agg(
        F.max_by(F.col(node_col), pick).alias("canonical_id"),
        F.max("__q").alias("best_quality"),
        F.count(F.lit(1)).alias("cluster_size"),
    )

# ------------------------------------------------------------- winnowing ---

def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    w: int = 8,
) -> DataFrame:
    """(doc, fps: array<string>) — winnowing document fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS algorithm).

    Hash every character k-gram of the normalized text (md5 — same
    portable hash family as the MinHash path), slide a window of ``w``
    consecutive k-gram hashes, and keep the MINIMUM hash of each window.
    The guarantee that makes this the local-fingerprint method of record:
    any shared substring of length ≥ k + w - 1 between two documents
    yields at least one shared selected fingerprint, while the selected
    set is ~2/(w+1) of all k-grams — a tunable sketch with a detection
    floor, which plain "every i-th hash" sampling cannot offer.

    Entirely expression-level (sequence → transform → slice → array_min
    inside one projection): per-row cost is linear in text length, ZERO
    shuffle, and whole-stage codegen keeps it JVM-side. Docs shorter than
    k chars contribute md5(whole text); hash lists shorter than w
    contribute their single global minimum.
    """
    # Each stage is its OWN projection so `norm`/`hs` are materialized
    # column references. Inlining them (one big expression) makes Catalyst
    # re-evaluate the k-gram hash array per window and per exploded
    # element — an O(n²·w) blow-up per row that turns a 1-second scan
    # into hours. Multi-referenced non-cheap projections survive
    # CollapseProject, so the staging below is load-bearing, not style.
    base = _spread(df, id_col).select(
        F.col(id_col).alias("doc"), normalize(F.col(text_col)).alias("norm")
    )
    n = F.length("norm")
    hashed = base.select(
        "doc",
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.md5(F.substring(F.col("norm"), i, F.lit(k))),
            ),
        )
        .otherwise(F.array(F.md5(F.col("norm"))))
        .alias("hs"),
    )
    m = F.size("hs")
    fps = F.array_distinct(
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - w + 1),
                lambda j: F.array_min(F.slice(F.col("hs"), j, w)),
            ),
        ).otherwise(F.array(F.array_min("hs")))
    )
    return hashed.select("doc", fps.alias("fps"))


WINNOW_MAX_DF = 10


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    w: int = 8,
    min_shared: int = 3,
    max_df: int | None = WINNOW_MAX_DF,
) -> DataFrame:
    """Near-dup candidate pairs via shared winnowing fingerprints:
    (doc_a, doc_b, shared) for doc_a < doc_b sharing ≥ ``min_shared``
    selected fingerprints.

    Same inverted-index shape as ``jaccard_pairs``: explode the per-doc
    fingerprint set, self-join on the fingerprint, count per pair. The
    hot-fingerprint guard (document frequency > ``max_df`` dropped from
    the index via a broadcast anti-join) bounds the k² blow-up a
    boilerplate k-gram would cause — winnowing fingerprints cover ~2/(w+1)
    of positions, so a fingerprint shared by >max_df documents is
    corpus-level boilerplate, not a similarity signal. Each surviving
    exchange key (fingerprint) is md5-uniform → well-spread shuffle.
    """
    # explode_outer, deliberately: plain explode lets Catalyst infer a
    # `size(fps) > 0` filter (InferFiltersFromGenerate) and push it below
    # the staged projections, re-inlining the whole fingerprint expression
    # into one giant per-row Filter — O(n²) re-evaluation that also blows
    # the codegen size limit into interpreted mode. The fps array is never
    # empty (≥1 element by construction), so outer explode is identical
    # semantics without the inferred filter.
    fp = winnowing_fingerprints(df, text_col, id_col, k, w).select(
        "doc", F.explode_outer("fps").alias("fp")
    )
    if max_df is not None:
        hot = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("fp")
        )
        fp = fp.join(F.broadcast(hot), "fp", "left_anti")
    a, b = fp.alias("a").hint("merge"), fp.alias("b").hint("merge")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# --------------------------------------------------- sorted neighborhood ---

def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    prefix_len: int = 80,
    max_dist: int = 20,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández/Stolfo '95): sort records by a
    blocking key, compare each record only with the next ``window - 1``
    records in sort order, verify with edit distance on a fixed-length
    prefix. The classic entity-resolution method when similarity is
    *lexical* (typos, truncations) rather than token-set shaped.

    Scale posture: the sort is WITHIN blocks (first token of the
    normalized text), i.e. a partitioned window — never a global
    single-task ORDER BY. Each row emits at most ``window - 1``
    comparisons, so the candidate space is O(rows × window) by
    construction, and ``levenshtein`` runs on a capped prefix
    (O(prefix_len²) worst-case per pair, JVM built-in). The sort key is
    (norm, id) — unique, so neighbor order is deterministic.

    Output: (doc_a, doc_b, dist) for neighbor pairs with
    levenshtein(prefix_a, prefix_b) ≤ ``max_dist``.
    """
    from pyspark.sql import Window

    norm = normalize(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc"),
        norm.alias("norm"),
        F.split_part(norm, F.lit(" "), F.lit(1)).alias("blk"),
    )
    # ALL lead offsets ride one window projection, then explode a fixed
    # (window-1)-element struct array — one scan, one sort exchange, one
    # window evaluation, instead of a union of per-offset legs that each
    # re-scan and re-sort (measured: 2 exchanges + 2 scans → 1 + 1).
    win = Window.partitionBy("blk").orderBy("norm", "doc")
    led = base.select(
        "doc",
        "norm",
        F.array(
            *[
                F.struct(
                    F.lead("doc", off).over(win).alias("nb_doc"),
                    F.lead("norm", off).over(win).alias("nb_norm"),
                )
                for off in range(1, window)
            ]
        ).alias("nbs"),
    ).select("doc", "norm", F.explode("nbs").alias("nb"))
    return led.filter(F.col("nb.nb_doc").isNotNull()).select(
        F.col("doc").alias("doc_a"),
        F.col("nb.nb_doc").alias("doc_b"),
        F.levenshtein(
            F.substring("norm", 1, prefix_len),
            F.substring(F.col("nb.nb_norm"), 1, prefix_len),
        ).alias("dist"),
    ).filter(F.col("dist") <= max_dist)


# ----------------------------------------------------- edit-distance join ---

def edit_distance_name_join(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
    len_band: int = 2,
) -> DataFrame:
    """Edit-distance similarity self-join over a dimension's NAME column —
    the catalog-harmonization ER pattern ("red bolt" vs "red bolts").

    Shape: dedupe to the DISTINCT name vocabulary first (one map-side-
    combined shuffle that also carries the per-name row count), block by
    shared token + length band (|len(a) − len(b)| ≤ ``len_band`` — a
    necessary condition for edit distance ≤ len_band), then verify with
    the exact ``levenshtein`` built-in. The pair space is vocabulary-
    sized, NOT row-sized: at 100 TB the fact rows reduce to their name
    vocabulary before any pairing happens, and the vocabulary join
    broadcasts. Row counts per name ride along so the output still
    reports how much of the fact table each harmonization would merge.

    Output: (nm_a, nm_b, dist, rows_a, rows_b) for nm_a < nm_b with
    levenshtein(nm_a, nm_b) ≤ ``max_dist``.
    """
    names = df.groupBy(F.lower(F.col(name_col)).alias("nm")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    toks = names.select(
        "nm", "rows", F.explode(F.split("nm", " ")).alias("tok")
    )
    a, b = toks.alias("a"), F.broadcast(toks.alias("b"))
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.nm") < F.col("b.nm"))
            & (
                F.abs(F.length("a.nm") - F.length("b.nm")) <= len_band
            ),
        )
        .select(
            F.col("a.nm").alias("nm_a"),
            F.col("b.nm").alias("nm_b"),
            F.col("a.rows").alias("rows_a"),
            F.col("b.rows").alias("rows_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("nm_a", "nm_b")
    ).filter(F.col("dist") <= max_dist).select("nm_a", "nm_b", "dist", "rows_a", "rows_b")

# --------------------------------------------------- prefix-filter join ---

def prefix_filter_candidates(
    sh_tbl: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the prefix-filtered self-join
    over a (doc, shs) shingle table — the stage whose cardinality decides
    whether the exact join scales (tools/scaling_check.py records it per
    scale point). All prunes are integer-exact and lossless:

    - prefix filter: index only each doc's first
      ``p = |d| − ⌈t·|d|⌉ + 1`` shingles in the global rare-first
      (document frequency, shingle) order — two sets with J ≥ t MUST
      collide inside their prefixes;
    - length filter (per collision row): J ≥ t forces t·|B| ≤ |A| (and
      symmetrically) — t_den·|A| ≥ t_num·|B|;
    - AGGREGATED positional filter (per pair — the PPJoin+-tier
      tightening of Xiao et al.'s per-collision bound): the required
      overlap is α = ⌈t·(|A|+|B|)/(1+t)⌉. Every common element is
      either a prefix×prefix collision (exactly ``cnt`` of those for
      the pair) or sits OUTSIDE one side's prefix — and any such
      element is greater in the global order than the pair's LAST
      collision, hence after position i_last in A and j_last in B (the
      order is total and shared, so both coordinates of the max
      collision come from the same posting row and max() over each is
      safe). So overlap ≤ cnt + min(|A|−i_last, |B|−j_last) — strictly
      tighter than the old any-collision-passes filter
      (cnt−1 ≤ min(i_last−i_first, j_last−j_first) telescopes it into
      the per-row bound at the first collision). Soundness requires
      cnt to count ALL collisions, so there is deliberately no per-row
      positional pre-drop. The pair-level groupBy replaces a distinct —
      same single exchange, strictly fewer candidates reaching the
      verify join (measured at sf0.1 documents: 325,362 → 310,170
      verified candidates at t=3/10, 498,421 → 477,829 at t=1/5; the
      raw length-filtered collision space is 596k/766k pairs).
    """
    from pyspark.sql import Window

    sh = sh_tbl.select("doc", F.explode_outer("shs").alias("sh"))
    vocab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_cnt"))
    # |d| rides along from the array — no second (unordered) window pass
    sh_n = sh_tbl.select(
        "doc", F.size("shs").alias("__n"), F.explode_outer("shs").alias("sh")
    )
    wo = Window.partitionBy("doc").orderBy("df_cnt", "sh")
    prefix = (
        sh_n.join(vocab, "sh")
        .withColumn("__rn", F.row_number().over(wo))
        .filter(
            F.col("__rn")
            <= F.col("__n")
            - F.expr(f"({t_num} * __n + {t_den} - 1) div {t_den}")
            + 1
        )
        .select("doc", "sh", "__n", "__rn")
        # both self-join sides consume the join+window pipeline above;
        # persist the (much smaller than the full index) prefix postings
        # so it runs once
        .persist()
    )
    a, b = prefix.alias("a").hint("merge"), prefix.alias("b").hint("merge")
    alpha_agg = F.expr(
        f"({t_num} * (n_a + n_b) + {t_num} + {t_den} - 1) "
        f"div ({t_num} + {t_den})"
    )
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("a.__n") * t_den >= F.col("b.__n") * t_num)
            & (F.col("b.__n") * t_den >= F.col("a.__n") * t_num),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("a.__rn").alias("i_last"),
            F.max("b.__rn").alias("j_last"),
            F.max("a.__n").alias("n_a"),  # constant per doc — max = the value
            F.max("b.__n").alias("n_b"),
        )
        .filter(
            F.col("cnt")
            + F.least(
                F.col("n_a") - F.col("i_last"), F.col("n_b") - F.col("j_last")
            )
            >= alpha_agg
        )
        .select("doc_a", "doc_b")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    t_num: int = 3,
    t_den: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering (the
    PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al. ICDE'08):
    all pairs with Jaccard ≥ t_num/t_den, with NO recall loss, without
    indexing every shingle.

    The prefix principle: order the shingle vocabulary globally (rarest
    first — document frequency ascending, shingle as tiebreak), and for a
    doc with |d| shingles index only its first ``p = |d| − ⌈t·|d|⌉ + 1``
    shingles in that order. Two sets with Jaccard ≥ t MUST collide inside
    their prefixes: if all of A∩B sat past A's prefix, the overlap would
    be at most ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|. So the candidate index
    shrinks by the factor the threshold allows (t=0.5 → half the
    postings; rare-first ordering makes the surviving postings the
    LEAST collision-prone ones) — the principled at-scale alternative to
    ``jaccard_pairs``'s hot-shingle cap, which trades recall for the
    same bound.

    Everything is integer-exact: the prefix length uses
    ``⌈a/b⌉ = (a + b − 1) div b`` and the final verify compares
    ``t_den·|A∩B| ≥ t_num·|A∪B|`` — no float enters any decision, so
    the output equals the exhaustive join bit-for-bit (the oracle runs
    the exhaustive join; equality IS the no-recall-loss proof).

    Scale shape: the global order is USED, never MATERIALIZED — the
    per-doc window orders by the (document frequency, shingle) tuple
    directly, so no integer rank table and no global sort ever exist;
    one vocabulary count aggregate, one join to attach df, one per-doc
    window, and the self-join only over prefix postings. The shingle
    table is persisted for its four consumers (vocab, prefix, both
    verify sides) — same contract as ``jaccard_pairs``.
    """
    sh_tbl = shingle_table(df, text_col, id_col, n).persist()
    cand = prefix_filter_candidates(sh_tbl, t_num, t_den)
    sa = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("shs").alias("sh_a"))
    sb = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("shs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(inter * t_den >= union * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


def containment_candidates(
    sh_tbl: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """The candidate stage of ``containment_pairs`` — distinct
    (doc_a, doc_b) pairs whose probe prefix collides with the full
    postings under the length filter. Split out (the
    ``prefix_filter_candidates`` pattern) so tools/scaling_check.py can
    record this cardinality per scale point: it is where the engine's
    quadratic would live, and it must track co-colliding prefix
    postings, never documents²."""
    from pyspark.sql import Window

    sh = sh_tbl.select("doc", F.explode_outer("shs").alias("sh"))
    vocab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_cnt"))
    sh_n = sh_tbl.select(
        "doc", F.size("shs").alias("__n"), F.explode_outer("shs").alias("sh")
    )
    wo = Window.partitionBy("doc").orderBy("df_cnt", "sh")
    prefix = (
        sh_n.join(vocab, "sh")
        .withColumn("__rn", F.row_number().over(wo))
        .filter(
            F.col("__rn")
            <= F.col("__n")
            - F.expr(f"({t_num} * __n + {t_den} - 1) div {t_den}")
            + 1
        )
        .select(F.col("doc").alias("doc_a"), "sh", F.col("__n").alias("n_a"))
    )
    full = sh_n.select(
        F.col("doc").alias("doc_b"), "sh", F.col("__n").alias("n_b")
    )
    return (
        prefix.join(
            full,
            (prefix["sh"] == full["sh"])
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") * t_den >= F.col("n_a") * t_num),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    t_num: int = 4,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """EXACT asymmetric-containment join: every ordered pair
    ``(doc_a, doc_b)`` with ``|S_A ∩ S_B| ≥ t·|S_A|`` over distinct
    word-``n``-gram shingle sets — the inclusion detector Jaccard dedup
    is blind to: a quote, a syndicated article, or a benchmark item
    EMBEDDED in a much larger page has tiny Jaccard (the union is
    dominated by the host) but containment ≈ 1. This is the graded
    companion to ``curation.contamination``'s binary n-gram collision
    test and the boilerplate-inclusion audit of a crawl corpus.

    Exactness via the asymmetric prefix principle (Bayardo WWW'07 §3.2
    adapted to containment): only A's side thresholds, so A probes with
    its first ``p_A = |A| − ⌈t·|A|⌉ + 1`` shingles in the global
    rare-first (document frequency, shingle) order — if all of A∩B sat
    past A's prefix, the overlap would be ≤ ⌈t·|A|⌉ − 1 < t·|A| — while
    the candidate side B must be FULLY indexed (nothing bounds which of
    B's shingles A hits). The full index is the same postings relation
    the retrieval tier already maintains (retrieval.postings); the
    probe side shrinks by the (1−t) prefix factor, and because prefixes
    take the RAREST shingles first, stop-shingle hot buckets almost
    never enter the probe side — the hot-bucket quadratic lives only on
    the indexed side, linearly. The length filter ``t_den·|B| ≥
    t_num·|A|`` (integer-exact ⌈t·|A|⌉ ≤ |B|) drops pairs whose target
    is too small to contain the probe. Verify recomputes the TRUE
    overlap from the full shingle arrays, so the output equals the
    exhaustive self-join bit-for-bit — the oracle runs the exhaustive
    join; equality IS the no-recall-loss proof.

    Returns ``(doc_a, doc_b, inter, n_a, containment)`` — doc_a's set
    ``containment``-contained in doc_b; both directions emitted when
    both hold (reference's closest surface: the reference has no
    similarity machinery at all — this extends SURVEY.md §2.C's dedup
    tier)."""
    sh_tbl = shingle_table(df, text_col, id_col, n).persist()
    cand = containment_candidates(sh_tbl, t_num, t_den)
    sa = sh_tbl.select(F.col("doc").alias("doc_a"), F.col("shs").alias("sh_a"))
    sb = sh_tbl.select(F.col("doc").alias("doc_b"), F.col("shs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(inter * t_den >= F.size("sh_a") * t_num)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.round(inter / F.size("sh_a"), 4).alias("containment"),
        )
    )
