"""Multi-point scaling evidence for the most expensive headline queries
(r05 verdict item 6): every "O(groups x k) shuffle" claim in PLANS.md was
argued from the plan and verified at one scale point. This harness turns
the assertions into measurements.

It synthesizes an N-replica scale-up of sf0.1 under /tmp (keys offset per
replica so CARDINALITIES scale with volume — near-dup text perturbed so
the dedup pair structure doesn't degenerate into N-way identical
clusters), then runs the most expensive headline queries at every point,
recording wall-clock AND actual shuffle-write bytes (REST status API on a
UI-enabled session). A bounded-shuffle plan must scale shuffle bytes
sub-linearly — or, where the shuffle carries the data (dedup pipelines),
no worse than linearly — in input volume.

Round-7 additions (r06 verdict items 2, 5, 7):
- every scaled point is RESULT-CHECKED, not just timed: rows must be
  non-zero everywhere, equal across points for fixed-output queries, and
  strictly growing for volume-tracking ones (r06's q98 regression: the
  scaled runs returned 0 rows, timing a near-empty plan);
- q98 runs against a FREQUENCY-PRESERVING replica (ids offset, text
  unchanged) so per-token counts scale with the corpus and the
  N/(cap+1) heavy-hitter threshold keeps the same 30 survivors — the
  Caesar-shifted replica used by the dedup queries deliberately makes
  token spaces disjoint, which dilutes every key below threshold;
- the connector/streaming seam (q84, q112) joins the table so the
  Arrow-seam cost's growth rate is measured, not argued;
- a wide-row stress point: one pathological row with 1M cells (the
  workload ColumnFamilyWideRowRecordReader.java:240-429 exists for),
  paged + sliced + transposed, verified bounded per task at 1x and Nx.

Round-9 additions (r08 verdict items 6 + 7):
- the two materialized-index BUILD legs run as standalone rows
  (postings_build, ivfpq_build): the nightly 100 TB cost of the q176/q182
  serving paths, with per-point artifact_mb alongside wall/shuffle;
- q180 (perceptual image dedup) joins the candidate-count tier: its
  cand_pairs column measures the banded-Hamming candidate curve in the
  dense-duplicate regime the replicas create (letter bijections preserve
  pixel gradients, so replicas are perceptual near-dups of each other).

Writes SCALING_r13.json at the repo root (rendered into PLANS.md by
tools/plan_audit.py) and prints it.

Usage: python tools/scaling_check.py [--replicas N[,M...]] [--trials T]
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
QUERIES_UNDER_TEST = [
    "q33_dedup_minhash_lsh",
    "q47_similarity_ivf",
    "q62_stream_stream_join",
    "q82_quantile_sketch",
    "q34_dedup_simhash",
    "q92_semantic_dedup",
    # round-6 second batch: the new heavy shapes over documents. The
    # Caesar substitution makes replica token/chunk spaces disjoint, so
    # chunk-dup structure scales per replica (q97), candidate vocab grows
    # with volume while MG state stays capped (q98), the corpus-side bloom
    # build carries 5x keys into the same 64-word filter (q95), and the
    # grouped prefix sum ships 5x narrow bookkeeping rows (q96).
    "q95_incremental_dedup",
    "q96_corpus_mixing",
    "q97_chunk_dedup",
    "q98_heavy_hitters",
    # round-6 fourth batch: the bucketed write+join (both write exchanges
    # and the zero-shuffle SMJ scale with the fact volume — the claim is
    # the JOIN adds no shuffle on top of the writes) and the Merkle
    # repair (digest exchanges stay 16 rows; repair shuffle tracks the
    # divergent fraction, which replication keeps proportional)
    "q106_bucketed_join",
    "q107_merkle_repair",
    # round-7 batch (r06 verdict item 5): the two most expensive headline
    # paths — the Python DSv2 seam (batch write+read roundtrip, q84) and
    # the streaming commit-log + time-travel read (q112). The seam cost
    # is per-Arrow-batch with a fixed constant; both should scale
    # ~linearly in cells with fixed-row outputs.
    "q84_connector_datasource",
    "q112_snapshot_read",
    # round-7 final tier: the postings build + scored top-k (frequency-
    # preserving replica so df and N scale together and the top-10 set is
    # invariant), the batch funnel (3 window minima on one exchange —
    # shuffle tracks the fact table), its stateful streaming face (state
    # rows scale with users; output fixed), and the DPP drill-down (the
    # pruned fact read should track hot-day volume, with the dim pass
    # linear)
    "q135_bm25_retrieval",
    "q136_funnel_analysis",
    "q138_stream_funnel",
    "q139_dynamic_partition_pruning",
    # round-7 ER/phrase-mining tier: the Caesar substitution keeps each
    # replica's k-gram/token space disjoint, so winnowing pair counts and
    # sorted-neighborhood pairs scale ~linearly (blocks never straddle
    # replicas), and the collocation vocabulary/bigram table grows
    # per-replica while each groupBy stays map-side combined. q143 is
    # deliberately absent: its output is vocabulary-sized by design
    # (scale-invariance is the operator's whole claim) and `part` is not
    # a replicated table.
    "q141_winnowing_pairs",
    "q142_sorted_neighborhood",
    "q144_collocations",
    # prefix-filtered Jaccard: disjoint per-replica shingle spaces →
    # pair counts scale ~linearly; the claim under test is that the
    # prefix+position-pruned candidate join tracks volume, not volume²
    "q146_prefix_filter_jaccard",
    # PQ-ADC: codebook cells and the LUT are size-invariant; the code
    # table and rank window scale linearly; top-5 × 3 queries is fixed
    "q147_pq_adc_topk",
    # rolling z-score: replicas add NEW users with the same per-user
    # value stream, so the window exchange grows linearly and the
    # anomaly count scales ~xN
    "q150_anomaly_zscore",
    # PageRank: lineitem replicas repeat the same (part, supplier)
    # pairs, so the DISTINCT edge graph — and the output — is IDENTICAL
    # at every point; what scales is the edge-dedup exchange over the
    # xN scan. Rank values must also be point-invariant (same graph).
    "q152_pagerank",
    # round-7 fill/fusion/warehouse tier: the gap-fill spine grows with
    # per-user span-hours (new users per replica → grid rows xN); hybrid
    # RRF's heavy leg is the postings build (q135 shape — linear) while
    # the fusion stays k-sized (output fixed at 30); SCD2 run heads
    # scale with users on one exchange; the leakage split pays the
    # exact-Jaccard pair join (q146's claim) plus a handful of
    # component rounds — output is always the 2 split rows.
    "q156_time_gapfill",
    "q157_hybrid_rrf",
    "q162_scd2_history",
    "q163_leakage_safe_split",
    # ingest + maintenance: the JSONL fixture rewrite + PERMISSIVE parse
    # should track corpus bytes linearly with a fixed per-line constant
    # (output rows = lang buckets + quarantine, fixed); compaction's
    # manifest sizing + coalesce rewrite should track bytes with the
    # fixed 2-row content-contract output.
    "q160_jsonl_ingest",
    "q164_optimize_compaction",
    # round-8: the LSH-prefilter split (the sub-quadratic default whose
    # whole claim is that candidate pairs track near-dup clusters, not
    # volume² — candidate counts recorded per point, below) and the
    # materialized-postings serving path (frequency-preserving replica,
    # q135's contract; the timed cost is index build + artifact serve)
    "q175_lsh_leakage_split",
    "q176_indexed_retrieval",
    # round-9 (r08 verdict item 7): perceptual image dedup. The scaled
    # documents replicas stay perceptual NEAR-DUPS of their originals
    # under any letter bijection (the pixel plane is the text bytes),
    # so the TRUE pair space compounds across replicas — the
    # dense-duplicate regime, the exact workload image dedup exists
    # for. Round 10 (r09 verdict item 2): the engine now collapses
    # exact signatures BEFORE banding, so the candidate stage —
    # cand_pairs below counts dedup.signature_band_pairs, the stage
    # where a quadratic would live — tracks DISTINCT near-dup
    # signatures, not documents, and the max_bucket cap (now on
    # distinct sigs per bucket) can no longer fire on hot duplicate
    # clusters. q180's pair OUTPUT still grows with the true duplicate
    # pair space (that is the result, not overhead); q189 walks the
    # linear star/rep edge set instead.
    "q180_image_dedup_dhash",
    "q189_image_dedup_canonical",
    # round-10 additions. q195: one featurize scan + ≤n_buckets broadcast
    # weights + per-doc sum + TakeOrdered(budget) — wall must track the
    # scan, shuffle stays per-doc-linear. q197: the asymmetric prefix
    # engine — cand_pairs records the prefix×full collision space, which
    # must track co-colliding postings (Caesar replicas keep shingle
    # spaces disjoint → ~linear), never documents². q198: k map-only
    # scans + per-round 1-row argmax — fixed 6-row output, wall ~flat.
    "q195_dsir_selection",
    "q197_containment_dedup",
    "q198_kcenter_diversity",
    # round-11 additions. q193 (r10 verdict item 1's done condition):
    # corpus BPE tokenization AFTER the forced-vocab-broadcast removal
    # and the two-phase token-id rank — per-doc (doc, word)/(doc, token)
    # shuffles must track volume linearly and output rows (distinct
    # (doc, token) pairs) must grow; the vocab joins carry NO hint, so
    # the plan degrades to shuffle joins when the vocabulary outgrows
    # the threshold instead of OOMing. q202: end-to-end MJPEG-in-MP4
    # decode — pure per-doc codec kernels (mux + demux + T.81 decode),
    # zero joins, wall must track docs with output = 3 rows/doc.
    "q193_bpe_tokenize_docs",
    "q202_mjpeg_mp4_decode",
    # round-12 additions. q204: the OCC time-travel lifecycle (bootstrap
    # + 2 deltas + pinned/latest double serve) — freq-preserving replica
    # (q135's contract) so df and N scale together; wall tracks the
    # index build, output fixed at 2x top-10 x 3 query-ids. q205:
    # acoustic dedup — 2x per-doc codec kernels + the banded-Hamming
    # engine; cand_pairs counts the distinct-signature candidate stage
    # (the quadratic-risk stage); Caesar replicas perturb energies so
    # signature spaces stay mostly disjoint and pairs track per-replica
    # dup structure.
    "q204_occ_time_travel",
    "q205_audio_dedup",
    # round-13 addition. q207: video perceptual dedup — 2x per-doc MJPEG
    # muxes (1x/2x frame rate) + 65 bounded keyframe decodes per video +
    # the banded-Hamming engine; cand_pairs counts the distinct-signature
    # candidate stage. NOTE the regime difference vs q205: the fingerprint
    # is byte-ORDER comparisons over the first 65 text bytes, and a Caesar
    # bijection mostly PRESERVES order (only wraparound letters flip), so
    # replicas stay near-dups of their originals and the true pair space
    # compounds across replicas — the q189 dense-duplicate regime, where
    # candidates are output-driven; the count column is the alarm that
    # distinguishes that from an engine quadratic.
    "q207_video_dedup",
]

# r07 verdict item 5: for the pair-join queries the scaling table must
# expose the CANDIDATE-pair growth rate explicitly, not just wall/shuffle
# — the candidate stage is where quadratic blowup would live. Each entry
# counts the pairs that reach the exact-verify join at that scale point.


def _prefix_cand_count(tn: int, td: int):
    def fn(spark, sf_dir: str) -> int:
        from hive_cassandra_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sh_tbl = dedup.shingle_table(docs)
        return dedup.prefix_filter_candidates(sh_tbl, tn, td).count()

    return fn


def _lsh_cand_count(spark, sf_dir: str) -> int:
    from hive_cassandra_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh_tbl = dedup.shingle_table(docs)
    sig = dedup._signatures_from_shingles(sh_tbl, 12)
    return dedup.lsh_candidate_pairs(dedup.lsh_buckets(sig, 4, 3)).count()


def _dhash_cand_count(spark, sf_dir: str) -> int:
    """q180/q189's candidate space: every distinct-signature in-bucket
    pair the banded engine exact-verifies (max_hamming=128 disables the
    verdict filter, so the count is the pre-verify candidate set). This
    is the stage where a quadratic would live — the r10 engine runs it
    over DISTINCT signatures (exact duplicates pre-collapsed), so the
    curve must track distinct near-dup signatures, not documents."""
    from hive_cassandra_spark.operators import dedup, multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    sig = multimodal.image_dhash(
        multimodal.attach_image_payload(docs, container="bmp", wh_mod=(4, 3))
    )
    return dedup.signature_band_pairs(sig, max_hamming=128).count()


def _audio_cand_count(spark, sf_dir: str) -> int:
    """q205's candidate space: distinct-signature in-bucket pairs the
    banded engine exact-verifies over the unioned PCM+ulaw fingerprint
    table (max_hamming=128 disables the verdict filter)."""
    from pyspark.sql import functions as F2

    from hive_cassandra_spark.operators import dedup, multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    sig = (
        multimodal.audio_fingerprint(
            multimodal.attach_audio_payload(docs, container="pcm")
        ).withColumn("doc", F2.col("doc") * 2)
        .unionByName(
            multimodal.audio_fingerprint(
                multimodal.attach_audio_payload(docs, container="ulaw")
            ).withColumn("doc", F2.col("doc") * 2 + 1)
        )
    )
    return dedup.signature_band_pairs(sig, max_hamming=128).count()


def _containment_cand_count(tn: int, td: int):
    def fn(spark, sf_dir: str) -> int:
        from hive_cassandra_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sh_tbl = dedup.shingle_table(docs)
        return dedup.containment_candidates(sh_tbl, tn, td).count()

    return fn


def _video_cand_count(spark, sf_dir: str) -> int:
    """q207's candidate space: distinct-signature in-bucket pairs the
    banded engine exact-verifies over the unioned 1x/2x-rate
    fingerprint table (max_hamming=128 disables the verdict filter)."""
    from pyspark.sql import functions as F2

    from hive_cassandra_spark.operators import dedup, multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    sig = (
        multimodal.video_fingerprint(
            multimodal.attach_mjpeg_timeline_payload(docs, fps_mult=1)
        ).withColumn("doc", F2.col("doc") * 2)
        .unionByName(
            multimodal.video_fingerprint(
                multimodal.attach_mjpeg_timeline_payload(docs, fps_mult=2)
            ).withColumn("doc", F2.col("doc") * 2 + 1)
        )
    )
    return dedup.signature_band_pairs(sig, max_hamming=128).count()


CANDIDATE_COUNT = {
    "q146_prefix_filter_jaccard": _prefix_cand_count(3, 10),
    "q163_leakage_safe_split": _prefix_cand_count(1, 5),
    "q175_lsh_leakage_split": _lsh_cand_count,
    "q180_image_dedup_dhash": _dhash_cand_count,
    "q189_image_dedup_canonical": _dhash_cand_count,
    "q197_containment_dedup": _containment_cand_count(4, 5),
    "q205_audio_dedup": _audio_cand_count,
    "q207_video_dedup": _video_cand_count,
}
# Expected row behavior across scale points — the result check (r06
# verdict item 2). "fixed": output cardinality is scale-invariant (top-k /
# per-group / per-section outputs) and must be EQUAL at every point.
# "grows": output tracks volume and must strictly increase vs point a.
EXPECT_ROWS = {
    "q33_dedup_minhash_lsh": "grows",
    "q47_similarity_ivf": "fixed",
    "q62_stream_stream_join": "grows",
    "q82_quantile_sketch": "fixed",
    "q34_dedup_simhash": "grows",
    "q92_semantic_dedup": "grows",
    "q95_incremental_dedup": "grows",
    "q96_corpus_mixing": "fixed",
    "q97_chunk_dedup": "grows",
    "q98_heavy_hitters": "fixed",
    "q106_bucketed_join": "fixed",
    "q107_merkle_repair": "fixed",
    "q84_connector_datasource": "fixed",
    "q112_snapshot_read": "fixed",
    "q135_bm25_retrieval": "fixed",
    "q136_funnel_analysis": "fixed",
    "q138_stream_funnel": "fixed",
    "q139_dynamic_partition_pruning": "fixed",
    "q141_winnowing_pairs": "grows",
    "q142_sorted_neighborhood": "grows",
    "q144_collocations": "grows",
    "q146_prefix_filter_jaccard": "grows",
    "q147_pq_adc_topk": "fixed",
    "q150_anomaly_zscore": "grows",
    "q152_pagerank": "fixed",
    "q156_time_gapfill": "grows",
    "q157_hybrid_rrf": "fixed",
    "q162_scd2_history": "grows",
    "q163_leakage_safe_split": "fixed",
    "q160_jsonl_ingest": "fixed",
    "q164_optimize_compaction": "fixed",
    "q175_lsh_leakage_split": "fixed",
    "q176_indexed_retrieval": "fixed",
    "q180_image_dedup_dhash": "grows",
    # replicas give 1x-singleton docs near-dup partners → new clusters
    "q189_image_dedup_canonical": "grows",
    "postings_build": "grows",
    "ivfpq_build": "grows",
    "wide_row_stress": "grows",
    # pool docs scale with volume; containment pairs scale with the
    # per-replica near-dup structure; k-center always returns k rows
    "q195_dsir_selection": "grows",
    "q197_containment_dedup": "grows",
    "q198_kcenter_diversity": "fixed",
    "q193_bpe_tokenize_docs": "grows",
    "q202_mjpeg_mp4_decode": "grows",
    "q204_occ_time_travel": "fixed",
    "q205_audio_dedup": "grows",
    "q207_video_dedup": "grows",
}
# q98 reads the frequency-preserving documents replica: token counts must
# scale WITH the corpus for the MG threshold to keep the same survivors
FREQ_PRESERVING = {
    "q98_heavy_hitters",
    "q135_bm25_retrieval",
    "q176_indexed_retrieval",
    "q204_occ_time_travel",
    "postings_build",
}
# which table each query reads (only these get synthesized)
TABLES = ["documents", "embeddings", "events", "lineitem", "orders", "customer"]


def build_scaled_dir(spark, n: int) -> str:
    dst = f"/tmp/hcs_scale{n}x_{os.getpid()}"

    def replicate(name: str, perturb) -> None:
        src = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        reps = [perturb(src, i) if i else src for i in range(n)]
        out = functools.reduce(DataFrame.unionByName, reps)
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")

    # documents: ids offset; replica text runs through a PER-REPLICA
    # Caesar substitution — a character bijection preserves the
    # within-replica near-dup structure exactly while making every
    # replica's shingle space disjoint from every other's, so pair counts
    # scale ~linearly with volume. A mere suffix would leave each replica
    # a near-twin of its original (measured: 23x pair blowup at 2x
    # volume) — a harder workload, not a bigger one.
    alpha = "abcdefghijklmnopqrstuvwxyz"
    replicate(
        "documents",
        lambda df, i: df.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 100_000_000)
        ).withColumn(
            "text",
            F.translate(
                "text",
                alpha + alpha.upper(),
                (alpha[i:] + alpha[:i]) + (alpha[i:] + alpha[:i]).upper(),
            ),
        ),
    )
    # embeddings: ids offset, vectors deterministically jittered so ANN
    # cells fill with distinct points
    replicate(
        "embeddings",
        lambda df, i: df.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * 100_000_000)
        ).withColumn(
            "embedding",
            F.transform(
                "embedding", lambda x: (x * (1.0 + i * 1e-3)).cast("float")
            ),
        ),
    )
    # events: user/event ids offset — per-window key cardinality scales
    # with volume (the state-size axis for the streaming queries)
    replicate(
        "events",
        lambda df, i: df.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 1_000_000_000)
        ).withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000)),
    )
    replicate(
        "lineitem",
        lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * 1_000_000_000)
        ),
    )
    # orders: keys offset in lockstep with lineitem so the q106 join keeps
    # its 1:N structure at every scale point
    replicate(
        "orders",
        lambda df, i: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * 1_000_000_000)
        ),
    )
    # customer: keys offset — q84 roundtrips it through the DSv2 seam
    replicate(
        "customer",
        lambda df, i: df.withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(i * 100_000_000)
        ),
    )
    # frequency-preserving documents replica (q98): same ids offset, text
    # UNCHANGED — every replica repeats the same token stream, so counts
    # scale xN while the N/(cap+1) threshold also scales xN: the heavy-
    # hitter set is invariant and the scaled run times a full pipeline
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    freq = functools.reduce(
        DataFrame.unionByName,
        [
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 100_000_000))
            for i in range(n)
        ],
    )
    freq.write.mode("overwrite").parquet(f"{dst}_freq/documents.parquet")
    return dst


def wide_row_cells(spark, n_cells: int):
    """Synthesize the reference's pathological workload: ONE row with
    ``n_cells`` cells (ColumnFamilyWideRowRecordReader.java:240-429 exists
    because such rows break naive whole-row readers) next to 1000 normal
    10-cell rows."""
    hot = spark.range(n_cells).select(
        F.encode(F.lit("hot_row"), "utf-8").alias("row_key"),
        F.encode(F.format_string("c%012d", F.col("id")), "utf-8").alias(
            "column_name"
        ),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.lit(1).cast("long").alias("ts"),
    )
    cold = spark.range(10_000).select(
        F.encode(
            F.concat(F.lit("r"), (F.col("id") % 1000).cast("string")), "utf-8"
        ).alias("row_key"),
        F.encode(
            F.format_string("c%012d", (F.col("id") / 1000).cast("long")),
            "utf-8",
        ).alias("column_name"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.lit(1).cast("long").alias("ts"),
    )
    return hot.unionByName(cold)


def wide_row_stress(spark, n_cells: int):
    """Page + slice the pathological row; returns the (partition, page)
    groups so .count() tracks total pages (~n_cells/1000 — the 'grows'
    axis). Asserts the page bound is HONORED: no page carries more than
    page_size cells, i.e. a consumer resuming page-by-page never
    materializes an unbounded chunk, no matter how wide the row. The hot
    row's cells necessarily colocate in one task (that is the row-
    grouping semantic); boundedness comes from mapInPandas streaming
    Arrow batches and the spillable in-partition sort, which this run
    demonstrates by finishing flat-memory at every multiple."""
    from hive_cassandra_spark.source import paged_cells, slice_cells

    cells = wide_row_cells(spark, n_cells)
    # slice-range + per-row cap: the row_number window over the hot row
    # must spill, not OOM; the cap keeps 100k of the 1M+ cells
    sliced = slice_cells(
        cells, start="c", finish="d", reversed_order=True, count=100_000
    )
    n_sliced = sliced.count()
    assert n_sliced <= 100_000 + 10_000, n_sliced
    paged = paged_cells(cells, page_size=1000)
    groups = paged.groupBy("scan_partition", "page").agg(
        F.count(F.lit(1)).alias("n")
    )
    mx = groups.agg(F.max("n").alias("m")).collect()[0].m
    assert mx <= 1000, f"page bound violated: {mx}"
    return groups


ARTIFACT_PATH: dict[str, str] = {}


def postings_build(spark, sf_dir: str):
    """The q176 serving path's nightly cost (r08 verdict item 6): ONLY
    the index build — postings explode + corpus stats into the parquet
    artifact. Runs against the frequency-preserving replica (q135's
    contract) so df and N scale together; returns the postings table so
    .count() tracks artifact rows (the 'grows' axis). The artifact dir
    size lands in the record as artifact_mb."""
    import shutil

    from hive_cassandra_spark import sink
    from hive_cassandra_spark.operators import retrieval

    path = f"/tmp/hcs_scaling_postings_{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    retrieval.build_postings_index_occ(spark, docs, path)
    ARTIFACT_PATH["postings_build"] = path
    return sink.occ_snapshot(spark, path).read("postings")


def ivfpq_build(spark, sf_dir: str):
    """The q182 serving path's nightly cost: ONLY the IVF-PQ index build
    (coarse k-means round, PQ codebooks, assignments, codes → parquet).
    Returns the codes table (m rows per vector) so .count() tracks
    artifact rows; artifact_mb records the materialized index size —
    the ~128x-smaller-than-vectors claim, measured per point."""
    import shutil

    from hive_cassandra_spark import sink
    from hive_cassandra_spark.operators import similarity

    path = f"/tmp/hcs_scaling_ivfpq_{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.build_ivfpq_index_occ(
        spark, emb, path, n_cells=8, m=4, k_codes=8
    )
    ARTIFACT_PATH["ivfpq_build"] = path
    return sink.occ_snapshot(spark, path).read("codes")


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return round(total / 1e6, 2)


def shuffle_write_bytes(spark) -> int:
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def main() -> None:
    from hive_cassandra_spark.queries import QUERIES
    from hive_cassandra_spark.session import get_spark

    replicas, trials = [5, 10], 2
    if "--replicas" in sys.argv:
        replicas = [
            int(x)
            for x in sys.argv[sys.argv.index("--replicas") + 1].split(",")
        ]
    if "--trials" in sys.argv:
        trials = int(sys.argv[sys.argv.index("--trials") + 1])
    spark = get_spark(
        "scaling-check",
        extra_conf={
            "spark.ui.enabled": "true",  # the shuffle-bytes probe needs REST
            "spark.ui.port": "4242",
            # the 10x point broadcasts 10x-sized build sides; the default
            # 1g local heap can't hold them (fresh process → effective)
            "spark.driver.memory": "12g",
            # the shuffle-bytes probe sums CUMULATIVE per-stage counters;
            # with the default ~1000 retained stages a long run evicts
            # early stages and deltas go negative — retain everything
            "spark.ui.retainedStages": "100000",
        },
    )
    labels = [chr(ord("b") + i) for i in range(len(replicas))]
    dirs = {"a": SF_DIR}
    points = {"a": SF_DIR}
    for lab, n in zip(labels, replicas):
        d = build_scaled_dir(spark, n)
        dirs[lab] = d
        points[lab] = f"{d} ({n}x sf0.1)"
    out: dict = {
        "metric": "multi_point_scaling",
        "points": points,
        "trials": trials,
        # measurement-integrity stamp (the bench.py idle-gate discipline,
        # r10 verdict item 7): a hot box inflates wall-clock rows, so the
        # artifact records the load it was measured under
        "load1_at_start": round(os.getloadavg()[0], 2),
        "queries": {},
    }
    mult = {"a": 1}
    mult.update(dict(zip(labels, replicas)))
    WIDE_BASE = 1_000_000

    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    failures: list[str] = []
    extra_runners = {
        "postings_build": postings_build,
        "ivfpq_build": ivfpq_build,
    }
    for name in QUERIES_UNDER_TEST + [
        "postings_build", "ivfpq_build", "wide_row_stress",
    ]:
        if only is not None and name not in only:
            continue
        rec: dict = {}
        for label, sf_dir in dirs.items():
            if name == "wide_row_stress":
                fn = lambda s, _d, m=mult[label]: wide_row_stress(
                    s, WIDE_BASE * m
                )
            else:
                base_fn = (
                    extra_runners[name]
                    if name in extra_runners
                    else QUERIES[name].fn
                )
                if name in FREQ_PRESERVING and label != "a":
                    d = dirs[label] + "_freq"
                    fn = lambda s, _d, d=d, b=base_fn: b(s, d)
                else:
                    fn = base_fn
            fn(spark, sf_dir).count()  # warm: codegen + footers
            secs, rows, shuf = [], 0, 0
            for _ in range(trials):
                spark.catalog.clearCache()
                s0 = shuffle_write_bytes(spark)
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).count()
                secs.append(time.perf_counter() - t0)
                shuf = shuffle_write_bytes(spark) - s0
                if shuf < 0:
                    raise RuntimeError(
                        "stage store evicted mid-run — raise "
                        "spark.ui.retainedStages"
                    )
            rec[label] = {
                "sec": round(statistics.median(secs), 3),
                "rows": rows,
                "shuffle_mb": round(shuf / 1e6, 2),
            }
            if name in ARTIFACT_PATH:
                rec[label]["artifact_mb"] = dir_mb(ARTIFACT_PATH[name])
            if name in CANDIDATE_COUNT:
                # the frequency-preserving replica does not apply to the
                # dedup queries, so count against the dir the query read
                rec[label]["cand_pairs"] = CANDIDATE_COUNT[name](
                    spark, sf_dir
                )
        # result check (r06 verdict item 2): a scaled point that returns
        # a degenerate result is timing a near-empty plan, not evidence
        expect = EXPECT_ROWS[name]
        checks = []
        for lab in labels:
            ra, rl = rec["a"]["rows"], rec[lab]["rows"]
            if rl <= 0:
                checks.append(f"{lab}: empty result ({rl} rows)")
            elif expect == "fixed" and rl != ra:
                checks.append(f"{lab}: expected {ra} rows (fixed), got {rl}")
            elif expect == "grows" and rl <= ra:
                checks.append(f"{lab}: expected >{ra} rows (grows), got {rl}")
        rec["rows_check"] = "ok" if not checks else "; ".join(checks)
        if checks:
            failures.append(f"{name}: {rec['rows_check']}")
        sa = rec["a"]["shuffle_mb"]
        for lab in labels:
            rec[f"sec_ratio_{lab}"] = round(
                rec[lab]["sec"] / max(rec["a"]["sec"], 1e-9), 2
            )
            rec[f"shuffle_ratio_{lab}"] = (
                round(rec[lab]["shuffle_mb"] / sa, 2) if sa > 0 else None
            )
        out["queries"][name] = rec
        print(f"# {name}: {json.dumps(rec)}", file=sys.stderr)
    if only is not None and os.path.exists("/root/repo/SCALING_r13.json"):
        # --only refreshes a subset: merge into the existing rows rather
        # than discarding the un-rerun queries' measurements
        with open("/root/repo/SCALING_r13.json") as f:
            prev = json.load(f)
        merged = prev.get("queries", {})
        merged.update(out["queries"])
        out["queries"] = merged
    with open("/root/repo/SCALING_r13.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    if failures:
        print("RESULT-CHECK FAILURES:\n" + "\n".join(failures), file=sys.stderr)
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
