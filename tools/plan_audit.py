"""Physical-plan audit: dump the plan-shape facts that matter at 100 TB for
every headline query into PLANS.md.

For each query: join strategies chosen, number of exchanges (shuffles),
whether scans carry pushed filters, window/aggregate shapes, and any
Python/Arrow boundaries. Red flags (CartesianProduct, row-at-a-time
BatchEvalPython in a hot path, a scan with no pushed projection) get called
out so regressions are visible in review.

Usage: python tools/plan_audit.py [sf_dir]  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

INTERESTING = [
    ("BroadcastHashJoin", "broadcast hash join"),
    ("SortMergeJoin", "sort-merge join"),
    ("ShuffledHashJoin", "shuffled hash join"),
    ("BroadcastNestedLoopJoin", "broadcast nested-loop join"),
    ("CartesianProduct", "CARTESIAN PRODUCT (red flag)"),
    ("Exchange", "exchange (shuffle)"),
    ("ReusedExchange", "reused exchange (stage computed once)"),
    ("InMemoryTableScan", "cached subtree read"),
    ("AQEShuffleRead", "AQE shuffle read (coalesced)"),
    ("TakeOrderedAndProject", "top-K without global sort"),
    ("WindowGroupLimit", "window group limit (map-side rank pruning)"),
    ("Window", "window"),
    ("HashAggregate", "hash aggregate"),
    ("ObjectHashAggregate", "object hash aggregate (collect-style)"),
    ("SortAggregate", "sort aggregate"),
    ("ArrowEvalPython", "Arrow-vectorized Python (pandas_udf)"),
    ("BatchEvalPython", "ROW-AT-A-TIME PYTHON (red flag)"),
    ("MapInPandas", "mapInPandas (Arrow batches)"),
    ("MapInArrow", "mapInArrow (Arrow batches, no pandas)"),
    ("FlatMapGroupsInPandas", "grouped pandas"),
    ("WholeStageCodegen", "codegen span"),
]


# Measured facts worth pinning next to the mechanical counts.
NOTES = {
    "q195_dsir_selection": (
        "DSIR selection: ONE featurize scan per side (weights over the "
        "full corpus, scores over the pool), the ≤4096-row weight table "
        "broadcast-joins the exploded trigram occurrences BEFORE the "
        "only per-doc shuffle, totals are a 1-row broadcast attach, and "
        "the budget cut is TakeOrderedAndProject + a budget-sized "
        "broadcast membership probe — per-doc-linear at any corpus; "
        "fractional budgets would swap the cut for the q145 two-phase "
        "global rank."
    ),
    "q196_stream_indexed_retrieval": (
        "the wall is 1 bootstrap snapshot + 4 streamed OCC delta "
        "commits (each: delta postings + merged stats under one "
        "marker) + artifact-only BM25 serving — 5 parquet commit "
        "cycles of amortized maintenance work; the recurring 100 TB "
        "cost is one delta per micro-batch, scanning ONLY that batch's "
        "docs. Exactly-once content = checkpoint replay x marker-tag "
        "no-ops."
    ),
    "q197_containment_dedup": (
        "asymmetric prefix engine: the probe side indexes only its "
        "rare-first (1-t)-prefix (hot stop-shingles almost never enter "
        "it), the candidate side is the full postings relation, and the "
        "integer length filter prunes undersized targets before the "
        "verify join recomputes true overlap from the persisted shingle "
        "arrays. cand_pairs on the scaling curve records the collision "
        "space — it must track co-colliding postings, never documents^2."
    ),
    "q198_kcenter_diversity": (
        "k driver-coordinated rounds, each ONE map-only corpus scan "
        "(d2 against the single new center as a literal array) + a "
        "TakeOrdered(1) argmax; least() folds the running min-distance "
        "column and localCheckpoint truncates the k-deep lineage. No "
        "all-pairs stage exists anywhere in the plan."
    ),
    "q199_mp4_probe": (
        "container probe: the mux and the box walk are one Arrow "
        "mapInPandas kernel each; metadata out is ~100 bytes/doc and "
        "payload bytes never shuffle. At 100 TB this is the pre-decode "
        "filter pass — sample slicing routes ENCODED bytes to a "
        "decoder fleet without any codec library in the scan path."
    ),
    "q200_incremental_ann": (
        "incremental ANN maintenance: the wall is 2 OCC parquet commit "
        "cycles (bootstrap snapshot + delta) plus artifact-only "
        "serving; the delta encodes ONLY the new vectors against the "
        "frozen broadcast quantizers (route + residual + code = three "
        "broadcast joins and two per-id windows over delta-sized "
        "data). At 100 TB the recurring cost is the delta batch; "
        "serving unions artifact versions >= the snapshot floor. "
        "ROOT-CAUSE of MAINT_SCALING_r12's one open number (r12 "
        "verdict item 3 — delta wall 1.32x/1.36x at 5x/10x corpus "
        "with FLAT 0.1 MB shuffle): IVFPQ_PROBE_r13 reran the same "
        "fixed-200-vector delta against prebuilt 1x/5x/10x indexes "
        "with a FRESH recycled session per corpus point — medians "
        "4.16/1.77/1.36 s (ratios 0.43x/0.33x), i.e. no monotone "
        "corpus term at all once the immediately-preceding big "
        "build's session residue is shed (the same accumulated-"
        "context mechanism TIER_DRIFT_r12 root-caused for the bench "
        "heavy tier; the probe's own first point pays fresh-JVM "
        "warmup, visible in its descending trials). The delta plan "
        "has no corpus-dependent stage: its only corpus-adjacent "
        "reads are the one-part quantizer tables and the O(versions) "
        "marker listing, and the flat shuffle was the truthful "
        "signal."
    ),
    "q190_ann_recall": (
        "the eval tier: the exact ground truth is one corpus scan "
        "joined to the 3 broadcast queries (corpus never shuffles; "
        "WindowGroupLimit top-k), the approx side replays q148's "
        "IVF-PQ, and the overlap/percentage arithmetic runs on "
        "k-by-queries rows — integer recall (100*overlap div k), no "
        "float. At 100 TB the measurement is free; the cost is the "
        "rankings being evaluated, which is the point of the report."
    ),
    "q189_image_dedup_canonical": (
        "the production image-dedup output: q180's banded engine feeds a "
        "connectivity-sufficient star/rep edge set (exact duplicates "
        "hang off their signature's representative; near-dup edges join "
        "representatives only — LINEAR in docs, never the full pair "
        "expansion), Shiloach-Vishkin pointer jumping labels components "
        "in O(log n) rounds (localCheckpoint truncation, convergence by "
        "scalar sum), and one max_by per component picks the keeper. "
        "Candidate generation is quadratic only in DISTINCT near-dup "
        "signatures after the exact-signature pre-collapse (SCALING_r10: "
        "10x wall 47.8->6.1 s vs r09, monotone cand_pairs at 20x with no "
        "cap firing); the quality join touches only clustered ids — "
        "O(duplicates), never O(corpus)."
    ),
    "q187_bpe_apply": (
        "the serving half of the tokenizer pair: the learned merge "
        "table (parameter-bounded) collects as a literal LUT and the "
        "encode is ONE projection — a chain of literal replaces — over "
        "the (word, count) vocabulary; the token histogram is one "
        "map-side-combined aggregate and the dense ids come from the "
        "two-phase distributed global rank (since round 11 — the "
        "vocabulary grows with the corpus under Heaps' law, so it "
        "never funnels through one task). Timed cost is dominated by "
        "re-learning the merges (q184's chain); the encode itself adds "
        "a vocab-sized projection."
    ),
    "q193_bpe_tokenize_docs": (
        "the production tokenize-to-ids path after r10 verdict item 1: "
        "the corpus parses ONCE into the distinct (word, count) "
        "vocabulary, the merge chain runs on the vocabulary, token ids "
        "ride the two-phase distributed rank, and the vocab joins back "
        "to corpus words carry NO broadcast hint — AQE broadcasts "
        "while the vocabulary fits the threshold and degrades to a "
        "shuffle join on w/token when it doesn't (plan-asserted in "
        "test_text), so a billion-row crawl vocabulary can no longer "
        "OOM the driver. Per-doc shuffles track volume linearly "
        "(SCALING_r12)."
    ),
    "q188_incremental_retrieval": (
        "the index delta job, OCC-routed since round 11 (the legacy "
        "append-then-rename-swap path was deleted — one maintenance "
        "path, one crash semantics): only the odd-half documents are "
        "scanned (postings explode + stats), the delta postings + "
        "merged (n, s) stats publish under ONE version marker, and the "
        "even half is never rescanned. Serving reads only the "
        "refreshed artifact (q176's zero-document-scan contract); the "
        "oracle is q135's full-corpus BM25, so the hash is the "
        "merge-equals-rebuild proof."
    ),
    "q201_stream_quality_filter": (
        "the stateless streaming face of q194: the trained ≤2^k-row "
        "hashed weight table folds into ONE literal-map projection "
        "(aggregate/transform over the exploded trigram buckets — zero "
        "joins, zero state, zero shuffle per micro-batch), so ingest "
        "filtering runs at file-stream speed; the oracle is q194's "
        "batch formulation verbatim."
    ),
    "q202_mjpeg_mp4_decode": (
        "end-to-end video decode with zero media libraries: mux real "
        "baseline JPEGs into ISO BMFF (stsd codec 'jpeg'), demux via "
        "the stsc x stco x stsz sample join, Huffman+dequant+IDCT each "
        "sampled frame, and reduce to ~50-byte integer stats per frame "
        "— all inside per-doc Arrow kernels: pixel planes and payload "
        "bytes never shuffle, so the pipeline is embarrassingly "
        "parallel and scales with docs; decode is pixel-exact "
        "(constant-block DC argument), which the oracle replays "
        "byte-for-byte."
    ),
    "q203_stream_indexed_ann": (
        "the vector-side q196: bootstrap IVF-PQ snapshot (v1) + one OCC "
        "delta per micro-batch (v2-v4), each encoding ONLY its batch "
        "under the artifact's FROZEN quantizers (Faiss add() "
        "semantics), + a replayed-batch no-op probe + artifact-only "
        "serving. Expensive in the bench because it is 4 commit cycles "
        "+ a serve in one query; the recurring 100 TB cost is one "
        "delta per micro-batch scanning only that batch."
    ),
    "q204_occ_time_travel": (
        "bootstrap snapshot (v1) + two delta commits (v2, v3) + a "
        "rejected bad pin + BM25 served TWICE from the artifact — "
        "pinned at v2 (postings/meta restricted to versions <= 2, "
        "sink-level file listing, zero extra plan cost) and latest. "
        "The wall is 3 commit cycles + 2 serves; the pin itself is "
        "FREE at any scale (it only changes which part files the scan "
        "lists — SCALING_r12: wall flat 0.92x/1.04x at 5x/10x volume). "
        "Retention for pins across rebuilds: occ_vacuum("
        "retain_versions=K); partially-vacuumed pin ranges fail closed "
        "on the marker's recorded part counts. Delta-commit recurring "
        "cost: MAINT_SCALING_r12 — shuffle exactly linear in BATCH "
        "(0.18/0.35/0.67 MB at 250/500/1000 docs), wall+shuffle FLAT "
        "in corpus (1x/5x/10x: 9.0/6.9/6.0 s, 0.35 MB at every point)."
    ),
    "q205_audio_dedup": (
        "two per-doc codec kernels (PCM16 + G.711 mu-law encode, "
        "decode, 65-frame integer energy fingerprint — audio bytes "
        "never leave the Arrow kernels, ~20 B/doc emerges) feeding the "
        "q34/q180 banded-Hamming engine over the unioned signature "
        "table: exact-signature pre-collapse, distinct-signature "
        "banding, bit_count(xor) verify. 20x volume in 1.78x wall "
        "(SCALING_r13_20x; 1.59x in r12 — same tier) with candidate "
        "pairs tracking the compounding near-dup signature structure, "
        "never documents^2."
    ),
    "q206_audio_dedup_canonical": (
        "q205's codec + fingerprint kernels feeding the q189 production "
        "tail on audio: banded edges (exact pre-collapse + distinct-"
        "signature (pos,band) self-join), star/rep linear component "
        "edges converging in graph-diameter Shiloach-Vishkin rounds "
        "over hash-partitioned joins, then one per-cluster quality "
        "argmax (max-struct, map-side combined). No corpus^2 stage; "
        "cluster count tracks near-dup structure."
    ),
    "q207_video_dedup": (
        "two per-doc MJPEG-MP4 muxes (constant-block JPEG encodes "
        "memoized per task — <=256 distinct frames — then container "
        "mux) and 65 BOUNDED keyframe decodes per video regardless of "
        "clip length (sample table resolved once; identical compressed "
        "samples decode once per task via an exact-byte memo — the "
        "static-scene/slideshow case), ~20 B/doc emerging into the "
        "q34/q180 banded-Hamming engine. Video bytes never shuffle; "
        "the temporal slot grid makes the signature frame-rate-"
        "invariant, so the 2x-rate re-mux lands at Hamming 0 without "
        "any byte-level overlap. Candidate counts on the scaling curve "
        "(SCALING_r13) — NOTE the Caesar replicas mostly preserve "
        "byte-order comparisons, so replicas are true near-dups and "
        "the pair space is output-driven (the q189 dense regime), not "
        "an engine quadratic."
    ),
    "q208_video_dedup_canonical": (
        "q207's kernels + the q189/q206 component/canonical tail: "
        "banded edges, star/rep linear edges, diameter-bounded rounds, "
        "per-cluster argmax. The frame-rate-invariant Hamming-0 edge "
        "glues each doc's two muxes; keeper prefers the base-rate mux "
        "via the smaller even id on quality ties."
    ),
    "q209_video_scene_stats": (
        "65 bounded keyframe decodes per video in the slot-energy "
        "kernel (exact-byte sample memo; ~16 B/slot emerges), then "
        "the entire scene analysis is JVM codegen: lag + integer "
        "cross-multiplied cut rule + running-sum scene ids on ONE "
        "(doc ORDER BY slot) window exchange, a per-scene count, and "
        "the per-video rollup. No Python past the decode; no float "
        "thresholds anywhere."
    ),
    "q184_bpe_merges_bytes": (
        "q179's merge machinery over the 256-symbol byte alphabet: the "
        "hex projection (lower(hex(encode(w)))) is one codegen "
        "expression — no regex ever inspects the raw word, so unicode "
        "words participate and the ASCII boundary is gone. Same "
        "corpus-scanned-once / vocab-sized-rounds cost shape; symbol "
        "strings are ~3x longer (two hex chars + space per byte), which "
        "only scales the vocab-sized tail."
    ),
    "q185_occ_compaction": (
        "occ_compact_store, the one compaction: the compacted "
        "winners commit as a SNAPSHOT at the exact version the inputs "
        "were read at, so the raced ingest that claimed v4 first forces "
        "the refresh-and-retry — the lost-update window of the "
        "rename-swap discipline is structurally gone. Timed cost is the "
        "four staged writes + one winner aggregation (max-struct, "
        "map-side combined) + driver-side dirent vacuum."
    ),
    "q186_quality_model": (
        "training is one corpus scan: (doc, trigram) pairs dedup "
        "INSIDE the per-doc n-gram array (array_distinct before the "
        "outer explode — no occurrence-sized distinct exchange "
        "exists) -> one map-side-combined count -> a vocab-sized "
        "top-256 window (single-partition over the VOCABULARY only, "
        "never corpus rows); scoring explodes trigram occurrences and "
        "inner-joins the 256-row BROADCAST weight table BEFORE the "
        "only shuffle (the per-doc sum), so non-model grams never "
        "move. Integer weights + logit threshold: the keep verdict "
        "never touches a float."
    ),
    "q183_occ_commit": (
        "three staged parquet writes + atomic mkdir version claims + "
        "the recovery sweep; the protocol itself is driver-side dirent "
        "work — zero data movement beyond the committed files, and the "
        "loser's staging never becomes visible (store_version counts "
        "only published markers). The timed cost is the three writes."
    ),
    "q182_indexed_ann": (
        "the q176 pattern on the vector side: build_ivfpq_index_occ "
        "scans the embeddings once into one OCC snapshot commit "
        "(centroids + codebooks + assignments + codes + meta — the "
        "dominant parts are a few ints per "
        "vector, ~128x smaller than the vectors); serving probes nprobe "
        "cells and ADC-scores the probed codes reading ONLY the "
        "artifact (ivfpq_topk_indexed_occ, every table from one OCC "
        "snapshot) plus the checkpointed query rows — corpus vectors "
        "are never rescanned (plan-asserted: <=1 embeddings scan served "
        "vs >=5 inline)."
    ),
    "q180_image_dedup_dhash": (
        "the decode+dHash kernel is one Arrow mapInPandas pass "
        "(repartitioned to cores); the signature table is 3 longs/doc, "
        "so the banded-Hamming join (q34's engine: (pos, band) groupBy, "
        "in-bucket pair explode, bucket-width cap) runs over a relation "
        "~10^4x smaller than the payloads — image bytes never enter a "
        "shuffle."
    ),
    "q181_k_anonymity": (
        "three count aggregates over one fact scan, joined back on "
        "their own grouping keys (broadcast while small; identical "
        "hash keys at 100 TB so the join adds no new exchange shape), "
        "then a codegen CASE ladder + one rollup. No fact-table "
        "window, no collect; suppression accounting rides the same "
        "pass."
    ),
    "q179_bpe_merges": (
        "the corpus is scanned ONCE into the (word, count) vocabulary; "
        "all five merge rounds then operate on vocab-sized checkpointed "
        "tables — each round is one pair-explode + map-side-combined "
        "sum, a 1-row total-ordered argmax joined back as a broadcast "
        "nested loop (1 row — the legitimate BNLJ), and a literal "
        "replace projection. Corpus bytes never re-enter after round 0, "
        "so n_merges scales the vocab-sized tail, not the corpus scan."
    ),
    "q175_lsh_leakage_split": (
        "the sub-quadratic production split (r07 verdict item 2): "
        "candidates come from MinHash band collisions — one shingle "
        "explode, one groupBy(doc) with 12 parallel min-aggregates, one "
        "(band, bucket) exchange — so the candidate set tracks near-dup "
        "clusters, not volume² (SCALING_r08 records cand_pairs per "
        "point); the verify is an integer-exact Jaccard on the FULL "
        "shingle sets of candidates only. Recall is the (1−s^r)^b "
        "S-curve and the whole function is deterministic, so the DuckDB "
        "oracle replays the identical bands + verify bit-for-bit. "
        "q163's exact PPJoin stays as the audit path."
    ),
    "q176_indexed_retrieval": (
        "the materialized-postings serving path (r07 verdict item 3): "
        "build_postings_index_occ scans the documents parquet exactly TWICE "
        "(postings explode + corpus count — vs 11 scans / 25 exchanges "
        "in q172's inline plan, PLANS r07), then the BM25 ranking, the "
        "derived qrels, AND the eval all read only the parquet "
        "postings artifact — the serving plan contains zero document "
        "scans (plan-asserted in test_retrieval). At 100 TB the build "
        "is the amortized nightly job; queries are interactive."
    ),
    "q177_recovery_runbook": (
        "store build (3 append generations) + occ_compact_store on a "
        "copy + an injected between-renames crash (REAL artifacts: the "
        "compacted copy parked as .compacting-T, the pre-compaction "
        "store as .old-T) + recover_store roll-forward + read-back "
        "rollup. Recovery itself is pure driver-side dirent work — "
        "zero data movement; the timed cost is the store write + "
        "compaction it shares with q94."
    ),
    "q178_multimodal_jpeg_progressive": (
        "same Arrow mapInPandas batch shape as q127 (repartitioned to "
        "defaultParallelism before the CPU-bound kernel); the decode "
        "accumulates FOUR SOF2 scans (DC/AC spectral bands at Al=1, "
        "then correction-bit refinements) into the coefficient array "
        "before a single vectorized IDCT — scan cost is entropy-coded "
        "bytes, paid once per scan, still linear in payload bytes."
    ),
    "q156_time_gapfill": (
        "the spine is PER-ENTITY (sequence/explode bounded by each "
        "entity's own min→max hour span — never entity × global span), "
        "so grid rows are Σ span-hours; the fill is an equi-join on "
        "(entity, hour), co-keyed with the hourly aggregate (broadcast "
        "at this scale, SMJ-able at 100 TB with no extra exchange). "
        "Values are fixed-point BIGINT cents."
    ),
    "q158_gapfill_locf": (
        "q156's grid plus ONE entity window (last(ignorenulls) over "
        "unbounded preceding) — one more exchange, one carried value of "
        "state per entity however long the grid is."
    ),
    "q157_hybrid_rrf": (
        "the two retrievers dominate (BM25 postings build = q135's "
        "shape; dense = broadcast-probe brute cosine); the fusion "
        "itself sees only k·|queries| rows regardless of corpus size — "
        "one unionAll (no shuffle), one hash aggregate, one "
        "WindowGroupLimit. Scores are BIGINT floor divisions, so the "
        "fused ranking is engine-exact."
    ),
    "q159_ewma_chart": (
        "all 8 lags share ONE window spec → one exchange + one sort + "
        "one Window operator with 8 frame readers; per-row state is 8 "
        "values regardless of series length. No float recurrence — "
        "BIGINT cents times power-of-two weights."
    ),
    "q160_jsonl_ingest": (
        "explicit schema (inference would be a second full pass over "
        "100 TB), PERMISSIVE Jackson parse splits by line across tasks "
        "like any text input; ONE classifying hash aggregate reads the "
        "scan once and makes the quarantine an auditable row, never a "
        "silent drop."
    ),
    "q161_csv_ingest": (
        "q160's contract on the Univocity CSV reader: type-level "
        "malformations quarantine per line; single classifying "
        "aggregate, single scan."
    ),
    "q162_scd2_history": (
        "gaps-and-islands run heads + lead() close share one "
        "partitioning and sort: Exchange → Sort → Window → Filter → "
        "Window (plan-asserted 1 exchange / 1 sort / 2 Windows); "
        "per-row state is one lag/lead value, entity key shards freely."
    ),
    "q163_leakage_safe_split": (
        "the PREFIX-FILTERED exact-Jaccard pair join is the dominant "
        "leg (q146's PPJoin machinery — no hot-shingle recall cap, "
        "and its measured claim: linear shuffle at 10x with disjoint "
        "shingle spaces); components converge in a handful of min-label rounds "
        "(near-dup clusters are small-diameter), and the split itself "
        "is a zero-shuffle md5 projection over cluster roots — every "
        "cluster lands wholly in one split by construction."
    ),
    "q164_optimize_compaction": (
        "sizing is a driver-side FileSystem listing (manifest-level, "
        "one RPC per file, no data read — how real OPTIMIZE plans); "
        "the rewrite is coalesce — pure packing moves no row between "
        "tasks, zero shuffle; clustering rewrites are zorder_write's "
        "job and pay their range exchange deliberately."
    ),
    "q165_incremental_agg": (
        "maintenance cost is O(|aggregate| + |delta|): one delta hash "
        "aggregate + one unionByName + one merge aggregate, all "
        "map-side combinable, no join, no window — the base SOURCE is "
        "never rescanned, which is the whole point of IVM at 100 TB. "
        "Retractions ride a ±1 weight; zero-count groups drop to match "
        "a full recompute."
    ),
    "q166_multimodal_jpeg_color": (
        "per-payload CPU kernel (3-component interleaved Huffman "
        "decode + 3 IDCTs) behind Arrow mapInPandas, repartitioned "
        "across cores first (q127 lesson); plane sums are exact BIGINT "
        "so the oracle replays the whole pipeline from the fixture "
        "bytes."
    ),
    "q167_stream_jsonl_ingest": (
        "FileStreamSource picks up each part exactly once; the "
        "quarantine classification runs as a streaming aggregation "
        "(state = one row per bucket — bounded by language cardinality, "
        "not volume); bounded replay hash-equals the batch q160."
    ),
    "q168_multimodal_jpeg_420": (
        "the 6-block MCU walk (4 Y + Cb + Cr, three DC predictors) is "
        "per-payload kernel work like q166; chroma planes carry 1/4 the "
        "coefficients — the bytes-on-wire reason 4:2:0 is the camera "
        "default — and upsample by replication inside the kernel."
    ),
    "q169_association_rules": (
        "one DISTINCT (basket, item) exchange; the self-join rides the "
        "same basket hash partitioning, pair counts are map-side "
        "combinable (fanout C(k,2) per basket, with the deterministic "
        "max_basket_size exclusion for pathological baskets), item "
        "supports and the one-row N attach by broadcast. The relative "
        "min-support threshold keeps selectivity scale-stable. Not in "
        "the scaling table for the q143 reason: `part` is not a "
        "replicated fixture table, so replica lineitem rows would drop "
        "at the brand join and the scaled run would time a near-empty "
        "pipeline."
    ),
    "q170_table_diff": (
        "two per-version rollups + ONE full-outer equi-join — both "
        "sides shuffle once on the same key hash, the classification "
        "is a codegen projection, and unchanged keys filter out so the "
        "output is delta-sized, never table-sized."
    ),
    "q172_retrieval_eval": (
        "the q135 postings/ranking build dominates (same inline-replay "
        "shape, production materializes postings once); the evaluation "
        "itself joins a k x |queries| rank list to the judgments and "
        "aggregates per query — corpus-size-independent, which is what "
        "makes eval-every-build feasible."
    ),
    "q173_state_durations": (
        "q162's single entity exchange and sort feed the interval "
        "build; the horizon is a one-row broadcast cross join; the "
        "final (entity, state) aggregate is map-side combinable — "
        "durations are epoch-microsecond BIGINT differences, exact and "
        "additive, conserving each entity's total time at any scale."
    ),
    "q174_zorder_3d": (
        "the 3-way interleave is 30 div/mod terms in one whole-stage-"
        "codegen span over the scan — zero shuffle for the key itself; "
        "the one exchange is the gate's bucket aggregate. Layout payoff "
        "(per-file min/max tightening on ALL listed dims vs a hash-"
        "random baseline) is footer-asserted in test_relational, with "
        "the two Morton preconditions documented: dimensions must fit "
        "the bit budget and occupy comparable high bits (rescale)."
    ),
    "q149_document_chunks": (
        "pure projection fan-out: sequence/explode/substring/md5 in one "
        "codegen span over the documents scan — ZERO exchanges. Output "
        "rows are ~100 bytes (md5 + offsets, never the overlapped chunk "
        "text), so a downstream shuffle on chunks carries hashes, not "
        "multiplied corpus bytes."
    ),
    "q150_anomaly_zscore": (
        "count/S1/S2 share one frame spec, so the plan carries ONE "
        "Window operator on ONE hashpartitioning(user_id) exchange; the "
        "verdict filter is a post-window projection. The sums are "
        "BIGINT fixed-point — no float stddev in the plan at all."
    ),
    "q151_gopher_quality": (
        "zero-exchange per-row array folds (token/line higher-order "
        "functions) in a single codegen span — scan-speed; all seven "
        "keep-thresholds are integer cross-products, so no float "
        "comparison gates the verdict."
    ),
    "q152_pagerank": (
        "per-round NON-EAGER localCheckpoint truncates the plan to an "
        "RDD-backed node (the fully lazy recursion re-expanded the "
        "source subtree multiplicatively: 65 scans/122 exchanges at "
        "K=3 before truncation), so the audited plan is just the "
        "checkpoint-block read; each iteration contributes one "
        "edges⋈ranks SMJ on src + one contrib aggregate on dst at the "
        "RDD layer, where the DAG shares every stage. Dangling mass "
        "and N stay ONE-ROW broadcast cross joins — no collect."
    ),
    "q154_phrase_match": (
        "one narrow (id, pos, token) explode broadcast-joined to the "
        "literal dictionary (BroadcastHashJoin, corpus never shuffles "
        "for candidates), then the slice-verify join touches only "
        "candidate docs; the only exchange is the final (id, phrase) "
        "count aggregate."
    ),
    "q155_stream_anomaly": (
        "applyInPandasWithState keyed on user_id (8 state partitions in "
        "the bounded harness): state is the buffered per-entity stream, "
        "re-sorted and re-resolved per update so out-of-order arrival "
        "cannot corrupt verdicts (adversarial two-batch test); emits the "
        "full current anomaly set + tombstones, consumer keeps max-seq. "
        "Production bounds state via watermark finalize-and-evict."
    ),
    "q153_expectations": (
        "one aggregation pass over one scan: counts/min are map-side "
        "combinable, the exact uniqueness distinct rides the expand "
        "rewrite, and the report explodes from a single driver-sized "
        "row — the only exchange is the global aggregate's."
    ),
    "q148_ivfpq_topk": (
        "the two quantizer trainings and the encode pass are the only "
        "corpus-wide work (each a broadcast-join + hash aggregate of "
        "cell-count-bounded output); the query side touches only the "
        "probed cells: probes (nprobe rows) join the cell assignment, "
        "then the code table joins a BROADCAST per-(query, cell) "
        "residual LUT — at deployment scale, codes+assignment would be "
        "the materialized index and everything upstream is build-once. "
        "Scanned fraction ~nprobe/n_cells, bytes/item ~128x down."
    ),
    "q147_pq_adc_topk": (
        "everything after the positional explode is sub-linear: codebook "
        "training aggregates m*k*(dim/m) cells regardless of N, the "
        "encode and LUT joins BROADCAST the (m x k x dim/m) centroid "
        "table, scoring joins the N x m code table to the broadcast m*k "
        "LUT and never touches a corpus vector, and the top-k is a "
        "per-query rank window over N narrow ADC rows. The 128x "
        "working-set cut (64 doubles -> 4 codes) is the point."
    ),
    "q146_prefix_filter_jaccard": (
        "the prefix index is built by ONE vocabulary-count aggregate + "
        "one df-attach join + one per-doc window (global order is used, "
        "never materialized — no rank table, no global sort); the "
        "self-join carries PPJoin's integer-exact length and position "
        "prunes in the join condition (measured: 648k raw prefix "
        "collisions → 325k candidates at t=0.3, fewer at the registered "
        "t=0.5), and the exact verify compares t_den·|∩| ≥ t_num·|∪| on "
        "the persisted full shingle arrays. At toy scale the ~7 s is "
        "per-stage fixed overhead across the 6-exchange pipeline; the "
        "oracle equality to the EXHAUSTIVE join is the zero-recall-loss "
        "proof."
    ),
    "q145_equidepth_histogram": (
        "exact order statistics WITHOUT a global sort: the rank is the "
        "two-phase global row number (order-contiguous literal-split "
        "buckets → per-bucket windows + a broadcast ≤32-row offsets "
        "prefix), N is a 1-row broadcast, and the bucket id is BIGINT "
        "rank·k div N — the final aggregate emits ≤ k rows. The "
        "equi-width q121 is one counting pass; this pays one extra "
        "hash exchange for exact quantile boundaries."
    ),
    "q141_winnowing_pairs": (
        "fingerprint selection is one projection chain (zero shuffle; the "
        "staged norm→hashes→window-min projections are load-bearing — "
        "inlined, Catalyst re-evaluates the k-gram array per window at "
        "O(n²)/row and the inferred size()>0 filter from a plain explode "
        "re-triggers it, hence explode_outer). The only exchanges are the "
        "md5-uniform fingerprint self-join and the pair count; the hot-"
        "fingerprint anti-join broadcasts a tiny boilerplate set, bounding "
        "the k² candidate blow-up exactly like q32's shingle cap."
    ),
    "q142_sorted_neighborhood": (
        "one partitioned window (first-token block, ordered by unique "
        "(norm, id)) feeds both lead offsets — a single sort exchange, "
        "never a global ORDER BY; candidates are O(rows × window) by "
        "construction and levenshtein runs on an 80-char prefix cap. At "
        "100 TB the block key spreads the sort; a skewed first token is "
        "the known method tradeoff (multi-pass with rotated keys is the "
        "standard remedy and composes from this same operator)."
    ),
    "q143_edit_distance_join": (
        "fact rows reduce to the DISTINCT name vocabulary (map-side-"
        "combined groupBy carrying per-name row counts) before any "
        "pairing; the token-blocked self-join broadcasts the vocabulary "
        "side, so pair space is vocab-sized — at 100 TB the quadratic "
        "work never touches row counts, only the name dictionary."
    ),
    "q144_collocations": (
        "two map-side-combinable groupBys (bigram support, unigram "
        "counts) are the only exchanges; the unigram table and the "
        "1-row token total broadcast onto the support table, and the "
        "score is BIGINT div — no float, no window, no row-quadratic "
        "step anywhere."
    ),
    "q139_dynamic_partition_pruning": (
        "the hot-day dim is an aggregate of the same table, so the pruning "
        "set exists only at runtime: the fact scan carries a "
        "dynamicpruningexpression in PartitionFilters (broadcast reuse, "
        "plan-asserted in test_scale_plans) — only hot days' files open. "
        "The dim-building pass necessarily reads all partitions once; at "
        "100 TB that pass is the aggregate's map side, while the drill-down "
        "re-scan is what DPP eliminates."
    ),
    "q140_kmeans_clusters": (
        "per Lloyd round: centroid update re-aggregates the long-form "
        "vectors by (cluster, position), assignment joins them to the "
        "BROADCAST k x dim centroid table and argmins over an id window — "
        "N x k narrow rows per exchange, the textbook relational k-means "
        "cost, with no driver collect; the IVF literal-fold assignment is "
        "the documented zero-shuffle alternative once the bit-replayable "
        "oracle contract is dropped."
    ),
    "q138_stream_funnel": (
        "state is per-user candidate buffers re-resolved each update — "
        "order-insensitive, so the bounded replay equals the batch funnel "
        "under ANY micro-batch split (test_streaming replays the halves "
        "time-reversed); the monotone-safe horizon prune keeps buffers at "
        "O(conversion-window events) per entity."
    ),
    "q135_bm25_retrieval": (
        "the 7 scans are the inline tf/df/dl/corpus stats each replaying the "
        "column-pruned (doc_id, text) scan — Spark's exchange reuse does not "
        "canonicalize through the tokenizer lambda; the deployment shape is "
        "bm25_topk(post=...) over a postings table materialized once per "
        "corpus version (test_retrieval pins inline == prebuilt), which "
        "collapses every stat to one pass over the far smaller index. "
        "Scoring itself is broadcast-only (term stats + one-row corpus "
        "probe) and the top-k is WindowGroupLimit, never a global sort."
    ),
    "q136_funnel_analysis": (
        "all three funnel stages are conditional window minima stacked on "
        "ONE user_id exchange (plan shows 2 exchanges total: fact window + "
        "stage rollup); the oracle's textbook per-stage self-join formulation "
        "would shuffle the fact table once per stage."
    ),
    "q137_cohort_retention": (
        "first-seen via window min on the same single fact exchange; the "
        "cohort rollup exchange carries only (cohort_week, week_offset) "
        "partial aggregates with map-side distinct expansion."
    ),
    "q82_quantile_sketch": (
        "bottom-k sample: WindowGroupLimit Partial prunes to <=256 rows/group "
        "inside each map task BEFORE the single exchange, so the shuffle "
        "carries O(groups x k) rows regardless of input size; the estimate "
        "windows run over the already-bounded sample."
    ),
    "q47_similarity_ivf": (
        "cost is whole-stage-codegen of the 16x64 literal centroid vectors — "
        "fixed compile overhead, amortized on a long-lived cluster (bench.py "
        "warms it); the data plan is 1 broadcast join + 2 exchanges with "
        "filter-pushed scans, and the only driver collect is the kxdim "
        "centroid pull (MLlib-style, documented)."
    ),
    "q62_stream_stream_join": (
        "~2.9 s is micro-batch engine setup + stateful-shuffle "
        "initialization at 8 state partitions; the join state itself is "
        "bounded on both sides by the 6 h time-range condition, so state "
        "size is O(rate x window), independent of history length. "
        "Provider-independence is pinned: test_streaming replays this "
        "join AND the q85 sketch under RocksDBStateStoreProvider (the "
        "off-heap store a 100 TB deployment runs — the default HDFS "
        "provider holds each partition's state on-heap) on a 10x "
        "key-cardinality fixture, results identical "
        "(run_bounded state_store_provider=ROCKSDB_PROVIDER)."
    ),
    "q84_connector_datasource": (
        "the DSv2 seam roundtrips TWO stores (customer cells ascending + "
        "events super/ttl cells reversed) write-and-read through the Python "
        "Data Source; the Arrow boundary costs ~2-3x a native parquet "
        "write/read on the same cells (tools/dsv2_overhead.py, medians "
        "of 3 warmed trials at sf0.1; re-measured r07: write 3.2x, read "
        "2.9x, streaming-sink 1.7x) — the price of the "
        "live-client seam, paid only where a Cassandra cluster would sit; "
        "every non-connector path reads parquet natively. Scans show as "
        "BatchEvalPython-free: the source yields paged Arrow batches."
    ),
    "q90_skew_salted_join": (
        "skew by construction (one key = ~20% of lineitem): the join "
        "exchange partitions on (sk, __salt) — 16-way spread, ShuffledHashJoin "
        "by hint so the salted shape is exercised even though this dim "
        "would broadcast at test SF — then ONE fused pass "
        "(skew_safe_distinct_agg) computes distinct orders + row count + "
        "revenue: first shuffle spread by (nation, l_orderkey), second "
        "over one row per distinct pair; the join runs once and no "
        "reducer ever sees the hot key whole."
    ),
    "q92_semantic_dedup": (
        "SemDeDup: cell assignment is a zero-shuffle codegen expression "
        "over literal centroids (the q47 IVF pattern); the only "
        "corpus-sized exchanges are the centroid-build aggregation and "
        "the within-cell self-join keyed by cell id. Cell sizes are "
        "guard-bounded (refuses degenerate clusterings), so the "
        "within-cell quadratic never exceeds max_cell^2 per cell — at "
        "web scale n_centroids rises to keep cells ~thousands, exactly "
        "the published SemDeDup configuration."
    ),
    "q95_incremental_dedup": (
        "the 8 filter-pushed scans are the gate fixture re-deriving corpus "
        "and batch from ONE documents table (bloom build + confirm join + "
        "probe branches); in production the corpus-side bloom is built once "
        "per ingest epoch and cached — the per-batch work is the zero-"
        "shuffle probe plus a candidate-only join. The two nested-loop "
        "joins are the 1-row bloom word-array and count broadcasts."
    ),
    "q96_corpus_mixing": (
        "the exchange count is dominated by the grouped two-phase prefix "
        "sum's bookkeeping branches over BROADCAST-SIZED tables (per-"
        "partition offsets, per-source weights/budgets — rows ≤ partitions "
        "× sources); the corpus's bucket id is a STATIC hash-range "
        "function of the md5 rank (uniform52 — zero sample jobs, no "
        "cache, no range exchange since round 7), and the corpus is "
        "never globally sorted or single-task-"
        "windowed."
    ),
    "q97_chunk_dedup": (
        "the 100 TB plan shape exactly: zero-shuffle chunking (projection + "
        "posexplode), ONE window partitioned by high-cardinality chunk "
        "text, ONE groupBy(doc) reassembly — 2 exchanges total; the "
        "ObjectHashAggregates are the per-doc collect_list whose size is "
        "bounded by the doc's own chunk count."
    ),
    "q98_heavy_hitters": (
        "two passes by design: the Misra-Gries candidate sweep (mapInPandas, "
        "Arrow-batched, bounded state, NO shuffle) and the exact confirm "
        "aggregation where non-candidates collapse into one NULL group "
        "map-side — the only exchange over data carries ≤ candidates+1 "
        "rows per upstream partition. Scan count reflects the two passes "
        "plus the plan printer; at 100 TB the second pass re-scans rather "
        "than caching the corpus (cheaper than materializing it)."
    ),
    "q105_countmin_freq": (
        "sketch build is ONE map-side-combinable counting agg over the "
        "exploded (d, pos) pairs (the explode is a 4x row fan-out, then "
        "partial counts collapse to <=depth x width rows per group before "
        "the exchange); the merge is a second tiny agg over <=2x4x64 rows "
        "per group; the probe side fans 4 rows per probed key and joins "
        "the bounded sketch. Nothing in the plan grows with input size "
        "except the pre-combine scan."
    ),
    "q106_bucketed_join": (
        "the bench number INCLUDES both bucketed writes (the prepaid "
        "shuffle — one repartition exchange each, one file per bucket) "
        "plus the co-located read join: the join itself is a SortMergeJoin "
        "with ZERO Exchange and ZERO Sort (asserted in test_scale_plans). "
        "At 100 TB the write cost amortizes over every subsequent join/agg "
        "on the bucket key; the per-join saving is the whole fact-table "
        "shuffle."
    ),
    "q107_merkle_repair": (
        "two digest aggs (map-side-combined, 16-row outputs), a 16-row "
        "full-outer join, then the repair path: both replicas re-scanned "
        "ONLY for mismatched buckets (broadcast semi-join on the <=16-row "
        "bad-bucket list prunes at the scan filter), one window over the "
        "divergent cells. Repair I/O tracks divergence, not store size."
    ),
    "q108_secondary_index": (
        "index build is a projection write (no join, no shuffle beyond the "
        "store's key-repartition); the lookup is a pushdown-pruned point "
        "read of one index row plus a BroadcastHashJoin LeftSemi into the "
        "base store — the base side is never exchanged (asserted in "
        "test_index); the one Exchange is the distinct over the "
        "selectivity-sized key set inside the broadcast build."
    ),
    "q109_weighted_sample": (
        "TakeOrderedAndProject on the md5-derived priority: per-partition "
        "heap of k, k-row driver merge — no global sort at any input "
        "size; the rank window runs over the k surviving rows only."
    ),
    "q110_zorder_key": (
        "the Morton key is 32 div/mod terms folded into one "
        "WholeStageCodegen projection — zero shuffle for the key; the "
        "gate aggregates z-buckets (one exchange of bucket partials). "
        "zorder_write adds one range exchange at write time; the payoff "
        "(tight per-file min/max on BOTH dimensions) is asserted against "
        "parquet footer stats in test_relational."
    ),
    "q112_snapshot_read": (
        "~5.5 s is dominated by building the fixture it then reads: a "
        "2-micro-batch STREAMING write of the whole events table through "
        "the Python sink (micro-batch engine setup + one Arrow "
        "serialization per batch — the same seam cost BASELINE.md's "
        "dsv2_overhead numbers record). The time-travel read itself is a "
        "planning-time FILE filter over the commit log: zero extra data "
        "cost vs a plain store read, and cheaper when the snapshot "
        "excludes later batches."
    ),
    "q114_global_shuffle": (
        "two-phase prefix sum with STATIC hash-range buckets (the order "
        "key IS hash52, uniform by construction — no sample job, no "
        "range exchange, deterministic across consumers by pure "
        "arithmetic): a per-bucket window behind one hash exchange plus "
        "a broadcast of the <=n_buckets offset rows — never a "
        "single-task global window; the final shard agg is map-side "
        "combined."
    ),
    "q115_partitioned_rollup": (
        "the bench number includes the day-partitioned write (one "
        "dynamic-partition exchange); the rollup scan then opens ONLY "
        "the three filtered day directories (PartitionFilters, "
        "plan-asserted in test_scale_plans) — at 100 TB the pruning is "
        "the difference between reading 3 days and reading the table."
    ),
    "q117_analyze_stats": (
        "stack pivots all analyzed columns long in ONE projection, so the "
        "input is scanned once per aggregation pass (count/null/min/max "
        "pass + the KMV distinct pass) regardless of column count; both "
        "exchanges are spread across (col, value); NDV state is <=256 "
        "hashes per column."
    ),
    "q118_multimodal_gif": (
        "the cost is the from-scratch LZW decompression kernel inside "
        "mapInPandas (Arrow-batched, per-payload python loop over "
        "variable-width codes) — the honest price of a cleanroom codec; "
        "plumbing, schema, and partitioning are identical to q43/q83."
    ),
    "q121_histogram": (
        "one map-side-combinable counting agg; the shuffle carries at "
        "most groups x bins partial rows per task regardless of input "
        "size — the at-scale distribution report."
    ),
    "q122_curation_v2": (
        "length gate folds into the scan filter; selection is "
        "TakeOrderedAndProject on the md5 priority (per-partition heap "
        "of 200); the shuffle+shard step is the two-phase prefix sum "
        "(static uniform52 hash buckets + per-bucket window + broadcast "
        "offsets) over the 200 SELECTED rows only — the corpus never "
        "moves."
    ),
    "q125_maintenance_runbook": (
        "the scan count is the gate fixture deriving BOTH replicas from "
        "one events table (production scans each replica's store once for "
        "digests and once, range-pruned, for repair); the pipeline itself "
        "is two 16-row digest aggs, a 16-row diff join, scrub as a "
        "zero-shuffle projection, and a repair window over only the "
        "divergent ranges — the broadcast feeds are the bad/in-sync "
        "bucket lists."
    ),
    "q126_weighted_sample_per_source": (
        "one exchange on the source key; WindowGroupLimit prunes each "
        "map task to ~k rows per source BEFORE the shuffle, so the "
        "exchange carries O(sources x k) rows regardless of corpus size "
        "— the grouped form of q109's TakeOrdered shape."
    ),
    "q33_dedup_minhash_lsh": (
        "runtime I/O: documents.parquet is scanned ONCE (sh_tbl cache build); "
        "every other reference reads the cache (round-1's '8 scans' was the "
        "plan printer re-printing the cached subtree). Steady-state 2.5-2.8 s "
        "at sf0.1 (3 warm runs); the ~4 s bench number includes one-time "
        "whole-stage-codegen compilation of the 12-way md5 min-agg and the "
        "nested pair-explode transform."
    ),
}


def _classify_scans(plan: str) -> tuple[list[str], list[str]]:
    """Split scan lines into LIVE (executed per query run) vs lines inside
    InMemoryRelation cache *definitions* (the plan printer re-prints the
    cached subtree at every reference, so counting raw occurrences
    overstates the real I/O — a persisted relation scans its input once,
    at cache build, no matter how many times it is read)."""
    live, cached = [], []
    imr_stack: list[int] = []
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :"))
        while imr_stack and indent <= imr_stack[-1]:
            imr_stack.pop()
        if "FileScan" in line or "Scan parquet" in line:
            (cached if imr_stack else live).append(line)
        if "InMemoryRelation" in line:
            imr_stack.append(indent)
    return live, cached


def audit(name: str, df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {}
    for token, label in INTERESTING:
        n = len(re.findall(rf"\b{token}", plan))
        if n:
            counts[label] = n
    live, cached = _classify_scans(plan)
    pushed = sum(1 for s in live if re.search(r"PushedFilters: \[[^\]]", s))
    # distinct cache-building scans: each distinct relation is read from
    # parquet exactly once when its cache materializes
    builds = {re.sub(r"#\d+", "", s).strip() for s in cached}
    lines = [f"### {name}", ""]
    for label, n in counts.items():
        lines.append(f"- {label}: {n}")
    if live:
        lines.append(f"- live parquet scans: {len(live)} ({pushed} with pushed filters)")
    if cached:
        lines.append(
            f"- cache-building parquet scans: {len(builds)} distinct "
            f"(printed {len(cached)}x inside cache definitions — each runs once)"
        )
    flags = [l for l in counts if "red flag" in l]
    if flags:
        lines.append(f"- **RED FLAGS: {flags}**")
    if name in NOTES:
        lines.append(f"- note: {NOTES[name]}")
    lines.append("")
    return "\n".join(lines)


def _scaling_section() -> str:
    """Render the two-point scaling measurements (tools/scaling_check.py)
    so the single-point plan assertions above are backed by measured
    shuffle growth — the r05 verdict's 'measurements, not assertions'."""
    import json as _json
    import os as _os

    path = "/root/repo/SCALING_r13.json"
    for fallback in (
        "SCALING_r12.json", "SCALING_r11.json",
        "SCALING_r10.json", "SCALING_r09.json", "SCALING_r08.json",
        "SCALING_r07.json", "SCALING_r06.json",
    ):
        if _os.path.exists(path):
            break
        path = f"/root/repo/{fallback}"
    if not _os.path.exists(path):
        return ""
    extra20 = None
    if _os.path.exists("/root/repo/SCALING_r08_20x.json"):
        with open("/root/repo/SCALING_r08_20x.json") as f:
            extra20 = _json.load(f)
    # later rounds' 20x files share one per-query {a, b} format — render
    # the NEWEST one only (it supersedes the older measurement of the
    # same tier; the files stay in git for history)
    extra20_late = None
    extra20_late_name = None
    for rnd in ("r13", "r12", "r11", "r10", "r09"):
        p = f"/root/repo/SCALING_{rnd}_20x.json"
        if _os.path.exists(p):
            with open(p) as f:
                extra20_late = _json.load(f)
            extra20_late_name = f"SCALING_{rnd}_20x.json"
            break
    with open(path) as f:
        data = _json.load(f)
    pts = data["points"]
    labs = [k for k in sorted(pts) if k != "a"]
    lines = [
        "## Multi-point scaling (measured, not argued)",
        "",
        f"`python tools/scaling_check.py` — point a = sf0.1; "
        + "; ".join(
            f"point {k} = {pts[k].split(' (')[-1].rstrip(')')}" for k in labs
        )
        + " with per-replica key offsets and Caesar-substituted document "
        "text (cardinalities scale with volume; dup structure preserved "
        "per replica, disjoint across replicas). Wall-clock medians plus "
        "ACTUAL shuffle-write bytes from the status API:",
        "",
        "| query | "
        + " | ".join(f"sec {k}" for k in ["a"] + labs)
        + " | "
        + " | ".join(f"shuffle {k} (MB)" for k in ["a"] + labs)
        + " | "
        + " | ".join(f"shuffle ratio {k}/a" for k in labs)
        + " | cand pairs (" + " / ".join(["a"] + labs) + ") | rows check |",
        "|" + "---|" * (3 + 2 * (1 + len(labs)) + len(labs)),
    ]
    for name, r in data["queries"].items():
        cand = (
            " / ".join(str(r[k].get("cand_pairs")) for k in ["a"] + labs)
            if "cand_pairs" in r["a"]
            else "—"
        )
        cells = (
            [str(r[k]["sec"]) for k in ["a"] + labs]
            + [str(r[k]["shuffle_mb"]) for k in ["a"] + labs]
            + [str(r.get(f"shuffle_ratio_{k}")) for k in labs]
            + [cand]
            + [str(r.get("rows_check", "n/a"))]
        )
        lines.append("| " + name + " | " + " | ".join(cells) + " |")
    lines += [
        "",
        "Reading: the dedup pipelines (q33/q34) carry the corpus through "
        "their banded-signature shuffles, so shuffle bytes growing ~linearly "
        "with input (ratio ≈ volume ratio) is the designed behavior — no "
        "quadratic blowup despite pair output scaling with volume. "
        "q82's shuffle stays O(partitions × groups × k) — megabytes at any "
        "volume. q47's exchanges carry only top-k candidates per probe; "
        "q92's centroid-build + cell-join shuffles grow sub-linearly "
        "because the exchanges carry ids and partial sums, not "
        "vectors; q62's state is bounded by the join's time-range "
        "condition, and its shuffle scales with the micro-batch volume, "
        "not history. Round-6 second batch: q95's shuffle is the ~KB "
        "bloom build alone (too small to ratio — the probe ships "
        "nothing); q96 ships narrow (id, tok, rank) bookkeeping rows "
        "~linearly; q97's chunk-keyed window and q98's candidate-bounded "
        "confirm agg grow ≤ linearly with volume at flat wall-clock. "
        "Round-6 fourth batch: q106's shuffle bytes are ENTIRELY the two "
        "bucketed writes (the prepaid exchange — linear in volume by "
        "definition); the co-located join itself adds zero, which is the "
        "claim. q107's shuffle is ~0 MB at EVERY volume: range digests "
        "exchange 16 rows regardless of store size and repair bytes track "
        "the divergent fraction — the flattest scaling curve in the "
        "table. "
        "With two scaled points (5× and 10×) the curve SHAPE is visible: a "
        "bounded-shuffle claim must show ratios flat or sub-linear from b "
        "to c, not just one favorable pair. Sub-linear wall-clock ratios "
        "at scaled volume mean fixed per-query "
        "overhead (micro-batch setup, codegen) still dominates at sf0.1 "
        "scale — the shuffle-bytes column is the scale-truthful signal. "
        "Round-7 additions: every row now carries a RESULT check (r06 "
        "verdict item 2 — non-empty everywhere, equal rows for "
        "fixed-cardinality outputs, growing rows for volume-tracking "
        "ones; q98 reads a frequency-preserving replica so its heavy-"
        "hitter set is scale-invariant instead of diluting to zero). "
        "q84/q112 put the Python DSv2 seam and the streaming commit-log "
        "on the curve — their cost is per-Arrow-batch, so wall grows "
        "~linearly in cells with fixed-row outputs. wide_row_stress is "
        "the reference's pathological single row "
        "(ColumnFamilyWideRowRecordReader.java:240-429) at 1M cells × "
        "the replica multiple: paged_cells must honor its page bound at "
        "every width (asserted in-run) and the slice window spills "
        "rather than OOMs.",
        "",
    ]
    if extra20:
        lines += [
            "### Pair-join queries at the 20× point (SCALING_r08_20x.json)",
            "",
            "The r07 verdict asked for a 4th scale point OR candidate "
            "counts for the pair-join tier; round 8 recorded both. At "
            "20× sf0.1 (same replica construction):",
            "",
            "| query | sec | shuffle (MB) | candidate pairs |",
            "|---|---|---|---|",
        ]
        for name, r in extra20["queries"].items():
            lines.append(
                f"| {name} | {r['sec']} | {r['shuffle_mb']} | "
                f"{r['cand_pairs']} |"
            )
        lines += [
            "",
            "Reading: q175's LSH candidates stay EXACTLY linear "
            "(263 → 2,635 → 5,262 at 1×/10×/20×) and its wall grows "
            "sub-linearly per byte (7.9× at 20× volume), while the exact "
            "PPJoin audit path (q163) carries 1,817× more candidates and "
            "41× more shuffle at the same point — the measured case for "
            "LSH-prefilter as the 100 TB split default, with the exact "
            "join as the opt-in audit.",
            "",
        ]
    if extra20_late:
        lines += [
            f"### Pair-join tier + index builds at the 20× point "
            f"({extra20_late_name})",
            "",
            "| query | sec | shuffle (MB) | candidate pairs | artifact (MB) |",
            "|---|---|---|---|---|",
        ]
        for name, r in extra20_late["queries"].items():
            b = r["b"]
            lines.append(
                f"| {name} | {b['sec']} | {b['shuffle_mb']} | "
                f"{b.get('cand_pairs', '—')} | {b.get('artifact_mb', '—')} |"
            )
        lines += ["", extra20_late.get("note", ""), ""]
    return "\n".join(lines)


STREAM_TOKENS = [
    ("StateStoreSave", "state-store save"),
    ("StateStoreRestore", "state-store restore"),
    ("StreamingDeduplicate", "streaming dedup (keyed state)"),
    ("StreamingSymmetricHashJoin", "stream-stream symmetric hash join"),
    ("FlatMapGroupsInPandasWithState", "applyInPandasWithState (Arrow)"),
    ("EventTimeWatermark", "event-time watermark"),
    ("SessionWindowStateStore", "session-window state store"),
]


def audit_streaming(name: str, captured: dict) -> str:
    """Audit a run_bounded() streaming query from its LAST micro-batch
    physical plan plus the terminal progress: the batch-side audit only
    sees the memory-sink read, so the plan evidence (state operators,
    exchanges, Arrow boundaries) and the state-size evidence
    (numRowsTotal per operator — bounded state is THE streaming scale
    claim) both come from the streaming engine itself (r06 verdict
    item 4)."""
    plan = captured.get("plan", "")
    counts = {}
    for token, label in INTERESTING + STREAM_TOKENS:
        n = len(re.findall(rf"\b{token}", plan))
        if n:
            counts[label] = n
    lines = [f"### {name}", "", "- audited: last micro-batch plan + final progress (streaming)"]
    for label, n in counts.items():
        lines.append(f"- {label}: {n}")
    prog = captured.get("progress") or {}
    for so in prog.get("stateOperators", []):
        lines.append(
            "- state operator `{}`: numRowsTotal={}, numRowsUpdated={}, "
            "memoryUsedBytes={}".format(
                so.get("operatorName", "?"),
                so.get("numRowsTotal"),
                so.get("numRowsUpdated"),
                so.get("memoryUsedBytes"),
            )
        )
    if not prog.get("stateOperators"):
        lines.append("- state operators: none reported (stateless sink pass)")
    flags = [l for l in counts if "red flag" in l]
    if flags:
        lines.append(f"- **RED FLAGS: {flags}**")
    if name in NOTES:
        lines.append(f"- note: {NOTES[name]}")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from bench import HEADLINE
    from hive_cassandra_spark.queries import QUERIES
    from hive_cassandra_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # same heap posture as bench.py (fresh process → effective): ~110
    # back-to-back queries leak operator persists faster than the
    # GC-driven ContextCleaner reclaims them under the 1g default
    spark = get_spark("plan-audit", extra_conf={"spark.driver.memory": "8g"})
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py` over `{sf_dir}`. The",
        "facts below are the scale properties each plan must keep: broadcast",
        "or co-partitioned joins (never cartesian), filters pushed to scans,",
        "top-K as TakeOrderedAndProject, Python only behind Arrow batches.",
        "Streaming queries are audited from the streaming engine itself:",
        "the last micro-batch's physical plan plus the terminal progress's",
        "state-operator metrics (numRowsTotal / numRowsUpdated /",
        "memoryUsedBytes) — bounded state is the streaming scale claim,",
        "and the batch-side plan can't show it.",
        "",
    ]
    from hive_cassandra_spark.queries import QUERY_FAMILIES
    from hive_cassandra_spark.streaming import events as streaming_events

    for name in HEADLINE:
        streaming = any(t.startswith("stream") for t in QUERY_FAMILIES[name])
        if streaming:
            streaming_events.LAST_BOUNDED_RUN.clear()
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()  # let AQE finalize so the audited plan is the executed one
        if streaming and streaming_events.LAST_BOUNDED_RUN.get("plan"):
            out.append(
                audit_streaming(name, streaming_events.LAST_BOUNDED_RUN)
            )
        else:
            out.append(audit(name, df))
        spark.catalog.clearCache()  # drop the query's leaked persists
    out.append(_scaling_section())
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
