"""Dedup operators vs brute-force ground truth on the documents fixture."""

import itertools

import pytest
from pyspark.sql import functions as F

from hive_cassandra_spark.operators import dedup


def _docs(spark, sf_dir, n=120):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < n)
    )


def _shingle_sets(spark, sf_dir, n=120):
    rows = (
        _docs(spark, sf_dir, n)
        .select("doc_id", dedup.shingles(F.col("text")).alias("sh"))
        .collect()
    )
    return {r.doc_id: set(r.sh) for r in rows}


def test_exact_dedup_with_seeded_duplicates(spark, sf_dir):
    docs = _docs(spark, sf_dir, 50)
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1000)
    out = dedup.exact_dedup(docs.unionAll(dup)).collect()
    assert sum(1 for r in out if r.dup_count == 2) == 5
    # keeper is always the min id (original, not the +1000 copy)
    assert all(r.keeper_id < 1000 for r in out)


def test_jaccard_pairs_match_bruteforce(spark, sf_dir):
    sets = _shingle_sets(spark, sf_dir)
    expected = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = inter / len(sets[a] | sets[b])
            if round(j, 4) >= 0.1:
                expected[(a, b)] = round(j, 4)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.1).collect()
    }
    assert got == expected


def test_jaccard_hot_shingle_cap(spark):
    """One shingle shared by 1k docs would emit ~500k self-join rows; with
    max_df active the hot shingle is dropped from the candidate index, so
    pairs connected ONLY through it vanish while pairs sharing any cold
    shingle survive — and their jaccard is still computed from the FULL
    sets (exact, not the filtered index)."""
    # every doc contains the same 3-token stop phrase; docs 0 and 1 also
    # share a distinctive second phrase (their own cold shingles)
    stop = "click here now"
    rows = [(0, f"{stop} unique alpha beta gamma"),
            (1, f"{stop} unique alpha beta delta")]
    rows += [(i, f"{stop} filler{i} one two") for i in range(2, 1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = dedup.jaccard_pairs(df, threshold=0.05, max_df=100).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    # docs 0/1 share cold shingles ('unique alpha beta', 'alpha beta gamma/delta'
    # differ) → candidate survives; jaccard uses full sets incl. the stop shingle
    assert (0, 1) in got
    sets = {r.doc_id: set(r.sh) for r in df.select(
        "doc_id", dedup.shingles(F.col("text")).alias("sh")).collect()}
    expect01 = round(len(sets[0] & sets[1]) / len(sets[0] | sets[1]), 4)
    assert got[(0, 1)] == expect01
    # filler docs pair with each other ONLY via the stop shingle → dropped
    assert all({a, b} == {0, 1} for a, b in got)
    # opt-out restores the exhaustive (quadratic) behavior
    full = dedup.jaccard_pairs(df, threshold=0.05, max_df=None).count()
    assert full > len(got)


def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    """LSH candidates must contain every truly-similar pair above the LSH
    curve's high-probability zone, and the verify step keeps only exact
    Jaccard >= threshold (precision 1 by construction)."""
    sets = _shingle_sets(spark, sf_dir)
    truth = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            truth[(a, b)] = inter / len(sets[a] | sets[b])

    out = dedup.minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.1).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    # precision: every reported pair really has jaccard >= 0.1
    for (a, b), j in got.items():
        assert round(truth[(a, b)], 4) == j and j >= 0.1
    # recall: pairs above the S-curve's near-certain zone (j >= 0.8 with
    # b=4, r=3 → collision prob >= 1-(1-0.8^3)^4 ≈ 0.93) must be found;
    # on this fixture high-sim pairs are few, so require full recall there
    for (a, b), j in truth.items():
        if j >= 0.8:
            assert (a, b) in got


def test_simhash_pairs_hamming_correct(spark, sf_dir):
    docs = _docs(spark, sf_dir, 80)
    sig = {
        r.doc: (r.sim_hi << 32) | r.sim_lo for r in dedup.simhash(docs).collect()
    }
    # halves are non-negative 32-bit words → the combined value is a clean
    # unsigned 64-bit int in Python (no sign-bit traps)
    assert all(0 <= s < (1 << 64) for s in sig.values())
    out = dedup.simhash_pairs(docs, max_hamming=3).collect()
    for r in out:
        ham = bin(sig[r.doc_a] ^ sig[r.doc_b]).count("1")
        assert ham == r.hamming and ham <= 3
    # banding guarantees: any pair with hamming <= 3 shares >= 1 of 4
    # 16-bit words (pigeonhole: 3 flipped bits touch <= 3 of the 4 bands)
    # → candidate generation is lossless for the threshold
    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert {(r.doc_a, r.doc_b) for r in out} == expected


def test_simhash_exact_duplicates_immune_to_bucket_cap(spark):
    """r09 verdict item 2: a corpus of identical docs collapses to ONE
    distinct signature before banding, so even a max_bucket far below the
    corpus size cannot drop the duplicate cluster — the Hamming-0 pairs
    come back via the signature-equality expansion regardless of the cap
    (the old doc-level cap silently lost exactly these pairs at 20x)."""
    rows = [(i, "same exact text for every single document here") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_pairs(df, max_hamming=3, max_bucket=2).collect()
    assert len(capped) == 20 * 19 // 2
    assert all(r.hamming == 0 for r in capped)


def test_signature_band_pairs_cap_counts_distinct_signatures(spark):
    """The bucket cap guards the candidate stage, which now runs over
    DISTINCT signatures: with more distinct near-dup signatures than the
    cap in a shared band, cross-signature candidates drop (the documented
    recall trade), while exact-duplicate pairs survive untouched."""
    # 5 distinct signatures sharing band 0 at every position (identical
    # halves except low bits), plus 10 docs that all carry signature 0
    sig_rows = [(100 + i, i, i) for i in range(5)] + [
        (200 + j, 0, 0) for j in range(10)
    ]
    sig = spark.createDataFrame(
        sig_rows, "doc long, sim_hi long, sim_lo long"
    )
    # distinct-sig space is 5 (docs 100..104 plus the shared 0-signature);
    # cap=3 drops the shared buckets → no cross-signature candidates
    cands = dedup.signature_band_pairs(sig, max_hamming=64, max_bucket=3)
    assert cands.count() == 0
    # but the full engine still emits every exact-duplicate pair: the 10
    # signature-0 clones pair with each other AND with doc 100 (also 0,0)
    pairs = dedup.signature_hamming_pairs(sig, max_hamming=3, max_bucket=3)
    zero_group = 11  # docs 100, 200..209 all carry (0, 0)
    assert pairs.count() == zero_group * (zero_group - 1) // 2
    # with the cap lifted, cross-signature candidates reappear
    assert dedup.signature_band_pairs(sig, max_hamming=64).count() == 10


def test_embedding_neardup_blocks(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = dedup.embedding_neardup_pairs(emb, threshold=0.3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert labels[r.id_a] == labels[r.id_b]  # blocking respected
        assert r.cosine >= 0.3 and r.id_a < r.id_b


def test_embedding_neardup_rejects_giant_block(spark, sf_dir):
    """A degenerate block key (one block holding the whole corpus) must be
    refused, not silently joined all-pairs."""
    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "blk_const", F.lit("all")
    )
    with pytest.raises(ValueError, match="max_block"):
        dedup.embedding_neardup_pairs(emb, block_col="blk_const", max_block=100)
    # explicit opt-outs still work: raise the cap or skip validation
    assert dedup.embedding_neardup_pairs(
        emb, threshold=0.99, block_col="blk_const", validate_blocks=False
    ).columns == ["id_a", "id_b", "cosine"]


def test_embedding_neardup_lsh_path(spark, sf_dir):
    """LSH-bucketed blocking needs no natural key and must find the
    high-cosine pairs the exhaustive join finds (recall at high threshold),
    with every reported pair exact-verified (precision 1)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_neardup_pairs(
            emb, threshold=0.9, block_col="label"
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_neardup_lsh_pairs(
            emb, threshold=0.9, bits=6, tables=8
        ).collect()
    }
    # precision: every reported cosine is the exact double cosine
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_neardup_pairs(
            emb.withColumn("one", F.lit(1)),
            threshold=0.9,
            block_col="one",
            validate_blocks=False,
        ).collect()
    }
    assert set(got) <= set(brute)
    for p, c in got.items():
        assert brute[p] == c
    # recall vs the label-blocked truth: near-identical vectors collide in
    # >= 1 of 8 tables with 6-bit signatures with overwhelming probability
    found = sum(1 for p in truth if p in got)
    assert found >= 0.8 * len(truth), (found, len(truth))


def test_neardup_components_match_union_find(spark):
    """Min-label propagation must equal a driver-side union-find on the
    same graph — chains (a~b, b~c), multi-cluster, and singleton-free
    (components only contains nodes that appear in a pair)."""
    from hive_cassandra_spark.operators import dedup

    pairs = [
        (1, 2), (2, 3), (3, 4),        # chain: component 1
        (10, 11),                      # pair: component 10
        (20, 22), (21, 22), (23, 20),  # diamond-ish: component 20
        (30, 31), (31, 30),            # duplicate edge direction
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    want = {n: find(n) for n in parent}
    # path-compress to the true minimum root
    want = {n: find(n) for n in parent}

    got = {r.node: r.component for r in dedup.neardup_components(df).collect()}
    assert got == want

    clusters = {r.keeper_id: r.cluster_size
                for r in dedup.neardup_clusters(df).collect()}
    assert clusters == {1: 4, 10: 2, 20: 4, 30: 2}


def test_neardup_components_long_chain_converges(spark):
    """A 40-node path graph (worst-case diameter: the min label travels one
    hop per round) still reaches a single component within max_iters."""
    from hive_cassandra_spark.operators import dedup

    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    comp = dedup.neardup_components(df, max_iters=50).collect()
    assert {r.component for r in comp} == {0}
    assert len(comp) == 41


def test_neardup_components_raises_when_cap_hit(spark):
    """max_iters is a safety cap, not a truncation: exhausting it before
    the fixpoint must raise, never silently return split components."""
    import pytest

    # pointer jumping converges in O(log diameter) rounds, so a chain
    # needs length >> 2^max_iters for the cap to bite (a 40-chain used
    # to exhaust 10 plain-propagation rounds; it now converges in ~6)
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="fixpoint|max_iters"):
        dedup.neardup_components(df, max_iters=3)


def test_merge_signatures_equals_full_corpus(spark, sf_dir):
    """Signatures are composable partial aggregates: splitting each doc's
    shingles into arbitrary batches, signaturing each, and min-merging must
    equal the one-pass whole-set signature — including docs whose shingles
    land entirely in one batch."""
    docs = _docs(spark, sf_dir, 60)
    sh_tbl = dedup.shingle_table(docs)
    full = {r.doc: tuple(r)[1:] for r in
            dedup._signatures_from_shingles(sh_tbl, 12).collect()}
    a = sh_tbl.select("doc", F.filter(
        "shs", lambda x: F.substring(F.md5(x), 1, 1) < "8").alias("shs"))
    b = sh_tbl.select("doc", F.filter(
        "shs", lambda x: F.substring(F.md5(x), 1, 1) >= "8").alias("shs"))
    merged = dedup.merge_signatures(
        dedup._signatures_from_shingles(a, 12),
        dedup._signatures_from_shingles(b, 12),
    )
    got = {r.doc: tuple(r)[1:] for r in merged.collect()}
    assert got == full


def test_semantic_dedup_keep_rule_and_guard(spark, sf_dir):
    """SemDeDup: per-item verdicts — an item is dropped iff a smaller-id
    same-cell neighbor sits at rounded cosine >= threshold (checked
    against a brute-force replay); the cell-size guard refuses degenerate
    clusterings instead of running the quadratic join."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hive_cassandra_spark.operators import dedup as dd
    from hive_cassandra_spark.operators.similarity import cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = dd.semantic_dedup(emb, threshold=0.35, n_centroids=16)
    rows = out.collect()
    assert len(rows) == emb.count()  # one verdict per item
    kept = {r.id for r in rows if r.kept}
    assert 0 < len(kept) <= len(rows)
    # brute-force replay of the keep rule over the SAME cell assignment
    tagged = out.select("id", "cell").join(
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        ),
        "id",
    )
    a = tagged.select("cell", F.col("id").alias("a_id"), F.col("v").alias("av"))
    b = tagged.select("cell", F.col("id").alias("b_id"), F.col("v").alias("bv"))
    dropped_expect = {
        r.b_id
        for r in a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(cosine(F.col("av"), F.col("bv")), 6) >= 0.35)
        .select("b_id")
        .distinct()
        .collect()
    }
    assert kept == {r.id for r in rows} - dropped_expect
    # guard: one centroid => one giant cell => refused
    with _pytest.raises(ValueError, match="max_cell"):
        dd.semantic_dedup(emb, n_centroids=1, max_cell=10)


# ------------------------------------------------------------- chunk dedup


def test_chunk_dedup_first_occurrence_and_reassembly(spark):
    """A chunk survives only at its globally first (doc, chunk_idx)
    occurrence; docs reassemble from survivors; a fully-duplicate doc
    keeps 0 chunks and hashes the empty string."""
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d x y z w"),
            (3, "a b c d"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc: (r.n_chunks, r.kept_chunks, r.rebuilt_md5)
        for r in dedup.chunk_dedup(df, chunk_tokens=4).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1] == (2, 2, md5("a b c d e f g h"))
    assert out[2] == (2, 1, md5("x y z w"))
    assert out[3] == (1, 0, md5(""))


def test_chunk_dedup_short_tail_and_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    row = dedup.chunk_dedup(df, chunk_tokens=2).collect()[0]
    assert (row.n_chunks, row.kept_chunks) == (2, 2)  # "a b" + short "c"
    with pytest.raises(ValueError, match="chunk_tokens"):
        dedup.doc_chunks(df, 0)


# -------------------------------------------------------- incremental dedup


def test_incremental_dedup_exact_no_false_negatives(spark):
    corpus = spark.createDataFrame(
        [(10, "foo bar"), (11, "baz qux")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "Foo   Bar"), (2, "genuinely new"), (3, "BAZ qux")],
        "doc_id long, text string",
    )
    out = {r.id: (r.maybe_member, r.is_new) for r in
           dedup.incremental_dedup(batch, corpus).collect()}
    assert out[1] == (True, False)   # normalization-equal duplicate
    assert out[3] == (True, False)
    assert out[2][1] is True         # fresh doc survives
    # bloom has no false negatives: maybe=false ⇒ is_new=true
    assert all(m or new for m, new in out.values())


def test_canonical_per_cluster_keeps_highest_quality(spark):
    """Within each component the canonical member is the highest-quality
    doc, ties to the smallest id — NOT the min-id keeper."""
    from hive_cassandra_spark.operators.dedup import canonical_per_cluster

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "node long, component long",
    )
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2)],
        "doc_id long, quality long",
    )
    out = {r.component: (r.canonical_id, r.best_quality, r.cluster_size)
           for r in canonical_per_cluster(comp, quality).collect()}
    # component 1: quality tie 9 between ids 2 and 3 → smallest id wins
    assert out == {1: (2, 9, 3), 10: (10, 4, 2)}


# ------------------------------------------------------------- winnowing ---

def _py_winnow(text, k=24, w=8):
    import hashlib
    import re as _re

    norm = _re.sub(r"\s+", " ", text.lower()).strip()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    hs = (
        [md5(norm[i : i + k]) for i in range(len(norm) - k + 1)]
        if len(norm) >= k
        else [md5(norm)]
    )
    if len(hs) >= w:
        sel = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
    else:
        sel = {min(hs)}
    return sel


def test_winnowing_fingerprints_match_python(spark, sf_dir):
    docs = _docs(spark, sf_dir, 40)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {
        r.doc: set(r.fps)
        for r in dedup.winnowing_fingerprints(docs, k=24, w=8).collect()
    }
    assert got == {d: _py_winnow(t) for d, t in texts.items()}


def test_winnowing_detects_shared_passage(spark):
    """The SIGMOD'03 guarantee: a shared substring of length ≥ k + w − 1
    yields at least one shared selected fingerprint — winnowing finds
    CONTAINED passages that whole-doc similarity misses."""
    passage = "the quick brown fox jumps over the lazy dog again and again"
    a = "completely unrelated preamble text here " + passage
    b = passage + " followed by a different suffix entirely of its own"
    assert len(passage) >= 24 + 8 - 1
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    fps = {
        r.doc: set(r.fps)
        for r in dedup.winnowing_fingerprints(df, k=24, w=8).collect()
    }
    assert fps[1] & fps[2]
    out = dedup.winnowing_pairs(df, k=24, w=8, min_shared=1, max_df=None)
    assert [(r.doc_a, r.doc_b) for r in out.collect()] == [(1, 2)]


def test_winnowing_pairs_hot_cap_drops_boilerplate(spark):
    """A fingerprint shared by more docs than max_df is boilerplate: it
    must not create pairs on its own, but genuinely-similar docs still
    pair through their other shared fingerprints."""
    boiler = "this exact boilerplate footer appears everywhere in the corpus"
    docs = [(i, f"unique document body number {i} " * 3 + boiler)
            for i in range(10)]
    # docs 20/21: near-identical beyond the boilerplate
    twin = "a very distinctive shared passage that repeats verbatim " * 3
    docs += [(20, twin + boiler), (21, twin + "and a tiny suffix " + boiler)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.winnowing_pairs(df, k=24, w=8, min_shared=2, max_df=5)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert (20, 21) in pairs
    # the boilerplate-only docs never pair: their shared fps are all hot
    assert all(a == 20 and b == 21 for a, b in pairs)


def test_winnowing_short_doc_edges(spark):
    """Docs shorter than k hash whole-text; hash lists shorter than w
    select their single global minimum — no empty fingerprint sets."""
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "exactly twenty-four ch"), (3, "x" * 30)],
        "doc_id long, text string",
    )
    fps = {r.doc: r.fps for r in
           dedup.winnowing_fingerprints(df, k=24, w=8).collect()}
    assert all(len(v) >= 1 for v in fps.values())
    assert fps[1] == list(_py_winnow("tiny"))


# --------------------------------------------------- sorted neighborhood ---

def _py_lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_finds_typo_pairs(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [(1, base), (2, base.replace("delta", "delte")),
            (3, "zulu yankee xray whiskey victor uniform tango"),
            (4, "alpha completely different text that sorts elsewhere ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.dist
           for r in dedup.sorted_neighborhood_pairs(
               df, window=3, prefix_len=80, max_dist=20).collect()}
    assert (1, 2) in out
    assert out[(1, 2)] == _py_lev(base[:80],
                                  base.replace("delta", "delte")[:80])
    # doc 3 blocks under 'zulu' alone → no neighbors, never compared
    assert not any(3 in p for p in out)


def test_sorted_neighborhood_candidate_bound(spark, sf_dir):
    """O(rows × (window−1)) candidate space by construction: with the
    distance cap removed, the emitted pair count never exceeds it."""
    docs = _docs(spark, sf_dir, 200)
    n = docs.count()
    w = 4
    out = dedup.sorted_neighborhood_pairs(
        docs, window=w, prefix_len=80, max_dist=10**9)
    assert out.count() <= n * (w - 1)


# ----------------------------------------------------- edit-distance join ---

def test_edit_distance_name_join_vs_bruteforce(spark, sf_dir):
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    names = [r.nm for r in
             parts.select(F.lower("p_name").alias("nm")).distinct().collect()]
    expected = set()
    for a, b in itertools.combinations(sorted(names), 2):
        # blocking recall condition: shared token + length band
        if not (set(a.split()) & set(b.split())):
            continue
        if abs(len(a) - len(b)) > 2:
            continue
        if _py_lev(a, b) <= 2:
            expected.add((a, b))
    out = dedup.edit_distance_name_join(parts, "p_name", max_dist=2,
                                        len_band=2)
    got = {(r.nm_a, r.nm_b) for r in out.collect()}
    assert got == expected


def test_edit_distance_name_join_row_counts(spark):
    df = spark.createDataFrame(
        [(1, "red bolt"), (2, "red bolt"), (3, "red bolts"), (4, "blue cog")],
        "k long, nm string",
    )
    out = dedup.edit_distance_name_join(df, "nm", max_dist=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.nm_a, r.nm_b, r.dist, r.rows_a, r.rows_b) == (
        "red bolt", "red bolts", 1, 2, 1)


# ---------------------------------------------------- prefix-filter join ---

def test_prefix_filter_equals_exhaustive(spark, sf_dir):
    """The whole point: prefix-filtered output == the exhaustive join,
    pair for pair and jaccard for jaccard — zero recall loss."""
    docs = _docs(spark, sf_dir, 300)
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.prefix_filter_jaccard_pairs(
               docs, t_num=3, t_den=10).collect()}
    exhaustive = {(r.doc_a, r.doc_b): r.jaccard
                  for r in dedup.jaccard_pairs(
                      docs, threshold=0.0, max_df=None).collect()
                  # integer-exact threshold, same compare as the operator
                  }
    sets = _shingle_sets(spark, sf_dir, 300)
    expected = {}
    for (a, b), j in exhaustive.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 10 >= union * 3:
            expected[(a, b)] = j
    assert got == expected


def test_prefix_filter_shrinks_the_index(spark, sf_dir):
    """The prefix index carries strictly fewer postings than the full
    inverted index — that reduction is the operator's reason to exist."""
    from pyspark.sql import functions as F2

    docs = _docs(spark, sf_dir, 300)
    sh_tbl = dedup.shingle_table(docs)
    full = sh_tbl.select(F2.explode("shs")).count()
    # reproduce the operator's prefix selection size: p = n - ceil(t*n) + 1
    sizes = [r.n for r in sh_tbl.select(F2.size("shs").alias("n")).collect()]
    prefix_postings = sum(n - ((3 * n + 9) // 10) + 1 for n in sizes)
    assert prefix_postings < full * 0.8
    # and every doc keeps at least one posting (no doc can vanish)
    assert all(n - ((3 * n + 9) // 10) + 1 >= 1 for n in sizes)


def test_prefix_filter_single_shingle_docs_pair(spark):
    """Docs whose whole text is one shingle (shorter than n tokens) keep
    prefix length 1 and still find their exact duplicates."""
    df = spark.createDataFrame(
        [(1, "tiny text"), (2, "tiny text"), (3, "other words")],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.prefix_filter_jaccard_pairs(df).collect()}
    assert out == {(1, 2): 1.0}


def test_winnowing_guarantee_property(spark):
    """Property check of the SIGMOD'03 bound over a batch of constructed
    corpora: for random paddings and a shared passage of length exactly
    k + w − 1, the two docs ALWAYS share a fingerprint. Batched into one
    Spark job (one createDataFrame per case would dominate runtime)."""
    import hashlib
    import random

    rng = random.Random(42)
    k, w = 24, 8
    alphabet = "abcdefghij "
    rows = []
    for case in range(20):
        passage = "".join(rng.choice(alphabet.strip()) for _ in range(k + w - 1))
        pre = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        post = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        # normalization collapses whitespace: keep passages glued to the
        # padding without introducing doubled spaces around them
        a = (pre + " " + passage).strip()
        b = (passage + " " + post).strip()
        rows.append((case * 2, a))
        rows.append((case * 2 + 1, b))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc: set(r.fps)
           for r in dedup.winnowing_fingerprints(df, k=k, w=w).collect()}
    for case in range(20):
        assert fps[case * 2] & fps[case * 2 + 1], f"case {case}"
    # and the Python replay agrees on every doc (property-level parity)
    for doc_id, text in rows:
        assert fps[doc_id] == _py_winnow(text, k, w)


def test_leakage_safe_split_no_cluster_spans_splits(spark, sf_dir):
    """q163's invariant, asserted at doc granularity: assign every doc its
    cluster root's split and check each cluster lands in exactly one."""
    from hive_cassandra_spark import queries as q
    from hive_cassandra_spark.operators import relational
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.jaccard_pairs(docs, threshold=0.2)
    comp = dedup.neardup_components(pairs)
    roots = docs.select("doc_id").join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select("doc_id", F.coalesce("component", "doc_id").alias("root"))
    assigned = relational.deterministic_split(
        roots, "root", {"train": 90, "eval": 10}, salt="leak"
    )
    spans = (
        assigned.groupBy("root")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    # and the query's cluster-level rollup agrees with the doc-level sum
    out = {r.split: (r.n_docs, r.n_clusters)
           for r in q.QUERIES["q163_leakage_safe_split"].fn(spark, sf_dir).collect()}
    doc_counts = {r.split: r.n for r in
                  assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {s: v[0] for s, v in out.items()} == doc_counts


def test_lsh_prefilter_pairs_exact_precision_subset(spark, sf_dir):
    """The LSH-prefilter join's two-sided contract: every reported pair
    is a TRUE pair at the integer threshold (precision 1.0 — the verify
    recomputes Jaccard on the full shingle sets), and the reported set is
    exactly {true pairs} ∩ {band collisions} — the deterministic recall
    contract the oracle replays."""
    docs = _docs(spark, sf_dir, 300)
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.lsh_prefilter_jaccard_pairs(
               docs, t_num=1, t_den=5).collect()}
    sets = _shingle_sets(spark, sf_dir, 300)
    # precision: every reported pair passes the integer threshold with
    # the exact jaccard of the full sets
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert inter * 5 >= union * 1, (a, b)
        assert j == round(inter / union, 4)
    # recall contract: reported == true pairs among the band collisions
    sh_tbl = dedup.shingle_table(docs)
    sig = dedup._signatures_from_shingles(sh_tbl, 12)
    collisions = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(
        dedup.lsh_buckets(sig, 4, 3)).collect()}
    expected = set()
    for (a, b) in collisions:
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 5 >= union * 1:
            expected.add((a, b))
    assert set(got) == expected


def test_aggregated_positional_filter_is_lossless(spark, sf_dir):
    """The PPJoin+-tier pair-level positional filter may only drop pairs
    that CANNOT reach the threshold: the surviving candidate set must
    contain every true pair (the exactness proof lives in
    test_prefix_filter_equals_exhaustive; this isolates the new prune)."""
    docs = _docs(spark, sf_dir, 300)
    sh_tbl = dedup.shingle_table(docs)
    cand = {(r.doc_a, r.doc_b)
            for r in dedup.prefix_filter_candidates(sh_tbl, 3, 10).collect()}
    sets = _shingle_sets(spark, sf_dir, 300)
    ids = sorted(sets)
    true_pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 10 >= union * 3:
                true_pairs.add((a, b))
    assert true_pairs <= cand
    # and the prune actually prunes: candidates < length-filtered space
    assert len(cand) < len(ids) * (len(ids) - 1) // 2


def test_lsh_leakage_split_no_cluster_spans_splits(spark, sf_dir):
    """q175's invariant at doc granularity (the q163 test's mirror over
    the LSH-prefiltered pair graph): every reported-near-dup cluster
    lands wholly inside one split."""
    from hive_cassandra_spark import queries as q
    from hive_cassandra_spark.operators import relational

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.lsh_prefilter_jaccard_pairs(docs, t_num=1, t_den=5)
    comp = dedup.neardup_components(pairs)
    roots = docs.select("doc_id").join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select("doc_id", F.coalesce("component", "doc_id").alias("root"))
    assigned = relational.deterministic_split(
        roots, "root", {"train": 90, "eval": 10}, salt="leak"
    )
    spans = (
        assigned.groupBy("root")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    out = {r.split: (r.n_docs, r.n_clusters)
           for r in q.QUERIES["q175_lsh_leakage_split"].fn(
               spark, sf_dir).collect()}
    doc_counts = {r.split: r.n for r in
                  assigned.groupBy("split")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {s: v[0] for s, v in out.items()} == doc_counts


def test_image_dedup_canonical_matches_union_find(spark, sf_dir):
    """The composed image-dedup production pipeline (dhash pairs →
    components → quality argmax) vs a Python union-find + argmax replay
    over the SAME pair list: component labels, keepers, qualities, and
    cluster sizes must match exactly."""
    from pyspark.sql import functions as F2

    from hive_cassandra_spark.operators import dedup as dd
    from hive_cassandra_spark.operators import multimodal as mm

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(8)
    sig = mm.image_dhash(
        mm.attach_image_payload(docs, container="bmp", wh_mod=(4, 3))
    )
    pairs = dd.signature_hamming_pairs(sig, max_hamming=6)
    plist = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert plist, "fixture must carry perceptual pairs for this test to bite"
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in plist:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    quality = {
        r.doc_id: r.n_chars
        for r in docs.select("doc_id", "n_chars").collect()
    }
    import collections

    clusters = collections.defaultdict(list)
    for node in parent:
        clusters[find(node)].append(node)
    expected = {
        comp: (
            max(members, key=lambda m: (quality[m], -m)),
            max(quality[m] for m in members),
            len(members),
        )
        for comp, members in clusters.items()
    }
    got = {
        r.component: (r.canonical_id, r.best_quality, r.cluster_size)
        for r in dd.canonical_per_cluster(
            dd.neardup_components(pairs),
            docs.select("doc_id", "n_chars"),
            quality_col="n_chars",
        ).collect()
    }
    assert got == expected


def test_containment_pairs_vs_bruteforce(spark, sf_dir):
    """containment_pairs vs the exhaustive driver-side join on a fixture
    subset: every ordered pair with |S_A ∩ S_B| >= t*|S_A| appears with
    the exact overlap, probe size, and rounded containment — the
    asymmetric prefix filter + length filter lose nothing."""
    from hive_cassandra_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    sh = {
        r.doc: set(r.shs)
        for r in dd.shingle_table(docs).collect()
    }
    t_num, t_den = 4, 5
    exp = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter * t_den >= t_num * len(sa):
                exp[(a, b)] = (inter, len(sa), round(inter / len(sa), 4))
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.n_a, r.containment)
        for r in dd.containment_pairs(docs, t_num, t_den).collect()
    }
    assert got == exp


def test_containment_catches_embedded_snippet_jaccard_misses(spark):
    """The asymmetry containment exists for: a small doc EMBEDDED in a
    much larger one has containment 1.0 (A->B) but Jaccard far below
    any dedup threshold, and the reverse direction does not fire."""
    from hive_cassandra_spark.operators import dedup as dd

    snippet = "the quick brown fox jumps over the lazy dog"
    host = (
        "completely unrelated opening paragraph about database engines "
        "and distributed query planning with many extra words. "
        + snippet
        + " trailing discussion of shuffle partitioning and broadcast "
        "joins continues for a while longer with more filler tokens."
    )
    df = spark.createDataFrame(
        [(1, snippet), (2, host)], "doc_id long, text string"
    )
    rows = {
        (r.doc_a, r.doc_b): r.containment
        for r in dd.containment_pairs(df, 4, 5).collect()
    }
    assert rows == {(1, 2): 1.0}
    # Jaccard on the same pair is way below 0.8 — the symmetric engine
    # cannot see this inclusion at any usable threshold
    j = dd.prefix_filter_jaccard_pairs(df, 4, 5)
    assert j.count() == 0
