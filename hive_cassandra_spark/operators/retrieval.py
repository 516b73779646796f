"""Text retrieval: inverted postings and BM25-structured top-k scoring.

The training-data-pipeline face of search: decontamination against a
benchmark, hard-negative mining, and "find the docs most like this
query" QA all need a term-based relevance scorer over the corpus. The
reference engine has no retrieval surface (its closest analogue is the
secondary-index lookup, ``cassandra/CassandraStorageHandler.java``'s
predicate pushdown seam); this module is part of the §2.C extension
tier, built entirely from relational primitives so Catalyst owns the
physical plan.

Scale design
------------
* ``postings`` is explode → hash-aggregate on ``(doc_id, term)``: one
  exchange with map-side partial aggregation; document length rides the
  same aggregate (no second scan).
* Term document frequencies are a groupBy on ``term`` — a count-only
  aggregate, so hot stopword-grade terms cost a counter each, never a
  row explosion.
* Query sets are literal one-row-per-term tables, broadcast to the
  postings; the per-query top-k is ``row_number`` over
  ``(score DESC, doc_id)`` filtered to ``k``, which Spark plans as
  WindowGroupLimit — per-partition heaps, never a global sort.
* Corpus scalars (doc count, average document length) are a one-row
  aggregate cross-joined in — the house one-row-broadcast-probe pattern
  (`sketches.py` precedent), not a driver collect.

Determinism contract (the oracle-hash requirement)
--------------------------------------------------
Classic BM25 needs ``ln`` for idf, and ``ln`` — unlike IEEE ``sqrt``
(q132's contract) — carries no cross-engine correct-rounding guarantee,
so a float BM25 cannot promise hash-identical scores between Spark and
DuckDB. The scorer therefore uses the BM25 *structure* with a rational
idf surrogate, evaluated in exact BIGINT arithmetic:

    idf_r     = (2N - 2·df + 1) / (2·df + 1)        # the Robertson
                                                    # odds ratio, un-logged
    tf_part   = tf·(k1+1) / (tf + k1·(1 - b + b·dl/A))
    score     = Σ_terms  floor(1e6 · idf_r · tf_part)

with k1 = 1.2, b = 0.75 folded into integer constants (×40 common
denominator) and ``A = floor(total_tokens / N)`` the integer average
document length:

    tf_part   = 88·tf·A / (40·tf·A + 12·A + 36·dl)

Every factor is a BIGINT; the single floor-division per term is the
only rounding, applied identically by both engines, so the summed
scores are bit-identical. Monotonicity in tf, df, and dl matches BM25
(more occurrences ↑, rarer term ↑, longer doc ↓); only the idf *scale*
differs from the logged form — documented, and irrelevant to ranking
within a single term. Magnitude bound: 1e6·(2N+1)·88·tf·A stays under
2^63 through N ≈ 1e9 docs at tf ≤ 100, A ≤ 1000; beyond that a real
deployment would shift to doubles and give up the cross-engine hash,
not the ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hive_cassandra_spark.operators.text import tokens
from hive_cassandra_spark.session import local_df

SCALE = 1_000_000  # fixed-point scale of the per-term floor


def postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted postings ``(id, term, tf, dl)``.

    One explode + one hash aggregate over the raw tokens: tf is the
    per-(doc, term) count with map-side partial aggregation combining
    duplicates before the shuffle. Everything else (dl, df, corpus
    totals) derives from the tf aggregate, which is orders of magnitude
    smaller than the exploded token stream — the corpus is scanned and
    exploded exactly once, and the follow-on aggregates ride
    ReusedExchange. The join of tf to the per-doc dl is the one extra
    exchange, linear in postings.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl = Σ tf over the doc — derived FROM the tf aggregate, never from
    # a second pass over the exploded tokens: every downstream stat
    # shares tf's exchange (ReusedExchange in the physical plan), so the
    # corpus is scanned and exploded exactly once however many stats are
    # stacked on top.
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "id")


def term_stats(post: DataFrame) -> DataFrame:
    """Document frequency per term from a postings table."""
    return post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(df: DataFrame, post: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-row ``(n, s, a)``: corpus document count, total token count,
    and integer average document length ``A = floor(s / N)``. N counts
    every document (token-less docs simply never enter the postings).
    ``s`` rides along because ``a`` alone is floor-lossy: incremental
    index maintenance (``update_postings_index_occ``) re-derives the merged
    average from exact ``(n, s)`` sums, never from a stale floor."""
    n = df.groupBy().agg(F.count(F.lit(1)).alias("n"))
    # total tokens = Σ tf over all postings (each posting row carries its
    # term's count once) — again derived from tf, not a fresh token pass
    s = post.groupBy().agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("s"))
    return n.crossJoin(s).select(
        "n",
        F.col("s").cast("long").alias("s"),
        F.expr("s div greatest(n, 1)").cast("long").alias("a"),
    )


def with_bm25_term_score(df: DataFrame, out_col: str = "term_score") -> DataFrame:
    """Append the per-term fixed-point score over columns tf, dl, df,
    n, a — exact BIGINT arithmetic, one integer ``div`` (see module
    contract). A plain ``/`` would promote to DOUBLE and lose exactness
    above 2^53; ``div`` keeps the whole pipeline in BIGINT."""
    num = (
        F.lit(SCALE)
        * (F.lit(2) * F.col("n") - F.lit(2) * F.col("df") + F.lit(1))
        * (F.lit(88) * F.col("tf") * F.col("a"))
    )
    den = (F.lit(2) * F.col("df") + F.lit(1)) * (
        F.lit(40) * F.col("tf") * F.col("a")
        + F.lit(12) * F.col("a")
        + F.lit(36) * F.col("dl")
    )
    return (
        df.withColumn("__num", num.cast("long"))
        .withColumn("__den", den.cast("long"))
        .withColumn(out_col, F.expr("__num div __den"))
        .drop("__num", "__den")
    )


def build_postings_index_occ(
    spark,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expected_version: int | None = None,
    retain_versions: int = 0,
) -> dict:
    """Materialize the retrieval index once per corpus version: the
    postings table and the one-row corpus stats land as ONE SNAPSHOT
    commit of an OCC-versioned artifact (tables ``postings`` and
    ``meta``). This is THE corpus pass — the build scans the documents
    exactly twice (once exploded for postings, once column-pruned for
    the doc count) and every downstream consumer (BM25 top-k, qrels
    derivation, RRF's sparse leg, eval) reads only the artifact through
    ``read_postings_index_occ``, which is orders of magnitude smaller
    than the corpus. At 100 TB the index build is the amortized nightly
    job; queries are interactive against the parquet postings with
    min/max term pruning. Incremental maintenance is
    ``update_postings_index_occ``.

    A rebuild that raced a delta update (its read version went stale)
    fails closed and must refresh, never clobbering the delta; prior
    versions become invisible atomically and are vacuumable at leisure.
    ``expected_version=None`` reads the current version
    (rebuild-at-current); pass an explicit version to pin the read
    snapshot the rebuild derived from. ``retain_versions=K`` keeps the
    K newest superseded versions on disk through the post-commit
    vacuum, so ``as_of_version`` pins (q204) stay serviceable across
    the nightly rebuild (sink.occ_vacuum retention)."""
    from hive_cassandra_spark import sink

    # persist for the duration of the commit: the corpus-stats meta
    # derives its token total from the postings aggregate, which would
    # otherwise re-scan + re-explode the corpus a second time
    post = postings(df, id_col, text_col).persist()
    meta = corpus_stats(df, post, id_col)
    v = (
        sink.store_version(path)
        if expected_version is None
        else expected_version
    )
    res = sink.occ_commit_tables(
        spark, path, {"postings": post, "meta": meta}, v,
        snapshot=True,
    )
    post.unpersist()
    if res["committed"]:
        sink.occ_vacuum(path, retain_versions=retain_versions)
    return res


def read_postings_index_occ(
    spark, path: str, as_of_version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(postings, corpus_meta) from a ``build_postings_index_occ``
    index, both read from ONE ``sink.occ_snapshot`` so they always come
    from the same version set: postings union every published version
    at or above the snapshot floor (append semantics); meta is the
    latest published row (each commit republishes the full merged
    stats). ``as_of_version=N`` pins both tables to the index state
    when version N was the head — later deltas and later rebuild
    snapshots invisible — so a training run that recorded the version
    it retrieved against reproduces the exact same ranked results
    later. Fails closed on a never-built artifact."""
    from hive_cassandra_spark import sink

    snap = sink.occ_snapshot(spark, path)
    return (
        snap.read("postings", as_of_version=as_of_version),
        snap.read("meta", latest_only=True, as_of_version=as_of_version),
    )


def update_postings_index_occ(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
    max_retries: int = 5,
    claim_grace_s: float = 10.0,
) -> dict:
    """THE incremental index-maintenance path (the delta job that keeps
    ``build_postings_index_occ``'s nightly corpus pass amortized — only the
    new documents are scanned, per-doc postings append exactly, corpus
    stats merge from exact (n, s) sums, never the floor-lossy average),
    with the crash-atomicity and race safety the r09 advisor asked for
    — its legacy non-OCC predecessor appended postings before a meta
    rename swap and was deleted (r10 verdict item 4): the delta postings AND the merged
    corpus meta publish under ONE version marker (all-or-nothing — no
    window where postings carry the delta but stats are stale), and the
    commit declares the version its meta read came from, so a racing
    rebuild or second maintainer forces a refresh-and-retry instead of
    a silent double-merge. The whole read-modify-commit runs through
    ``sink.occ_update``: one attempt reads ONE snapshot of the marker
    log, and a retried ``batch_id`` is detected from that snapshot (its
    marker tag) and no-ops — a duplicate delivery that publishes
    mid-attempt makes this attempt's commit lose, and the retry sees
    the tag, so the double-append corruption mode is structurally gone.
    Returns {docs_added, tokens_added, n, a, version, conflicts,
    already_applied}."""
    from hive_cassandra_spark import sink

    # persist the delta: every attempt consumes it twice (the stats head
    # and the staging write), and it does not depend on the index state,
    # so the retries reuse it too. The commit sizes its parts by data.
    delta_post = postings(new_docs, id_col, text_col).persist()

    def derive(snap):
        meta = snap.read("meta", latest_only=True)
        if "s" not in meta.columns:
            raise ValueError(
                "index meta has no total-token column 's' — rebuild it "
                "with build_postings_index_occ (a floor-rounded average "
                "alone cannot be merged exactly)"
            )
        old = meta.head()
        dlt = corpus_stats(new_docs, delta_post, id_col).head()
        n = int(old["n"]) + int(dlt["n"])
        s = int(old["s"]) + int(dlt["s"])
        merged = local_df(
            spark, [(n, s, s // max(n, 1))], "n long, s long, a long"
        )
        return {"postings": delta_post, "meta": merged}, {
            "docs_added": int(dlt["n"]), "tokens_added": int(dlt["s"]),
            "n": n, "a": s // max(n, 1),
        }

    try:
        res = sink.occ_update(
            spark, path, derive, tag=batch_id, max_retries=max_retries,
            claim_grace_s=claim_grace_s,
        )
    finally:
        delta_post.unpersist()
    del res["files"]
    return {"docs_added": 0, "tokens_added": 0, "n": None, "a": None, **res}


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    post: DataFrame | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query by summed per-term BM25 score.

    ``queries`` is a (query_id, term) table — normally a literal few
    rows, always broadcast. Ranking ties break on doc id ascending so
    the result is total-ordered and hash-stable.

    ``post`` accepts a prebuilt postings table (``postings()`` output,
    typically materialized to parquet once per corpus version). That is
    the 100 TB deployment shape: the inline path re-derives tf/df/dl
    stats from the same logical subtree, and Spark's exchange-reuse
    does not canonicalize through the tokenizer's lambda expressions,
    so each stat replays the (column-pruned) corpus scan. Indexing once
    and querying the artifact — exactly how production retrieval
    systems amortize the corpus pass — collapses those replays to one
    scan of the (much smaller) postings table per stat.

    ``corpus`` accepts a prebuilt one-row (n, a) corpus-stats table
    (``corpus_stats()`` output, materialized next to the postings by
    ``build_postings_index_occ``); with both ``post`` and ``corpus`` given,
    ``df`` is never touched — the fully-indexed serving path scans ZERO
    document bytes.
    """
    if post is None:
        post = postings(df, id_col, text_col)
    if corpus is None:
        corpus = corpus_stats(df, post, id_col)  # needs the FULL postings
    # Restrict postings to the query terms BEFORE deriving term stats:
    # the full term vocabulary grows with the corpus (Heaps' law), so
    # broadcasting term_stats(post) wholesale — the pre-r11 shape —
    # would OOM at exactly the scale the index exists for. Restricted,
    # the stats side is query-term-sized (bounded by the caller's query
    # list), the broadcast hint is provably safe, and the df/tf values
    # are identical (a term's stats depend only on its own postings).
    qterms = queries.select("term").distinct()
    post_q = post.join(F.broadcast(qterms), "term")
    stats = term_stats(post_q)
    scored = with_bm25_term_score(
        queries.join(post_q, "term")
        .join(F.broadcast(stats), "term")
        .crossJoin(F.broadcast(corpus))
    ).groupBy("query_id", "id").agg(F.sum("term_score").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("id").alias(id_col),
            "score",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of per-query ranked lists — the standard
    hybrid-retrieval combiner (Cormack et al., SIGIR 2009): a document's
    fused score is Σ over sources of 1/(k0 + rank), so agreement between
    retrievers dominates any single retriever's raw score scale. This is
    how RAG pipelines fuse BM25 (sparse) with embedding-cosine (dense)
    candidates without calibrating their incomparable score ranges.

    Each input carries exactly ``(query_id, id, rank)`` — already a
    per-query top-k, i.e. k·|queries| rows regardless of corpus size, so
    the fusion itself is trivially cheap at 100 TB: one unionAll (no
    shuffle), one hash aggregate on (query_id, id), and a WindowGroupLimit
    top-k. The heavy lifting stays in the upstream retrievers, which is
    the point of fusing rank lists instead of score matrices.

    Scores are exact fixed-point: ``SCALE div (k0 + rank)`` per source,
    summed as BIGINT — one floor-division per (source, hit), applied
    identically by any engine, so fused scores (and the re-ranking) are
    bit-identical cross-engine. Ties break on id ascending.

    Output: (query_id, rank, id, rrf_score, n_sources).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    u = rankings[0].select("query_id", "id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("query_id", "id", "rank"))
    fused = u.groupBy("query_id", "id").agg(
        F.sum(F.expr(f"{SCALE} div ({k0} + rank)")).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "id", "rrf_score", "n_sources")
    )


def phrase_match(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dictionary phrase matching: count exact (consecutive-token) phrase
    occurrences per document for a literal phrase list — the keyword /
    brand-safety / policy tagging pass curation pipelines run over every
    crawl, and the exact-phrase complement to ``bm25_topk``'s bag-of-
    terms scoring.

    Candidate generation is FIRST-TOKEN ANCHORED: the corpus explodes to
    (id, pos, token) once, and a broadcast join against each phrase's
    first token yields candidates, which re-join the doc token arrays to
    verify the full k-token slice. That ordering matters at 100 TB: the
    per-position explode never carries the token array (linear, narrow),
    the dictionary is broadcast-sized by definition, and the full-array
    verify join touches only candidate docs — a per-row loop over the
    dictionary would re-scan every doc for every phrase, and carrying
    the array through the explode would square the corpus bytes.

    Tokenization is ``text.tokens`` (normalize + whitespace split), so
    matching is case- and whitespace-insensitive, and the verdict
    (array-slice equality on exact tokens) is engine-exact — no floats
    anywhere. Multi-token phrases match overlapping occurrences ("a a a"
    contains "a a" twice), consistent with the positional definition.

    Output: (id, phrase, n_hits ≥ 1).
    """
    if not phrases:
        raise ValueError("phrase_match needs at least one phrase")
    spark = df.sparkSession
    rows = []
    for p in phrases:
        toks = p.strip().lower().split()
        if not toks:
            raise ValueError(f"empty phrase: {p!r}")
        rows.append((p, toks[0], toks, len(toks)))
    dic = local_df(
        spark,
        rows, "phrase string, first_tok string, ptoks array<string>, k int"
    )
    docs = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    tok_pos = docs.select(
        "id", F.posexplode("toks").alias("pos", "tok")
    )
    cands = tok_pos.join(
        F.broadcast(dic), tok_pos["tok"] == dic["first_tok"]
    ).select("id", "pos", "phrase", "ptoks", "k")
    verified = cands.join(docs, "id").where(
        # slice is 1-based; pos is 0-based; a slice running past the end
        # comes back short and the equality fails — no bounds guard needed
        F.slice(F.col("toks"), F.col("pos") + 1, F.col("k"))  # noqa: E501
        == F.col("ptoks")
    )
    return verified.groupBy("id", "phrase").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def eval_ranking(
    ranking: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Rank-quality evaluation — the measurement loop every retrieval
    stack runs against labeled judgments (qrels): per query,
    precision@k, recall@k, and reciprocal rank, all in exact
    fixed-point (ppm) so the metrics replay bit-for-bit cross-engine
    (MRR's 1/rank and the @k ratios are rational; NDCG's log weights
    are not, which is why it is deliberately absent — the exactness
    contract beats one more metric).

    ``ranking`` carries (query_id, rank, id) — already a per-query
    top-k, so the join against the (query, relevant-doc) qrels is
    k·|queries| × judgments, broadcast-sized however large the corpus
    that produced the ranking was. One equi-join on (query_id, id),
    one per-query aggregate, one join to the per-query relevant count:
    evaluation cost is independent of corpus size, which is what makes
    eval-every-build feasible.

    Output: (query_id, n_rel, hits_at_k, precision_ppm, recall_ppm,
    rr_ppm) — rr is 0 when no relevant doc is retrieved, recall is 0
    for queries with no judgments (flagged by n_rel = 0).
    """
    r = ranking.select("query_id", F.col("id"), "rank").filter(
        F.col("rank") <= k
    )
    q = qrels.select("query_id", F.col("id"), F.lit(True).alias("__rel"))
    joined = r.join(q, ["query_id", "id"], "left")
    per_q = joined.groupBy("query_id").agg(
        F.sum(F.when(F.col("__rel"), 1).otherwise(0))
        .cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("__rel"), F.col("rank"))).alias("__first_rel"),
    )
    n_rel = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    out = per_q.join(n_rel, "query_id", "full_outer").select(
        "query_id",
        F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
        F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
        F.coalesce("__first_rel", F.lit(0)).alias("__first_rel"),
    )
    return out.select(
        "query_id",
        "n_rel",
        "hits_at_k",
        F.expr(f"(1000000 * hits_at_k) div {int(k)}")
        .cast("long").alias("precision_ppm"),
        F.when(
            F.col("n_rel") > 0,
            F.expr("(1000000 * hits_at_k) div n_rel"),
        ).otherwise(F.lit(0)).cast("long").alias("recall_ppm"),
        F.when(
            F.col("__first_rel") > 0,
            F.expr("1000000 div __first_rel"),
        ).otherwise(F.lit(0)).cast("long").alias("rr_ppm"),
    )


def stream_update_postings_index(
    spark,
    stream_docs: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """CONTINUOUS index maintenance: every micro-batch of newly crawled
    documents lands in the OCC-versioned postings artifact through
    ``update_postings_index_occ`` — the streaming face of q188/q191
    (the q167 ingest / sink.stream_to_cells precedent), closing the
    retrieval lifecycle: build once, serve from the artifact, maintain
    from the stream, measure (q172).

    Exactly-once composition, two independent layers:
    - the checkpoint replays unfinished batches after a crash
      (at-least-once delivery from Structured Streaming);
    - each batch commits under ``batch_id = stream-<n>`` — a replayed
      batch finds its marker tag already published and NO-OPS, so
      at-least-once upgrades to exactly-once index content (the same
      tag discipline q191 proves batch-side).

    The artifact stays serveable throughout: every micro-batch's delta
    postings + merged corpus stats publish under ONE version marker, so
    a concurrent reader sees each version atomically; a concurrent
    nightly REBUILD that raced a micro-batch fails closed and
    refreshes (OCC), never clobbering streamed deltas. foreachBatch
    runs driver-side; the per-batch work is the same two
    map-side-combinable aggregations as the batch path. Bootstrap the
    artifact with ``build_postings_index_occ`` (possibly on an empty
    corpus) before starting the stream. Returns the StreamingQuery;
    callers own awaitTermination/stop."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_postings_index_occ(
            spark, path, batch_df, id_col, text_col,
            batch_id=f"stream-{int(batch_id)}",
        )

    return (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
