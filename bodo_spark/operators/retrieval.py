"""Lexical retrieval: inverted index, BM25 ranking, and reciprocal-rank
fusion (the hybrid lexical+vector protocol).

BM25 (Robertson et al., Okapi TREC-3 1994; the idf form is Lucene's
``ln(1 + (N - df + 0.5)/(df + 0.5))``, non-negative) complements the
vector-search tier (similarity.py brute/IVF, pq.py PQ/IVF-PQ): sparse
keyword match where embeddings miss exact identifiers, rare names, and
out-of-domain terms. ``rrf_fuse`` (Cormack et al. 2009) then combines
any number of rankings without score calibration -- the standard hybrid
retrieval recipe.

Scale design: the inverted index ``(term, doc_id, tf, dl)`` is the
durable artifact -- built in ONE corpus pass (explode + two
aggregations) and written partitioned/bucketed by term, so a query
batch joins against only its terms' postings (partition-pruned at
scan). Scoring never touches raw documents: the query side is tiny and
broadcast, per-term partials are map-side-combinable decimals, and the
final top-k is a per-query WindowGroupLimit. Skew note: a stopword's
posting list is the classic hot key -- the optional ``max_df_ratio``
drops saturated terms at index-build time (their idf ~ 0 contributes
nothing to ranking), bounding the widest posting list.

Reference parity: the reference delegates text retrieval to external
services (bodo/pandas/frame.py:721 S3 Vectors, series_ai.embed); here
the engine provides the ranking structure itself, like the ANN tier.

Determinism contract (oracle exact-match): dl/df/N are exact bigints;
avgdl is ONE double division of exact integers; idf and the per-term
BM25 partial are rounded to 9 dp (absorbing libm ln ulps) and summed
as DECIMAL(28,9) -- order-independent -- with the final score one
double cast rounded to 6 dp; ties rank by ascending doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..modes import exact_mode
from .text import tokenize_ws

__all__ = ["bm25_index", "bm25_append", "bm25_corpus_stats",
           "bm25_topk", "bm25_partial_col", "rrf_fuse",
           "bm25_store_index", "bm25_stored_topk"]


def _sum6(part):
    """Order-independent DECIMAL(28,9) sum under the exact gate;
    plain double sum in fast/bench mode (the queries/_util.py dec()
    policy applied to the retrieval tier)."""
    if exact_mode():
        return F.round(F.sum(part.cast("decimal(28,9)"))
                       .cast("double"), 6)
    return F.round(F.sum(part), 6)


def bm25_index(docs: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text",
               max_df_ratio: float | None = None) -> DataFrame:
    """Build the inverted index: ``(term, doc_id, tf, dl)`` -- one row
    per (term, document) with the term frequency and the document's
    token length. ONE corpus pass: tokenize, explode, count.

    ``max_df_ratio``: drop terms appearing in more than this fraction
    of documents (stopword pruning -- their idf is ~0, so they cost
    the widest shuffle rows while moving no ranking mass). Implemented
    as a term-level filter AFTER the tf aggregation so dl still counts
    every token (the BM25 length normalization is unchanged).

    At 100 TB: write this frame partitioned or bucketed by ``term`` --
    ``bm25_topk`` joins on term, so a stored-index serving path scans
    only the query batch's terms."""
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        tokenize_ws(text_col).alias("_t"))
            .select("doc_id", F.size("_t").cast("bigint").alias("dl"),
                    F.explode("_t").alias("term")))
    tf = (toks.groupBy("term", "doc_id", "dl")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
          .select("term", "doc_id", "tf", "dl"))
    if max_df_ratio is not None:
        n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
        dfreq = (tf.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("_df"))
                 .crossJoin(F.broadcast(n_docs))
                 .where(F.col("_df") <= F.col("_n") * F.lit(max_df_ratio))
                 .select("term"))
        tf = tf.join(dfreq, "term")
    return tf


def bm25_append(postings: DataFrame, new_docs: DataFrame, *,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Append a document batch to a stored inverted index: tokenize and
    count ONLY the batch (work strictly proportional to it -- the
    indexed corpus is never re-read) and union onto the postings. The
    lifecycle invariant of every index family here: postings rows are
    per-(term, doc) pure functions of the document, so batch-wise
    construction over disjoint doc ids yields the IDENTICAL relation
    to a one-shot build -- the text_bm25_append gate pins a search
    over a two-batch index against the one-shot oracle. df/N/avgdl
    are derived from the postings at query time (or re-persisted via
    bm25_corpus_stats after the append), so scores need no further
    maintenance.

    ``max_df_ratio`` pruning is deliberately NOT available here: it is
    a corpus-level statistic, and pruning a batch by its own df would
    diverge from the one-shot index. Prune at compaction (rebuild with
    bm25_index(max_df_ratio=...)) instead."""
    return postings.unionByName(
        bm25_index(new_docs, id_col=id_col, text_col=text_col))


def bm25_corpus_stats(postings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the two small stats artifacts from the postings frame:
    ``term_stats (term, df)`` and the ONE-ROW ``corpus_stats (n_docs,
    sum_dl)``. Both are lazy aggregations over the index -- persist
    them next to a stored index so serving skips the recount; at query
    time corpus_stats rides as a broadcast one-row frame (never a
    driver-side .count())."""
    term_stats = (postings.groupBy("term")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("df")))
    per_doc = (postings.groupBy("doc_id")
               .agg(F.max("dl").alias("_dl")))
    corpus_stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_dl").cast("bigint").alias("sum_dl"))
    return term_stats, corpus_stats


def bm25_partial_col(*, k1: float = 1.2, b: float = 0.75):
    """The per-(query-term, doc) BM25 partial as a Column over the
    joined columns ``tf, dl, df, n_docs, sum_dl``: round(idf * tf *
    (k1+1) / (tf + k1*(1-b+b*dl/avgdl)), 9) with the Lucene idf,
    itself rounded to 9 dp (absorbs libm ln ulps). Shared by the batch
    ranker and the streaming serving twin so both produce
    bit-identical partials against one oracle."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.round(F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))), 9)
    denom = (F.col("tf") + F.lit(float(k1))
             * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") / avgdl))
    return F.round(idf * (F.col("tf") * F.lit(float(k1 + 1.0))) / denom, 9)


def bm25_topk(postings: DataFrame, queries: DataFrame, *,
              q_id_col: str = "q_id", q_text_col: str = "q_text",
              k: int = 10, k1: float = 1.2, b: float = 0.75,
              term_stats: DataFrame | None = None,
              corpus_stats: DataFrame | None = None) -> DataFrame:
    """BM25 top-k: returns ``(q_id, doc_id, score, rn)`` with rn 1..k
    by descending score (ties to the lowest doc id). Query terms are
    DEDUPLICATED (set semantics -- standard for short queries).

    score(q, d) = sum over t in q∩d of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (Lucene form).

    Plan: query terms (tiny) broadcast-join the postings on term; the
    per-(q, doc) partial is a 9-dp decimal so the groupBy sum is
    map-side-combinable and order-independent; top-k is one per-query
    window (WindowGroupLimit). The corpus is never rescanned when
    ``term_stats``/``corpus_stats`` come from a stored index."""
    if term_stats is None or corpus_stats is None:
        # the inline-stats path consumes postings THREE times (scored
        # join + term stats + corpus stats); without a boundary each
        # consumer re-executes the whole index build -- measured 3x+ on
        # the append gate at 100x. localCheckpoint, not plain persist:
        # same MEMORY_AND_DISK blocks (released via ContextCleaner /
        # dedup.unpersist_cached discipline), but lineage is truncated
        # so the three consumers plan against a leaf RDD instead of
        # each re-analyzing the tokenize/explode/groupBy index build
        # (cache substitution happens only AFTER analysis). Lazy, like
        # persist. The stored-stats serving path skips this entirely.
        from .dedup import _PERSISTED
        postings = postings.localCheckpoint(eager=False)
        _PERSISTED.append(postings)
        ts, cs = bm25_corpus_stats(postings)
        term_stats = term_stats if term_stats is not None else ts
        corpus_stats = corpus_stats if corpus_stats is not None else cs
    q_terms = (queries.select(F.col(q_id_col).alias("q_id"),
                              F.explode(tokenize_ws(q_text_col))
                              .alias("term"))
               .distinct())
    part = bm25_partial_col(k1=k1, b=b)
    scored = (postings
              .join(F.broadcast(q_terms), "term")
              .join(F.broadcast(term_stats
                                .join(q_terms.select("term").distinct(),
                                      "term")), "term")
              .crossJoin(F.broadcast(corpus_stats))
              .groupBy("q_id", "doc_id")
              .agg(_sum6(part).alias("score")))
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), "doc_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("q_id", "doc_id", "score",
                    F.col("rn").cast("bigint").alias("rn")))


def bm25_store_index(postings: DataFrame, path: str, *,
                     n_term_buckets: int = 64,
                     mode: str = "errorifexists") -> None:
    """Persist the inverted index as the SERVING artifact the module
    docstring promises: postings hive-partitioned by a term hash
    bucket (``tbucket = pmod(xxhash64(term), n_term_buckets)``), the
    derived ``term_stats`` partitioned the same way, the one-row
    ``corpus_stats``, and a meta row pinning the bucket count. A query
    batch's terms hash to a BOUNDED bucket set, so bm25_stored_topk's
    reads prune to those partition directories -- the
    io_partitioned_roundtrip discipline applied to the retrieval tier
    (PartitionFilters asserted in test_plans). The postings plan is
    persisted for the duration of the store (it feeds three writes).
    The bucket is merge._bucket_expr on ``term`` and both tables go
    through merge.write_keyed, one file per shard, so
    bm25_stored_append's term_stats merge buckets like the store."""
    if n_term_buckets < 1:
        raise ValueError(f"n_term_buckets must be >= 1, "
                         f"got {n_term_buckets}")
    from pyspark import StorageLevel

    from .merge import _bucket_expr, write_keyed
    nb = int(n_term_buckets)
    postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the keyed repartition matters most here: a cached frame pins
        # its partitioning (AQE cannot coalesce an InMemoryTableScan),
        # and tasks x buckets tiny files made the store 43.5 s vs 8.3 s
        # for the same 10x write (SCALE.md r12)
        write_keyed(postings.withColumn("tbucket",
                                        _bucket_expr(["term"], nb)),
                    f"{path}/postings", "tbucket", nb, mode=mode)
        ts, cs = bm25_corpus_stats(postings)
        write_keyed(ts.withColumn("tbucket", _bucket_expr(["term"], nb)),
                    f"{path}/term_stats", "tbucket", nb, mode=mode)
        # corpus_stats is one aggregated row and meta a pure driver
        # value -- bounded artifacts, written driver-locally (no write
        # job / commit protocol each; see rowframe.write_artifact_rows)
        from ..rowframe import write_artifact_rows
        write_artifact_rows(f"{path}/corpus_stats",
                            [tuple(r) for r in cs.collect()],
                            cs.schema, mode=mode)
        write_artifact_rows(f"{path}/meta", [(nb,)],
                            "n_term_buckets int", mode=mode)
    finally:
        try:
            postings.unpersist()
        except Exception:
            pass


def bm25_stored_append(new_docs: DataFrame, path: str, *,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       retain_history: bool = False) -> int | None:
    """Append a document batch to a STORED index -- the full serving
    lifecycle without a rebuild. Work is proportional to the batch:
    (1) the batch's postings (bm25_index over the batch only) are
    dynamic-partition-APPENDED into their term-bucket directories;
    (2) ``term_stats`` is maintained by an additive file-pruned MERGE
    (merge_into_partitioned on term with the SAME xxhash bucket scheme
    the store used -- only the batch terms' shards are read and
    rewritten); (3) the one-row ``corpus_stats`` adds the batch's
    n_docs/sum_dl. One-shot equivalence: postings rows are per-(term,
    doc) pure functions of the document and both stats are additive
    over disjoint doc ids (the bm25_append contract), so the appended
    store serves identically to a fresh one -- the
    text_bm25_stored_append gate shares the one-shot oracle verbatim.

    Atomicity (r13 ADVICE -- the three artifacts used to mutate in
    place sequentially, so a crash or concurrent reader between steps
    saw postings without matching df/corpus stats): the mutations now
    run against a HARDLINK COPY of the store (metadata cost -- parquet
    files are immutable, the merge/append steps only add or swap whole
    files, and the touched term shards are rewritten copy-on-write so
    the live store's inodes are never modified through the links) and
    the whole store swaps once, under the publish lock. A reader sees
    the pre-append store or the post-append store, never a torn one;
    a failed append leaves the live store untouched. The snapshot and
    the staged mutations run inside the swap's build step, under the
    lock, so a second append raises ConcurrentWriteError instead of
    swapping the first one's documents away. ``retain_history``
    keeps the superseded store as an archive generation (rollback via
    store_swap.restore_store_generation); returns its number."""
    from pyspark import StorageLevel

    from ..rowframe import read_artifact_rows, write_artifact_rows
    from .merge import _bucket_expr, merge_into_partitioned, write_keyed
    from .store_swap import guarded_store_swap, snapshot_hardlink
    spark = new_docs.sparkSession
    norm = path.rstrip("/")

    def build(staging: str) -> None:
        nb = int(read_artifact_rows(f"{norm}/meta")[0][0]["n_term_buckets"])
        batch = (bm25_index(new_docs, id_col=id_col, text_col=text_col)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            snapshot_hardlink(norm, staging)
            write_keyed(batch.withColumn("tbucket",
                                         _bucket_expr(["term"], nb)),
                        f"{staging}/postings", "tbucket", nb,
                        mode="append")
            bts, bcs = bm25_corpus_stats(batch)
            merge_into_partitioned(
                spark, f"{staging}/term_stats", bts, ["term"],
                n_buckets=nb, bucket_col="tbucket",
                when_matched_update={"df": F.col("df") + F.col("src_df")},
                when_not_matched_insert={"term": F.col("src_term"),
                                         "df": F.col("src_df")})
            b = bcs.collect()[0]
            # additive one-row update of a bounded artifact: driver-local
            # read + write (no local_df evaluation, no write job; the
            # staging dir is private until the whole-store swap)
            cur, cschema = read_artifact_rows(f"{staging}/corpus_stats")
            write_artifact_rows(
                f"{staging}/corpus_stats",
                [(int(cur[0]["n_docs"]) + int(b["n_docs"]),
                  int(cur[0]["sum_dl"]) + int(b["sum_dl"]))],
                cschema, mode="overwrite")
        finally:
            batch.unpersist()

    return guarded_store_swap(norm, build, retain_history=retain_history)


def bm25_stored_topk(spark, path: str, queries: DataFrame, *,
                     q_id_col: str = "q_id", q_text_col: str = "q_text",
                     k: int = 10, k1: float = 1.2,
                     b: float = 0.75) -> DataFrame:
    """Serving-path BM25 over a stored index: the query batch's terms
    hash to their buckets (a bounded driver-side list -- <= the number
    of distinct query terms and <= n_term_buckets), the postings and
    term_stats scans carry the bucket IN list as PartitionFilters
    (static partition pruning: only the query's term shards are ever
    opened), and the ranking is the shared bm25_topk pass with the
    stored stats -- value-identical to an in-memory index (the
    text_bm25_stored_prune gate shares text_bm25_topk's oracle
    verbatim). This is the read side of the "write partitioned by
    term" claim: per query batch, I/O is bound by the touched shards,
    not the corpus."""
    from ..rowframe import artifact_df, read_artifact_rows
    from .merge import _bucket_expr, read_keyed
    nb = int(read_artifact_rows(f"{path}/meta")[0][0]["n_term_buckets"])
    buckets = [r[0] for r in
               (queries.select(F.explode(tokenize_ws(q_text_col))
                               .alias("term"))
                .select(_bucket_expr(["term"], nb).alias("tb"))
                .distinct().collect())]
    postings, ts = (read_keyed(spark, f"{path}/{name}", "tbucket",
                               buckets).drop("tbucket")
                    for name in ("postings", "term_stats"))
    cs = artifact_df(spark, f"{path}/corpus_stats")
    return bm25_topk(postings, queries, q_id_col=q_id_col,
                     q_text_col=q_text_col, k=k, k1=k1, b=b,
                     term_stats=ts, corpus_stats=cs)


def mmr_rerank(candidates: DataFrame, *, q_id_col: str = "q_id",
               id_col: str = "doc_id", rel_col: str = "score",
               vec_col: str = "vec", k: int = 5,
               lam: float = 0.5) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998): greedily re-rank a per-query candidate shortlist
    so each pick balances relevance against similarity to what is
    already picked -- mmr = lam * rel - (1 - lam) * max_sim(picked).
    The standard diversity pass between retrieval and an LLM context
    window (near-duplicate passages waste the budget).

    ``candidates``: (q_id, id, rel, vec) -- a top-N shortlist per
    query (e.g. bm25_topk or sq_topk joined back to vectors). Returns
    (q_id, id, mmr, rn) with rn 1..k in pick order.

    Plan: the greedy loop unrolls to ``k`` DataFrame steps, each a
    candidates x picked join (both shortlist-sized), one max-sim
    aggregation, and a per-query min(struct) argmax -- ALL JVM
    expressions (sequential-fold cosines rounded to 9 dp, ties to the
    lowest id), so a SQL oracle re-derives every pick exactly. Work
    per query is O(k * shortlist) pairs; the corpus is never touched
    -- at 100 TB this runs on the retrieval output, not the data."""
    from .similarity import cosine
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cands = candidates.select(
        F.col(q_id_col).alias("q_id"), F.col(id_col).alias("id"),
        F.col(rel_col).cast("double").alias("rel"),
        F.col(vec_col).alias("vec"))
    picked = None
    remaining = cands
    for step in range(1, k + 1):
        if picked is None:
            scored = remaining.withColumn("_mmr", F.col("rel"))
        else:
            pv = picked.select(F.col("q_id"),
                               F.col("vec").alias("_pvec"))
            sims = (remaining.join(pv, "q_id")
                    .withColumn("_sim", F.round(
                        cosine(F.col("vec"), F.col("_pvec")), 9))
                    .groupBy("q_id", "id")
                    .agg(F.max("_sim").alias("_ms")))
            scored = (remaining.join(sims, ["q_id", "id"])
                      .withColumn("_mmr",
                                  F.lit(float(lam)) * F.col("rel")
                                  - F.lit(float(1.0 - lam))
                                  * F.col("_ms")))
        best_key = (scored.groupBy("q_id")
                    .agg(F.min(F.struct(
                        (-F.col("_mmr")).alias("ns"),
                        F.col("id").alias("i"))).alias("_b"))
                    .select("q_id", F.col("_b.i").alias("id")))
        best = (scored.join(best_key, ["q_id", "id"])
                .select("q_id", "id", "rel", "vec",
                        F.col("_mmr").alias("mmr"),
                        F.lit(step).cast("bigint").alias("rn")))
        picked = best if picked is None else picked.unionByName(best)
        remaining = remaining.join(best_key.select("q_id", "id"),
                                   ["q_id", "id"], "left_anti")
    return picked.select("q_id", F.col("id").alias(id_col), "mmr", "rn")


def rrf_fuse(rankings: list[DataFrame], *, k: int = 60, topk: int = 10,
             q_id_col: str = "q_id", id_col: str = "doc_id",
             rn_col: str = "rn") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke, Buettcher 2009):
    fused(q, d) = sum over input rankings of 1 / (k + rank). Returns
    ``(q_id, doc_id, rrf, rn)`` with rn 1..topk by descending fused
    score (ties to the lowest doc id). Score-scale-free, so lexical
    BM25 and vector ANN rankings fuse without calibration -- the
    standard hybrid-retrieval combiner.

    Determinism: each contribution 1/(k+rn) is one double division of
    exact integers rounded to 9 dp, summed as DECIMAL(28,9); inputs
    only need (q_id, doc_id, rn) columns. Plan: a unionAll of the
    (already small, top-k-sized) rankings, one groupBy, one window --
    nothing corpus-sized."""
    contrib = F.round(F.lit(1.0)
                      / (F.lit(int(k)) + F.col(rn_col)).cast("double"), 9)
    if exact_mode():
        contrib = contrib.cast("decimal(28,9)")
    parts = [r.select(F.col(q_id_col).alias("q_id"),
                      F.col(id_col).alias("doc_id"),
                      contrib.alias("_c"))
             for r in rankings]
    if not parts:
        raise ValueError("rrf_fuse needs at least one ranking")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (u.groupBy("q_id", "doc_id")
             .agg(F.round(F.sum("_c").cast("double"), 9).alias("rrf")))
    w = W.partitionBy("q_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (fused.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= topk)
            .select("q_id", "doc_id", "rrf",
                    F.col("rn").cast("bigint").alias("rn")))
