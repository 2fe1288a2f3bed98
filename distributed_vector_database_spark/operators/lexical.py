"""Lexical (BM25) retrieval and lexical+vector hybrid fusion.

The reference is vector-only (its single text path embeds the query and
runs k-NN, clip/embedding.py:70-93); every production vector store pairs
that with a lexical index and a rank-fusion step, so this module adds
both as first-class operators over the `documents` fixture:

- bm25_search: Okapi BM25 (k1/b, Robertson-Sparck-Jones idf) computed
  entirely as Catalyst expressions. No token explode: per-query-term
  tf is `size(filter(tokens, t -> t = term))` inside the row, corpus
  stats (N, avgdl, per-term document frequency) are ONE aggregation
  producing a single broadcast row. At 100 TB the plan is: one
  stats scan (cacheable per query workload), one codegen'd scoring
  scan pre-filtered by arrays_overlap, TakeOrderedAndProject for the
  top-k. The classic explode->shuffle-on-term inverted-index build is
  deliberately absent from the query path — it shuffles the entire
  tokenized corpus; this shape shuffles nothing.
- hybrid_rrf: reciprocal-rank fusion (Cormack et al., SIGIR 2009):
  score(d) = sum over result lists of 1/(c + rank_d). Operates on two
  ALREADY-TRUNCATED top-n DataFrames (bounded rows by construction),
  so the rank windows and the full-outer join are small by contract —
  the expensive legs (vector scan, lexical scan) stay distributed.
"""

from __future__ import annotations

import math
import re as _re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.functions.localrel import local_df
from distributed_vector_database_spark.functions.text import tokenize


def term_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-term corpus statistics: (term, tf, df, n_docs, total_tokens).

    This is the maintainable half of a lexical index: every column is
    ADDITIVE, so stats over a growing corpus are kept current by running
    this on each ingest batch and `merge_term_stats`-ing into the stored
    table — the query path then never rescans the corpus (same continual-
    ingest shape as the incremental MinHash signature table). n_docs /
    total_tokens are denormalized onto every row so a single filtered
    read of this table carries everything BM25 needs."""
    toks = docs.select(tokenize(text_col).alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    per_term = (
        toks.select(F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_per_term = (
        toks.select(F.explode(F.array_distinct("__toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("__dl").alias("total_tokens")
    )
    return (
        per_term.join(df_per_term, "term")
        .crossJoin(F.broadcast(totals))
    )


def merge_term_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two term_stats tables (e.g. stored corpus + new batch) into
    one — pure additive aggregation, O(vocabulary) not O(corpus)."""
    # n_docs/total_tokens are denormalized constants per input table, so
    # collapse each side to one row before summing across the two inputs
    t = (
        a.agg(F.first("n_docs").alias("n"), F.first("total_tokens").alias("t"))
        .unionByName(
            b.agg(F.first("n_docs").alias("n"), F.first("total_tokens").alias("t"))
        )
        .agg(F.sum("n").alias("n_docs"), F.sum("t").alias("total_tokens"))
    )
    merged = (
        a.unionByName(b)
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"), F.sum("df").alias("df"))
    )
    return merged.crossJoin(F.broadcast(t))


def bm25_search(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_col: str = "doc_id",
    text_col: str = "text",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by Okapi BM25 for a bag of query terms.

    score(d) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); the (k1+1)
    numerator factor is omitted (Lucene does the same — it rescales
    every document identically and changes no ranking).

    With `stats` (a term_stats table, maintained incrementally via
    merge_term_stats) the corpus-stats aggregation scan disappears: the
    query reads ONE tiny filtered slice of the stats table plus the one
    scoring scan — the 100 TB serving shape. Without it, stats are
    computed inline (one extra corpus aggregation).

    Deterministic ordering: (round(score, 6) DESC, doc_id) so the
    result is reproducible in ANSI SQL for the oracle gate.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    toks = docs.select(
        F.col(doc_col), tokenize(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))

    if stats is None:
        # one corpus aggregation -> a single broadcast stats row:
        # N, avgdl, df per query term (count of docs containing it)
        stats_row = toks.agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg("__dl").alias("__avgdl"),
            *[
                F.sum(
                    F.array_contains("__toks", t).cast("long")
                ).alias(f"__df_{i}")
                for i, t in enumerate(terms)
            ],
        )
    else:
        # fold the (tiny) filtered stats slice to the same 1-row shape;
        # absent terms get df=0, exactly like the inline aggregation.
        # Corpus-level N/avgdl come from an UNFILTERED 1-row read: every
        # stats row replicates them, and sourcing them from the filtered
        # slice would yield nulls (null scores for every matched doc)
        # whenever no query term exists in the stats table — absent
        # terms must degrade to df=0, not poison the whole row.
        slice_ = stats.filter(F.col("term").isin(terms))
        dfs = slice_.agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == t, F.col("df"))), F.lit(0)
                ).alias(f"__df_{i}")
                for i, t in enumerate(terms)
            ],
        )
        corpus = stats.limit(1).select(
            F.col("n_docs").alias("__n"),
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
                "__avgdl"
            ),
        )
        stats_row = dfs.crossJoin(corpus)
    stats = stats_row

    scored = toks.filter(
        F.arrays_overlap("__toks", F.array(*[F.lit(t) for t in terms]))
    ).crossJoin(F.broadcast(stats))

    def term_score(i: int, t: str):
        tf = F.size(F.filter("__toks", lambda x: x == F.lit(t))).cast("double")
        idf = F.log(
            1.0
            + (F.col("__n") - F.col(f"__df_{i}") + 0.5) / (F.col(f"__df_{i}") + 0.5)
        )
        norm = F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
        )
        return idf * tf / (tf + norm)

    total = term_score(0, terms[0])
    for i, t in enumerate(terms[1:], start=1):
        total = total + term_score(i, t)

    return (
        scored.select(doc_col, F.round(total, 6).alias("score"))
        .orderBy(F.desc("score"), doc_col)
        .limit(k)
    )


def hybrid_rrf(
    results_a: DataFrame,
    results_b: DataFrame,
    k: int = 10,
    c: int = 60,
    doc_col: str = "doc_id",
    score_col: str = "score",
    ascending_a: bool = False,
    ascending_b: bool = True,
) -> DataFrame:
    """Reciprocal-rank fusion of two top-n result lists.

    `ascending_*` states whether a SMALLER score is better in that list
    (True for distance-like vector scores, False for BM25-like
    relevance). Ranks are (score, doc_id)-deterministic. Missing docs
    contribute 0 — the standard RRF convention.

    Both inputs are top-n truncated by contract, so the single-partition
    rank windows and the outer join touch bounded rows; keep the heavy
    scans inside the legs, not here.
    """

    def ranked(df: DataFrame, ascending: bool) -> DataFrame:
        order = (
            [F.col(score_col).asc(), F.col(doc_col).asc()]
            if ascending
            else [F.col(score_col).desc(), F.col(doc_col).asc()]
        )
        # constant-valued partition key: same single-partition execution
        # (the input is top-n truncated by contract, so this is
        # bounded-row work), spelled explicitly so the plan doesn't emit
        # the scary-looking "WindowExec: No Partition Defined" warning.
        # Must not be foldable — Spark's EliminateWindowPartitions rule
        # strips literal partition specs, resurrecting the warning —
        # hence the attribute-dependent crc32 % 1 (always 0)
        one_part = F.pmod(F.crc32(F.col(doc_col).cast("string")), F.lit(1))
        w = Window.partitionBy(one_part).orderBy(*order)
        return df.select(
            F.col(doc_col), F.row_number().over(w).alias("__rank")
        ).select(
            doc_col, (1.0 / (F.lit(float(c)) + F.col("__rank"))).alias("__rrf")
        )

    a = ranked(results_a, ascending_a).withColumnRenamed("__rrf", "__rrf_a")
    b_ = ranked(results_b, ascending_b).withColumnRenamed("__rrf", "__rrf_b")
    return (
        a.join(b_, on=doc_col, how="full_outer")
        .select(
            doc_col,
            F.round(
                F.coalesce("__rrf_a", F.lit(0.0)) + F.coalesce("__rrf_b", F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), doc_col)
        .limit(k)
    )


def _idf_py(n: int, df: int) -> float:
    """Reference idf for tests: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the bucket expression in postings_write:
    zlib.crc32 == Spark's crc32 (same polynomial), so query planning can
    compute a term's bucket without a JVM round-trip."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _postings_rows(
    toks: DataFrame, doc_col: str, n_buckets: int, aid: str
) -> DataFrame:
    """(term, doc, tf, dl, bucket, aid) rows from a tokenized frame —
    shared by the full build and the incremental append. `aid` is the
    write-attempt id: rows become VISIBLE only once a matching marker
    is published (versioned.publish_attempt), which is what makes
    appends replay-safe — an interrupted attempt's rows stay on disk
    but are never served, and its totals never count."""
    return (
        toks.select(
            doc_col, F.col("__dl").alias("dl"), F.explode("__toks").alias("term")
        )
        .groupBy("term", doc_col, "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "bucket",
            F.pmod(F.crc32(F.col("term").cast("binary")), F.lit(n_buckets)).cast(
                "int"
            ),
        )
        .withColumn("aid", F.lit(aid))
    )


def _postings_meta(spark, path: str, terms) -> tuple:
    """Shared serving preamble for every postings reader: layout
    bucket count, published attempt markers, their aid list, and the
    query terms' bucket set. One definition so marker/bucket handling
    cannot drift between the single-query and batched servers.
    Returns (n_buckets, markers, aids, buckets)."""
    n_buckets = int(
        spark.read.parquet(f"{path}/corpus").collect()[0]["n_buckets"]
    )
    aids = versioned.published_aids(path)
    markers = versioned.published_attempts(path)
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    return n_buckets, markers, aids, buckets


def _rank_per_query(per_query: DataFrame, k: int, doc_col: str) -> DataFrame:
    """Shared batched-serving tail: per-query (score DESC, doc) rank,
    truncated at k — the output contract every *_batch_search emits."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("score"), doc_col)
    return (
        per_query.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= k)
        .select("query_id", doc_col, "score", F.col("__rn").alias("rank"))
        .orderBy("query_id", "rank")
    )


def postings_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build a term-BUCKETED posting-list index on disk: one explode +
    one shuffle at INDEX time so that serving never scans the corpus.

    Layout: `{path}/postings/bucket=H/` holds rows
    (term, doc_id, tf, dl, aid) for every term with crc32(term) %
    n_buckets == H; `{path}/corpus/` is a 1-row config (n_buckets);
    `{path}/_published/` holds one JSON marker per PUBLISHED write attempt
    carrying its corpus-totals delta. A query for `q` terms reads ONLY
    the <=q bucket directories (partition-pruned) further filtered to
    the exact terms (predicate pushed to parquet) — at 100 TB a
    rare-term query touches megabytes of postings instead of the whole
    corpus, which is the whole point of an inverted index. df per term
    is derivable from the pruned slice itself (count of postings rows),
    so serving needs no separate stats table.

    Write-audit-publish: rows are stamped with a write-attempt id and
    only served once the attempt's marker exists — so an append that
    crashes mid-write leaves invisible orphans, not duplicates, and a
    replayed streaming batch is detected by its batch_id (see
    postings_append / streaming.lexical_postings).

    The build cost — tokenize, explode, one (term, doc) aggregation —
    is the classic inverted-index shuffle, paid once per (re)build and
    deliberately kept OUT of bm25_search's query path."""
    import shutil

    toks = docs.select(
        F.col(doc_col), tokenize(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    # full rebuild: clear any previous markers, then base attempt
    shutil.rmtree(versioned.attempts_dir(path), ignore_errors=True)
    _postings_rows(toks, doc_col, n_buckets, "base").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    local_df(
        docs.sparkSession, [(n_buckets,)], "n_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/corpus")
    totals = toks.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("t")
    ).collect()[0]
    versioned.publish_attempt(
        path, "base", n_docs=int(totals["n"]), total_tokens=int(totals["t"] or 0)
    )


def postings_append(
    docs_batch: DataFrame,
    path: str,
    doc_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> bool:
    """Incremental posting-list maintenance: index a batch of NEW
    documents into an existing postings_write layout — O(batch) work
    (tokenize + explode + append into the same crc32 buckets), no touch
    of already-indexed postings, same continual-ingest contract as
    minhash_lsh_pairs_incremental / merge_term_stats.

    df per term needs no explicit update: serving counts posting rows,
    and the appended rows ARE the df increment; corpus totals ride the
    publish marker.

    Replay safety (at-least-once callers, e.g. foreachBatch): pass the
    micro-batch's `batch_id`. A batch whose id already has a published
    marker is SKIPPED (returns False); a batch that previously crashed
    mid-append left rows under an unpublished attempt id, which are
    never served — the retry appends under a fresh attempt id and
    publishes that one. Exactly-once serving over at-least-once
    storage (write-audit-publish).

    Caller contract: batch doc ids must be NEW (re-ingesting an id
    would duplicate its postings — dedup upstream, e.g. exact_dedup or
    an anti-join against indexed ids)."""
    import uuid

    if versioned.batch_published(path, batch_id):
        return False
    corpus = docs_batch.sparkSession.read.parquet(f"{path}/corpus").collect()[0]
    n_buckets = int(corpus["n_buckets"])
    aid = uuid.uuid4().hex[:16]
    toks = docs_batch.select(
        F.col(doc_col), tokenize(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    _postings_rows(toks, doc_col, n_buckets, aid).write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    totals = toks.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("t")
    ).collect()[0]
    versioned.publish_attempt(
        path, aid, batch_id,
        n_docs=int(totals["n"]), total_tokens=int(totals["t"] or 0),
    )
    return True


def postings_compact(spark, path: str) -> int:
    """Compact a postings index: rewrite the bucket layout keeping only
    PUBLISHED attempts' rows (dropping crashed-attempt orphans and
    merging the small files a long append history accrues), fold every
    publish marker into a single base marker. Serving is identical
    before and after; what changes is file count and the orphan debt.
    The continual-ingest lifecycle is append* -> compact, same cadence
    story as the store's changelog compaction. Returns the number of
    live posting rows kept.

    Not concurrency-safe with in-flight appends (run it from the same
    maintenance owner as the streaming fold, e.g. between triggers)."""
    import shutil
    import uuid

    aids = versioned.published_aids(path)
    markers = versioned.published_attempts(path)
    n_docs = sum(m["n_docs"] for m in markers)
    total_tokens = sum(m["total_tokens"] for m in markers)
    new_base = "base-" + uuid.uuid4().hex[:8]
    live = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("aid").isin(aids))
        .withColumn("aid", F.lit(new_base))
    )
    # write-audit-publish for the compaction itself: land the rewrite in
    # a fresh dir, then swap dirs and publish the folded marker
    live.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings_compacting"
    )
    n = int(
        spark.read.parquet(f"{path}/postings_compacting").count()
    )
    shutil.rmtree(f"{path}/postings")
    shutil.move(f"{path}/postings_compacting", f"{path}/postings")
    shutil.rmtree(versioned.attempts_dir(path), ignore_errors=True)
    versioned.publish_attempt(
        path, new_base, n_docs=n_docs, total_tokens=total_tokens
    )
    return n


def bm25_postings_search(
    spark,
    path: str,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_col: str = "doc_id",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Serve BM25 top-k from a postings_write index: reads the pruned
    posting buckets for the query terms plus the 1-row corpus summary —
    NO corpus scan, no stats table. Hash-identical to bm25_search on
    the same corpus (same idf/tf/length arithmetic, same
    (round(score,6) DESC, doc_id) ordering).

    Plan shape: bucket partition-pruning + term predicate pushdown cut
    the scan to the query terms' posting rows (further filtered to
    PUBLISHED attempt ids); df comes from a window count over that same
    slice; one groupBy(doc) sums term contributions;
    TakeOrderedAndProject emits the top-k. Corpus totals are the sum of
    the publish markers — exact under crashed/replayed appends.

    `allowed` (a frame with a `doc_col` column) turns this into
    FILTERED serving: the metadata-filtered candidate set restricts
    which docs may rank, so top-k is over the filtered set (never a
    post-filter that can return < k). Pre-filter semantics keep
    CORPUS-level statistics — idf/avgdl are properties of the
    collection, not of the filter, so a doc scores identically
    however it was admitted (the Lucene filtered-query convention,
    and the lexical mirror of knn/ann's filtered variants). The semi
    join lands AFTER the per-term df window (df is corpus df) and
    BEFORE scoring aggregation; AQE broadcasts a small allowed set."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    _, markers, aids, buckets = _postings_meta(spark, path, terms)
    n_docs = sum(m["n_docs"] for m in markers)
    total_tokens = sum(m["total_tokens"] for m in markers)
    avgdl = total_tokens / n_docs if n_docs else 1.0

    slice_ = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .filter(F.col("aid").isin(aids))
    )
    # df(t) = number of postings rows for t within the pruned slice
    w = Window.partitionBy("term")
    scored = slice_.withColumn("__df", F.count(F.lit(1)).over(w))
    if allowed is not None:
        scored = scored.join(
            allowed.select(doc_col).distinct(), doc_col, "left_semi"
        )
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    return (
        scored.withColumn("__s", idf * tf / (tf + norm))
        .groupBy(doc_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.desc("score"), doc_col)
        .limit(k)
    )


def hybrid_linear(
    results_a: DataFrame,
    results_b: DataFrame,
    alpha: float = 0.5,
    k: int = 10,
    doc_col: str = "doc_id",
    score_col: str = "score",
    ascending_a: bool = False,
    ascending_b: bool = True,
) -> DataFrame:
    """Normalized linear (convex / 'alpha') fusion of two top-n result
    lists — the other standard hybrid besides RRF: each list's scores
    are min-max normalized to [0, 1] with 1 = best (distance-like lists,
    `ascending_*=True`, are inverted), then
    fused = alpha * norm_a + (1 - alpha) * norm_b.

    A doc missing from one list contributes 0 from that side — the
    same convention as hybrid_rrf. A constant-score list normalizes to
    1.0 for every member (max == min). Inputs are top-n truncated by
    contract, so the min/max windows and the outer join stay bounded.
    Deterministic output order: (round(score, 6) DESC, doc_id)."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")

    def norm(df: DataFrame, ascending: bool, out: str) -> DataFrame:
        # constant-valued but non-foldable partition key (see
        # hybrid_rrf: EliminateWindowPartitions strips literals):
        # bounded rows by contract; silences "No Partition Defined"
        w = Window.partitionBy(
            F.pmod(F.crc32(F.col(doc_col).cast("string")), F.lit(1))
        )
        lo, hi = F.min(score_col).over(w), F.max(score_col).over(w)
        spread = (hi - F.col(score_col)) if ascending else (F.col(score_col) - lo)
        best1 = F.when(hi == lo, F.lit(1.0)).otherwise(spread / (hi - lo))
        return df.select(F.col(doc_col), best1.alias(out))

    a = norm(results_a, ascending_a, "__na")
    b = norm(results_b, ascending_b, "__nb")
    return (
        a.join(b, on=doc_col, how="full_outer")
        .select(
            doc_col,
            F.round(
                F.lit(alpha) * F.coalesce("__na", F.lit(0.0))
                + F.lit(1.0 - alpha) * F.coalesce("__nb", F.lit(0.0)),
                6,
            ).alias("hybrid_score"),
        )
        .orderBy(F.desc("hybrid_score"), doc_col)
        .limit(k)
    )


def rerank_crossencoder(
    docs: DataFrame,
    query_terms: Sequence[str],
    n_retrieve: int = 20,
    k: int = 10,
    weights: Sequence[float] = (-2.0, 0.5, 3.0, 1.0),
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Two-stage retrieve-then-rerank: BM25 proposes `n_retrieve`
    candidates, a deterministic cross-encoder stand-in re-scores the
    (query, document) PAIR and keeps the top `k` — the standard
    serving shape where an expensive pairwise model runs only on a
    cheap retriever's shortlist (the pattern a real cross-encoder
    slots into; this stand-in is a logistic model over pair features,
    the `model_quality_scores` discipline applied to reranking).

    Pair features: the stage-1 BM25 score, the Jaccard overlap between
    the query bag and the document's distinct tokens, and a capped
    relative length. ce_score = sigmoid(w0 + w1*bm25 + w2*jaccard +
    w3*rel_len), rounded 6dp for the oracle hash.

    Scale: stage 2 touches n_retrieve rows — constant work per query
    regardless of corpus size; the corpus cost is entirely stage 1
    (postings-served in production via bm25_postings_search). All
    features are codegen expressions; no Python in either stage."""
    w0, w1, w2, w3 = (float(x) for x in weights)
    terms = sorted({t.lower() for t in query_terms})
    qarr = F.array(*[F.lit(t) for t in terms])

    stage1 = bm25_search(
        docs, query_terms, k=n_retrieve, k1=k1, b=b,
        doc_col=doc_col, text_col=text_col,
    )
    feats = stage1.join(
        docs.select(doc_col, tokenize(text_col).alias("__toks")), doc_col
    )
    dtoks = F.array_distinct("__toks")
    inter = F.size(F.array_intersect(dtoks, qarr)).cast("double")
    union = F.size(F.array_union(dtoks, qarr)).cast("double")
    jac = inter / union
    rel_len = F.least(F.size("__toks") / F.lit(500.0), F.lit(1.0))
    z = (
        F.lit(w0)
        + F.lit(w1) * F.col("score")
        + F.lit(w2) * jac
        + F.lit(w3) * rel_len
    )
    return (
        feats.select(
            doc_col,
            F.col("score").alias("bm25"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("ce_score"),
        )
        .orderBy(F.desc("ce_score"), doc_col)
        .limit(k)
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional PHRASE query: documents containing the exact token
    sequence, with match count and the first match position — the
    positional-index capability BM25's bag-of-words scoring cannot
    express ("new york" as a phrase, not two terms).

    Plan: tokens staged once (the no-CSE rule), then every candidate
    start offset becomes a row via sequence+explode and a codegen
    slice()==literal comparison keeps the matches — zero Python, one
    doc_id re-aggregation of match rows only. The explode fan-out is
    tokens-per-doc, the same volume every shingle operator here
    already pays; a pre-filter on contains(lowered_text, phrase)
    prunes non-candidate docs before any explode, so the heavy path
    runs only on docs that contain the words at all. Returns
    (doc_id, n_matches, first_pos) with 1-based token positions,
    n_matches >= 1."""
    from distributed_vector_database_spark.functions.text import tokenize

    words = [w for w in phrase.lower().split() if w]
    if not words:
        raise ValueError("phrase must contain at least one token")
    k = len(words)
    lit_phrase = F.array(*[F.lit(w) for w in words])
    staged = (
        docs.filter(F.col(text_col).isNotNull())
        # cheap regex pre-filter: tokenize splits on \s+, so a true
        # phrase match has the words separated by ARBITRARY whitespace
        # (newline, tab, runs of spaces) — a plain single-space
        # contains() would silently drop 'new\nyork'. rlike with a
        # \s+-joined pattern is a strict superset of true matches;
        # false candidates die in the exact positional check below
        .filter(
            F.lower(F.col(text_col)).rlike(
                r"\s+".join(_re.escape(w) for w in words)
            )
        )
        .select(doc_col, tokenize(text_col).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") >= k)
    )
    hits = (
        staged.withColumn(
            "__pos", F.explode(F.sequence(F.lit(1), F.col("__n") - (k - 1)))
        )
        .filter(F.slice("__toks", F.col("__pos"), k) == lit_phrase)
        .groupBy(doc_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_matches"),
            F.min("__pos").cast("int").alias("first_pos"),
        )
    )
    return hits.orderBy(doc_col)


def sparse_dot_search(
    spark,
    path: str,
    query_weights: dict[str, float],
    k: int = 10,
    doc_col: str = "doc_id",
    doc_weight=None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Learned-sparse retrieval over the SAME postings layout BM25
    serves from — the SPLADE/uniCOIL serving shape: the query is a
    sparse term→weight vector, each document a sparse vector of term
    weights, score = the sparse dot product over matched terms. With
    unit query weights and tf doc weights this is plain weighted term
    matching; with model-produced weights it serves a learned-sparse
    retriever — the postings infrastructure (bucket pruning, publish
    markers, O(batch) appends) is identical either way, which is the
    point: one index, two scoring families.

    `doc_weight` is a Column expression over the postings row
    (defaults to saturated tf / (tf + 1) — uniCOIL-ish — computed on
    the pruned slice only). Scores round 6dp; ties break on doc id.

    100 TB shape: identical to bm25_postings_search — bucket partition
    pruning + term predicate pushdown mean the scan reads ONLY the
    query terms' posting rows; one groupBy(doc) sums contributions;
    TakeOrderedAndProject emits k rows. `allowed` applies the same
    pre-filter semantics as bm25_postings_search: the candidate set
    restricts which docs may rank BEFORE the top-k, so filtered
    serving never comes back short."""
    if not query_weights:
        raise ValueError("query_weights must be non-empty")
    qw = {t.lower(): float(w) for t, w in query_weights.items()}
    terms = sorted(qw)
    _, _, aids, buckets = _postings_meta(spark, path, terms)
    if doc_weight is None:
        tf = F.col("tf").cast("double")
        doc_weight = tf / (tf + F.lit(1.0))
    qmap = F.create_map(
        *[F.lit(x) for t in terms for x in (t, qw[t])]
    )
    slice_ = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .filter(F.col("aid").isin(aids))
    )
    if allowed is not None:
        slice_ = slice_.join(
            allowed.select(doc_col).distinct(), doc_col, "left_semi"
        )
    return (
        slice_.withColumn("__s", qmap[F.col("term")] * doc_weight)
        .groupBy(doc_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.desc("score"), doc_col)
        .limit(k)
    )


def hybrid_rrf_batch(
    results: Sequence[DataFrame],
    k: int = 10,
    c: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Batched N-way reciprocal-rank fusion: every leg is a BATCH
    server result carrying (query_col, doc_col, rank_col) — the
    output contract of bm25_batch_search / sparse_dot_batch_search /
    ivf_batch_search — and the fusion happens per query in one pass:
    fused(q, d) = Σ legs 1/(c + rank_leg(q, d)), missing docs
    contribute 0 from that leg. Returns (query_col, doc_col,
    rrf_score, rank <= k).

    Consuming the legs' OWN rank columns (instead of re-ranking
    scores like hybrid_rrf_multi) keeps fusion rank-faithful per
    query and makes the whole tri-hybrid batch stack one plan: three
    pruned scans, one union, one (query, doc) aggregation, one
    per-query window — every row here is leg-top-n bounded, so the
    fusion cost scales with Q·n·legs, never the corpus."""
    from functools import reduce as _reduce

    if len(results) < 2:
        raise ValueError("need at least two result lists to fuse")
    legs = [
        df.select(
            query_col, doc_col, F.col(rank_col).cast("int").alias("__r")
        )
        for df in results
    ]
    allr = _reduce(lambda a, b: a.unionByName(b), legs)
    fused = allr.groupBy(query_col, doc_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(c)) + F.col("__r"))), 6
        ).alias("rrf_score")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(doc_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_col, "rank")
    )


def sparse_dot_batch_search(
    spark,
    path: str,
    queries: dict,
    k: int = 10,
    doc_col: str = "doc_id",
    doc_weight=None,
) -> DataFrame:
    """Batched learned-sparse serving: MANY sparse queries through ONE
    postings scan pruned to the union of their terms — completes the
    batch-serving family (ivf_batch_search / bm25_batch_search) for
    the SPLADE/uniCOIL leg. `queries` maps query_id → {term: weight}.

    Membership is ALWAYS a broadcast (term, query_id, weight) join:
    unlike bm25_batch_search there is no cheaper literal form — a
    weighted membership literal is a map of struct arrays with the
    same plan-growth problem the BM25 literal path has, so the
    plan-size-bounded join is strictly better at every batch size.
    Per-(query, doc) score = Σ matched terms of weight · doc_weight
    (default saturated tf/(tf+1), computed on the pruned slice), 6dp;
    batch ≡ looping sparse_dot_search (parity-pinned).

    100 TB: one partition-pruned scan of the union terms' buckets,
    one (query, doc) aggregation, per-query window top-k."""
    if not queries:
        raise ValueError("queries must be non-empty")
    norm_q = {
        str(qid): {t.lower(): float(w) for t, w in qw.items()}
        for qid, qw in queries.items()
    }
    if len(norm_q) != len(queries):
        raise ValueError(
            "query ids collide after str() normalization"
        )
    if any(not v for v in norm_q.values()):
        raise ValueError("every query needs at least one weighted term")
    all_terms = sorted({t for qw in norm_q.values() for t in qw})
    _, _, aids, buckets = _postings_meta(spark, path, all_terms)
    if doc_weight is None:
        tf = F.col("tf").cast("double")
        doc_weight = tf / (tf + F.lit(1.0))
    memb = local_df(
        spark,
        [
            (t, qid, w)
            for qid, qw in sorted(norm_q.items())
            for t, w in sorted(qw.items())
        ],
        "term string, query_id string, __qw double",
    )
    slice_ = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("aid").isin(aids))
    )
    # the join carries weights, but a pushed term predicate is an
    # INDEPENDENT win: it prunes non-query terms sharing the admitted
    # buckets at the parquet reader (dictionary/row-group level),
    # where the join can only discard post-scan. Same literal-growth
    # envelope as bm25_batch_search's membership map, so it caps at
    # the same 512-membership knee
    if len(all_terms) <= 512:
        slice_ = slice_.filter(F.col("term").isin(all_terms))
    per_query = (
        slice_.join(F.broadcast(memb), "term")
        .withColumn("__s", F.col("__qw") * doc_weight)
        .groupBy("query_id", doc_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
    return _rank_per_query(per_query, k, doc_col)


def prf_search(
    spark,
    path: str,
    documents: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    orig_weight: float = 0.6,
    k1: float = 1.2,
    b: float = 0.75,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3 shape, Lavrenko &
    Croft 2001 relevance models): BM25 retrieves `fb_docs` feedback
    documents, an RM1 relevance model over their text picks the
    `fb_terms` strongest expansion terms, and the interpolated query
    (original terms at `orig_weight`, expansion terms sharing
    1 − orig_weight scaled by relative model weight) is served as a
    sparse dot product — closing the loop through the SAME postings
    layout both stages read from.

    RM1 weight: w(t) = Σ_d tf(t, d)/|d| over the feedback docs — each
    token occurrence contributes 1/dl, so one explode + one sum, no
    per-doc regroup. Ties and float noise are pinned: weights round
    9 dp, selection orders by (w DESC, term).

    100 TB shape: stage 1 is the bucket-pruned postings probe
    (bm25_postings_search); the feedback fetch is `fb_docs` POINT
    LOOKUPS on the doc-keyed corpus (never a postings scan — postings
    are term-bucketed, so fetching a doc's terms there would read
    everything); the expansion model is fb_docs×|d| tokens of work;
    stage 2 is sparse_dot_search's pruned probe with ≤ |q|+fb_terms
    terms. Both driver collects are bounded: fb_docs keys, fb_terms
    weight rows."""
    from distributed_vector_database_spark.functions.text import tokenize

    if fb_docs <= 0 or fb_terms < 0:
        raise ValueError("fb_docs must be > 0 and fb_terms >= 0")
    orig = sorted({t.lower() for t in query_terms})
    fb = bm25_postings_search(
        spark, path, query_terms, k=fb_docs, k1=k1, b=b, doc_col=doc_col
    )
    fb_keys = sorted(r[doc_col] for r in fb.collect())
    rm = (
        documents.filter(F.col(doc_col).isin(fb_keys))
        .select(tokenize(text_col).alias("__t"))
        .withColumn("__dl", F.size("__t"))
        .select(F.explode("__t").alias("term"), "__dl")
        .filter(~F.col("term").isin(orig))
        .groupBy("term")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("__dl")), 9).alias("w"))
        .orderBy(F.desc("w"), "term")
        .limit(int(fb_terms))
        .collect()
    )
    weights: dict[str, float] = {t: float(orig_weight) for t in orig}
    if rm:
        wmax = rm[0]["w"]
        for r in rm:
            weights[r["term"]] = round(
                (1.0 - float(orig_weight)) * r["w"] / wmax, 9
            )
    return sparse_dot_search(
        spark, path, weights, k=k, doc_col=doc_col
    )


def snippet_extract(
    docs: DataFrame,
    query_terms: Sequence[str],
    window: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Search-result snippet extraction: for every document containing
    at least one query term, the `window`-token span with the MOST
    query-term occurrences (earliest span on ties) plus its hit count
    — the result-page highlight feature a retrieval stack serves next
    to its ranking (the reference returns raw stored blobs,
    src/datanode/handler.py get()).

    The optimal fixed-length window always starts at a hit position,
    so candidates are hit positions only — per doc the search is
    O(hits²) inside ONE codegen higher-order expression over a staged
    token array, no explode of windows, no UDF, no shuffle at all:
    the whole operator is a map pass over the corpus. Deterministic:
    (doc, earliest best start).

    100 TB: zero exchanges; the scan cost IS the cost."""
    from distributed_vector_database_spark.functions.text import tokenize

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    terms_arr = F.array(*[F.lit(t) for t in terms])
    w = int(window)

    toks = docs.withColumn("__toks", tokenize(text_col))  # staged: no-CSE
    # 1-based positions of query-term hits
    hits = F.filter(
        F.transform(
            F.col("__toks"),
            lambda tok, i: F.when(
                F.array_contains(terms_arr, tok), i + 1
            ).otherwise(F.lit(0)),
        ),
        lambda p: p > 0,
    )
    staged = toks.withColumn("__hits", hits).filter(F.size("__hits") > 0)
    # per candidate start (a hit position): hits inside [p, p+window)
    counts = F.transform(
        F.col("__hits"),
        lambda p: F.size(
            F.filter(
                F.col("__hits"), lambda q: (q >= p) & (q < p + F.lit(w))
            )
        ),
    )
    best_n = F.array_max(F.col("__cnts"))
    best_start = F.array_min(
        F.zip_with(
            F.col("__hits"),
            F.col("__cnts"),
            lambda p, c: F.when(c == best_n, p).otherwise(F.lit(None)),
        )
    )
    return (
        staged.withColumn("__cnts", counts)
        .select(
            doc_col,
            best_n.alias("n_hits"),
            best_start.alias("start_pos"),
            F.array_join(
                F.slice(F.col("__toks"), best_start, w), " "
            ).alias("snippet"),
        )
        .orderBy(doc_col)
    )


def bm25_batch_search(
    spark,
    path: str,
    queries: dict[str, Sequence[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_col: str = "doc_id",
    membership: str = "auto",
) -> DataFrame:
    """Batched BM25 serving: MANY queries through ONE postings scan
    pruned to the union of their terms — the lexical analog of
    ivf_batch_search (and the same amortization argument: per query,
    a scan open + bucket prune costs more than the scoring; a batch
    pays it once).

    `queries` maps query_id → term list. Per-query membership is a
    term→queries inversion applied AFTER the shared slice, so each
    query scores exactly the postings its own terms admit — batch
    semantics ≡ looping bm25_postings_search (pinned by test).
    df(t) comes from a window over the shared slice (computed BEFORE
    membership fan-out, so a term shared by many queries is counted
    once) exactly as the single-query path computes it.

    `membership` picks how the inversion enters the plan:
    - 'literal': a create_map of term→[query ids] literals plus an
      isin(all_terms) prune. Zero extra joins — right for the
      16–256-query serving batches — but the PLAN grows with
      Σ|terms per query|, and Catalyst analysis cost follows plan
      size, not data size.
    - 'join': the inversion becomes a broadcast (term, query_id)
      frame; term pruning is a broadcast semi join and membership an
      inner join. Plan size is O(1) in the batch; the tiny frame
      ships once per executor. Right above ~10³ memberships.
    - 'auto' (default): 'join' when the membership count exceeds
      512, else 'literal'. The r9 envelope smoke (SCALE.md) measured
      the knee: literal-path wall time doubles from Q=256 to Q=1024
      almost entirely in plan build, while the join path stays flat.
    Both paths return identical rows (parity-pinned by test).

    100 TB: scan reads the union terms' posting rows once;
    one (query, doc) aggregation; TakeOrdered per query via window."""
    if not queries:
        raise ValueError("queries must be non-empty")
    if membership not in ("auto", "literal", "join"):
        raise ValueError(f"unknown membership mode: {membership}")
    norm_q = {
        str(qid): sorted({t.lower() for t in terms})
        for qid, terms in queries.items()
    }
    if len(norm_q) != len(queries):
        raise ValueError(
            "query ids collide after str() normalization"
        )
    if any(not v for v in norm_q.values()):
        raise ValueError("every query needs at least one term")
    all_terms = sorted({t for ts in norm_q.values() for t in ts})
    _, markers, aids, buckets = _postings_meta(spark, path, all_terms)
    n_docs = sum(m["n_docs"] for m in markers)
    total_tokens = sum(m["total_tokens"] for m in markers)
    avgdl = total_tokens / n_docs if n_docs else 1.0

    # term -> [query ids] inversion
    term_qids: dict[str, list[str]] = {}
    for qid, ts in norm_q.items():
        for t in ts:
            term_qids.setdefault(t, []).append(qid)
    n_memberships = sum(len(v) for v in term_qids.values())
    mode = membership
    if mode == "auto":
        mode = "join" if n_memberships > 512 else "literal"

    base = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("aid").isin(aids))
    )
    if mode == "literal":
        slice_ = base.filter(F.col("term").isin(all_terms))
    else:
        memb = local_df(
            spark,
            [(t, q) for t, qs in sorted(term_qids.items()) for q in qs],
            "term string, query_id string",
        )
        slice_ = base.join(
            F.broadcast(memb.select("term").distinct()), "term", "left_semi"
        )
    w = Window.partitionBy("term")
    scored = slice_.withColumn("__df", F.count(F.lit(1)).over(w))
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    scored = scored.withColumn("__s", idf * tf / (tf + norm))
    if mode == "literal":
        qmap = F.create_map(
            *[
                x
                for t, qids in sorted(term_qids.items())
                for x in (
                    F.lit(t),
                    F.array(*[F.lit(q) for q in sorted(qids)]),
                )
            ]
        )
        fanned = scored.withColumn(
            "query_id", F.explode(qmap[F.col("term")])
        )
    else:
        fanned = scored.join(F.broadcast(memb), "term")
    per_query = fanned.groupBy("query_id", doc_col).agg(
        F.round(F.sum("__s"), 6).alias("score")
    )
    return _rank_per_query(per_query, k, doc_col)


def hybrid_rrf_multi(
    results: Sequence[tuple[DataFrame, bool]],
    k: int = 10,
    c: int = 60,
    doc_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion over N retriever legs — the tri-hybrid
    (BM25 + dense + learned-sparse) every modern stack serves, where
    pairwise hybrid_rrf composes wrong (fusing a fusion re-ranks ranks).
    Each element of `results` is (top-n DataFrame, ascending) with
    ascending=True for distance-like scores.

    Fused score = Σ_legs 1/(c + rank_leg), missing docs contribute 0
    from that leg; ranks are (score, doc_id)-deterministic per leg.
    Inputs are top-n truncated by contract — every window and join
    here touches bounded rows; the corpus-sized work lives in the
    legs."""
    if len(results) < 2:
        raise ValueError("need at least two result lists to fuse")

    def ranked(df: DataFrame, ascending: bool, out: str) -> DataFrame:
        order = (
            [F.col(score_col).asc(), F.col(doc_col).asc()]
            if ascending
            else [F.col(score_col).desc(), F.col(doc_col).asc()]
        )
        w = Window.orderBy(*order)
        return df.select(
            F.col(doc_col),
            (1.0 / (F.lit(float(c)) + F.row_number().over(w))).alias(out),
        )

    fused = None
    cols = []
    for i, (df, asc) in enumerate(results):
        leg = ranked(df, asc, f"__r{i}")
        cols.append(f"__r{i}")
        fused = leg if fused is None else fused.join(leg, doc_col, "full_outer")
    total = None
    for name in cols:
        term = F.coalesce(F.col(name), F.lit(0.0))
        total = term if total is None else total + term
    return (
        fused.select(doc_col, F.round(total, 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), doc_col)
        .limit(k)
    )
