"""k-NN search operators — the reference's flagship read path, Spark-first.

Reference flow (SURVEY §3.1): coordinator broadcasts SearchRequest to
every node sequentially (src/coordinator/handler.py:191-199), each node
runs hnswlib knn_query with 2x over-fetch and post-filters deleted ids
(src/datanode/handler.py:344-408), coordinator dedups by key and takes
global ascending top-k on squared-L2 score
(src/coordinator/handler.py:201-216).

Spark design: the scatter-gather IS the shuffle. `knn_exact` expresses
the whole thing declaratively — broadcast-literal query vector, codegen'd
squared-L2 expression, `orderBy(score).limit(k)` which Catalyst plans as
TakeOrderedAndProject: each partition computes a local top-k and only
n_partitions*k rows ever move, exactly the reference's "top-k pushdown to
data nodes" (src/coordinator/handler.py:186-189) but parallel instead of
sequential. At 100 TB this is a single scan + a k-row-per-partition
reduce; no full sort, no full shuffle.

`knn_sharded` reproduces the per-node-kernel shape explicitly (a
partition-local top-k inside mapInPandas with the reference's 2x
over-fetch, then the same global merge) — it exists to prove the custom
per-partition-ANN harness produces hash-identical results to the
declarative plan, so the same merge can later host an hnswlib/IVF kernel.

`knn_exact_local` is knn_exact's driver twin for rows the driver
already holds (a store's changelog tail, an ANN proposal resolved on
the driver): numpy scores them with no Spark job, folded and rounded
so that every score equals knn_exact's exactly, and `rank_local` orders
them as Spark does.

The declared-but-dead SearchRequest fields are implemented for real:
`filter` (metadata equality, src/vector_db.thrift:26, dropped by the
reference coordinator at src/coordinator/handler.py:186-189) becomes a
pushed-down predicate BEFORE the distance computation; `threshold`
(src/vector_db.thrift:27, commented out at src/datanode/handler.py:394-396)
becomes a post-distance filter.
"""

from __future__ import annotations

import decimal
import math
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark.config import DEFAULT_TOP_K, OVERFETCH
from distributed_vector_database_spark.functions.vector import squared_l2

SCORE_DECIMALS = 6  # stable rounding for oracle hash comparisons


def _effective_k(k: int) -> int:
    # top_k <= 0 falls back to 5, pinned from src/datanode/handler.py:346
    return DEFAULT_TOP_K if k <= 0 else k


def knn_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = DEFAULT_TOP_K,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: Column | None = None,
    threshold: float | None = None,
    extra_cols: Sequence[str] = ("label",),
) -> DataFrame:
    """Exact top-k by squared L2 distance (ascending; lower = better,
    matching src/coordinator/handler.py:212).

    Ties broken by key so results are deterministic for hash oracles.
    Returns (key, *extra_cols, score).
    """
    k = _effective_k(k)
    if predicate is not None:
        df = df.filter(predicate)  # metadata filter BEFORE distance — pushed to scan
    # null vectors would sort FIRST (Spark orderBy asc is nulls-first) and
    # displace every real neighbor; dirty rows are excluded, not ranked
    df = df.filter(F.col(vec_col).isNotNull())
    scored = df.select(
        key_col,
        *extra_cols,
        F.round(squared_l2(vec_col, query_vec), SCORE_DECIMALS).alias("score"),
    )
    if threshold is not None:
        # threshold = max distance allowed (src/vector_db.thrift:27)
        scored = scored.filter(F.col("score") <= float(threshold))
    return scored.orderBy("score", key_col).limit(k)


# Spark's round(double, d) rounds the double's shortest decimal string
# (BigDecimal.valueOf) half-up, at any magnitude
_ROUND_CTX = decimal.Context(prec=400, rounding=decimal.ROUND_HALF_UP)
_ROUND_QUANTUM = decimal.Decimal(1).scaleb(-SCORE_DECIMALS)


def _spark_round(x: float) -> float:
    if not math.isfinite(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(_ROUND_QUANTUM, context=_ROUND_CTX))


def _asc(v):
    # Spark's ascending order: a null first, NaN after every number
    if v is None:
        return (0, 0)
    return (2, 0) if v != v else (1, v)


def rank_local(scored: Iterable[tuple], k: int) -> list[tuple]:
    """The first k of `scored` — (key, score, ...) tuples — in
    knn_exact's order: ascending (score, key) as Spark sorts them."""
    return sorted(scored, key=lambda t: (_asc(t[1]), _asc(t[0])))[:k]


def knn_exact_local(
    rows: Iterable,
    query_vec: Sequence[float],
    k: int = DEFAULT_TOP_K,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
) -> list[tuple]:
    """knn_exact over driver-held rows (Rows or dicts), with no Spark
    job: [(key, score)] ordered by (score, key), the first k.

    The scores equal knn_exact's exactly: (x - q)^2 is folded left to
    right in double as squared_l2's `aggregate` does (a column at a
    time, vectorized over the rows), then rounded as Spark's `round`
    rounds. A vector of another length or with a null element scores
    null, as zip_with's null padding makes it; null vectors are dropped
    and `threshold` applies to the rounded score, as in knn_exact."""
    import numpy as np

    k = _effective_k(k)
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    rows = [r for r in rows if r[vec_col] is not None]
    regular = [
        i for i, r in enumerate(rows)
        if len(r[vec_col]) == len(q) and None not in r[vec_col]
    ]
    scores: list[float | None] = [None] * len(rows)
    if regular:
        d = np.asarray([rows[i][vec_col] for i in regular], dtype=np.float64) - q
        acc = np.zeros(len(regular))
        for j in range(len(q)):
            acc += d[:, j] * d[:, j]
        for i, s in zip(regular, acc.tolist()):
            scores[i] = _spark_round(s)
    scored = [(r[key_col], s) for r, s in zip(rows, scores)]
    if threshold is not None:
        scored = [t for t in scored if t[1] is not None and t[1] <= float(threshold)]
    return rank_local(scored, k)


def knn_sharded(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = DEFAULT_TOP_K,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = ("label",),
    num_shards: int | None = None,
    predicate: Column | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Scatter-gather k-NN with an explicit per-partition kernel.

    Shape of the reference's distributed search (SURVEY O5): partition
    (≈ data node) -> local top-(2k) via a vectorized numpy kernel inside
    mapInPandas (≈ hnswlib knn_query with over-fetch,
    src/datanode/handler.py:364) -> dedup by key (O7) -> global
    orderBy(score).limit(k) merge (O6). Exact kernel, so results
    hash-match knn_exact; swap the numpy body for an ANN index to get the
    approximate variant with the same merge.

    Only ≤ 2k rows leave each partition — at 1000 executors the merge is
    1000*2k rows regardless of corpus size.
    """
    import numpy as np
    import pandas as pd

    k = _effective_k(k)
    fetch = OVERFETCH * k

    out_cols = [key_col, *extra_cols, "score"]
    if predicate is not None:
        # metadata filter BEFORE the kernel — pushed into the scan, so
        # partitions never materialize filtered-out vectors (the
        # declared search filter, src/vector_db.thrift:26)
        df = df.filter(predicate)
    # null vectors would crash the numpy kernel's np.stack; drop like
    # knn_exact does (dirty rows are excluded, not ranked)
    proj = df.filter(F.col(vec_col).isNotNull()).select(key_col, *extra_cols, vec_col)
    if num_shards is not None:
        proj = proj.repartition(num_shards, key_col)

    schema_parts = []
    for f_ in proj.schema.fields:
        if f_.name != vec_col:
            schema_parts.append(f"{f_.name} {f_.dataType.simpleString()}")
    schema_parts.append("score double")
    out_schema = ", ".join(schema_parts)

    qlist = [float(v) for v in query_vec]

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qv = np.asarray(qlist, dtype=np.float64)
        best: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = mat - qv
            scores = np.einsum("ij,ij->i", d, d)
            cand = pdf[[key_col, *extra_cols]].copy()
            cand["score"] = np.round(scores, SCORE_DECIMALS)
            best = cand if best is None else pd.concat([best, cand])
            # keep only the partition-local over-fetched top-k between batches
            best = best.nsmallest(fetch, ["score", key_col])
        if best is not None:
            yield best[out_cols]

    local = proj.mapInPandas(local_topk, schema=out_schema)
    # replica-dedup (O7) with a deterministic min-score pick: if a key
    # appears in multiple partitions (replicated layouts), keep its best
    # score — the reference's ascending-merge first-seen dedup
    # (src/coordinator/handler.py:201-206) sees keys in score order, so
    # first-seen there IS min-score.
    from pyspark.sql.window import Window as _W

    dedup_w = _W.partitionBy(key_col).orderBy("score")
    merged = (
        local.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if threshold is not None:
        # score cutoff after the kernel (src/vector_db.thrift:27); the
        # 2x over-fetch above compensates for post-filtering, the
        # reference's own trick (src/datanode/handler.py:364)
        merged = merged.filter(F.col("score") <= float(threshold))
    return merged.orderBy("score", key_col).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = DEFAULT_TOP_K,
    query_key: str = "query_id",
    query_vec: str = "query_vec",
    corpus_key: str = "vec_id",
    corpus_vec: str = "embedding",
    max_query_rows: int = 10_000,
    on_exceed: str = "error",
) -> DataFrame:
    """Brute-force k-NN JOIN: for every query row, its top-k corpus
    neighbors — the reference's O4/O5 generalized to query sets
    (SURVEY §2.3 "similarity search").

    `max_query_rows` guards the broadcast-the-query-side assumption;
    `on_exceed="warn"` proceeds anyway — but CHUNKED: the query side
    streams through `toLocalIterator()` in max_query_rows-sized
    slices, each slice runs the kernel independently, and the per-
    slice top-k plans are unioned (slices own disjoint query keys, so
    per-slice ranking equals global ranking). The driver never holds
    more than one slice of Row objects at a time; the corpus is
    re-scanned once per slice, which is the honest cost of brute
    force past the broadcast budget — the scale path for large query
    sides is ann.ivf_knn_join.

    Plan: the query side (assumed ≪ corpus) is collected and broadcast
    into a vectorized per-partition kernel: each corpus partition
    computes its local top-k per query with one numpy pass (the 100 TB
    side is never shuffled), emitting ≤ n_queries*k rows; the global
    window then ranks only n_partitions*n_queries*k rows. Replacing the
    naive broadcast-join + full 8M-row window shuffle with this kernel
    took 8 queries x 1M vectors from 21.5s to ~3s on 32 cores
    (tools/scale_smoke.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    # guard the queries ≪ corpus assumption: the collect below is
    # bounded by limit(max+1), so an oversized query side fails fast
    # with a clear message instead of silently pulling the world into
    # the driver. For query sets beyond the budget, chunk the query
    # side or swap sides (k-NN join is symmetric in who broadcasts).
    qside = queries.select(query_key, query_vec)
    qrows = qside.limit(max_query_rows + 1).collect()
    exceeded = len(qrows) > max_query_rows
    if exceeded and on_exceed != "warn":
        raise ValueError(
            f"knn_join query side exceeds max_query_rows={max_query_rows}; "
            "this kernel broadcasts the query side into every corpus "
            "partition — chunk the queries, raise the budget explicitly "
            "(or pass on_exceed='warn' to proceed chunked), or use "
            "ann.ivf_knn_join for large-x-large joins"
        )
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_key} long, {corpus_key} long, score double, rank int"
        )

    key_type = dict(corpus.dtypes)[corpus_key]
    qkey_type = dict(queries.dtypes)[query_key]
    out_schema = (
        f"{query_key} {qkey_type}, {corpus_key} {key_type}, score double"
    )
    # null corpus vectors would crash np.stack in the kernel
    proj = corpus.filter(F.col(corpus_vec).isNotNull()).select(corpus_key, corpus_vec)
    w = Window.partitionBy(query_key).orderBy("score", corpus_key)

    def _chunk_topk(chunk_rows) -> DataFrame:
        # one kernel run for one bounded slice of the query side; the
        # slice ships to executors as plain float lists via closure
        qids = [r[query_key] for r in chunk_rows]
        qmat_list = [[float(x) for x in r[query_vec]] for r in chunk_rows]

        def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qm = np.asarray(qmat_list, dtype=np.float64)  # (nq, dim)
            best: pd.DataFrame | None = None
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
                parts = []
                for j, qid in enumerate(qids):
                    d = mat - qm[j]
                    scores = np.round(np.einsum("ij,ij->i", d, d), SCORE_DECIMALS)
                    parts.append(
                        pd.DataFrame(
                            {
                                query_key: qid,
                                corpus_key: pdf[corpus_key].to_numpy(),
                                "score": scores,
                            }
                        )
                    )
                cand = pd.concat(parts) if best is None else pd.concat([best, *parts])
                best = (
                    cand.sort_values(["score", corpus_key])
                    .groupby(query_key, sort=False)
                    .head(k)
                )
            if best is not None:
                yield best

        local = proj.mapInPandas(local_topk, schema=out_schema)
        # ranking per chunk == global ranking: chunks own disjoint
        # query keys and the window partitions by query key
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_key, corpus_key, "score", "rank")
        )

    if not exceeded:
        return _chunk_topk(qrows)

    import warnings
    from functools import reduce

    warnings.warn(
        f"knn_join query side exceeds max_query_rows={max_query_rows}; "
        "proceeding CHUNKED (on_exceed='warn'): the corpus is re-scanned "
        "once per query slice — consider ann.ivf_knn_join for "
        "large-x-large joins",
        stacklevel=2,
    )
    # the per-slice ranking == global ranking argument REQUIRES slices
    # to own disjoint query keys; a key duplicated across slices would
    # silently emit up to 2k rows ranked 1..k twice. One cheap agg
    # verifies the precondition instead of assuming it.
    counts = qside.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(query_key).alias("d"),
    ).collect()[0]
    if counts["n"] != counts["d"]:
        raise ValueError(
            "knn_join on_exceed='warn' requires distinct query keys "
            f"({counts['n']} rows, {counts['d']} distinct {query_key}): "
            "the chunked path ranks each slice independently, so a key "
            "split across slices would get duplicate ranks — "
            "dropDuplicates the query side first"
        )
    # stream the query side partition-by-partition; the driver holds at
    # most one max_query_rows slice of Rows at a time (plus the plans'
    # compact float lists), never the whole query set as Row objects
    outs: list[DataFrame] = []
    chunk: list = []
    for r in qside.toLocalIterator():
        chunk.append(r)
        if len(chunk) == max_query_rows:
            outs.append(_chunk_topk(chunk))
            chunk = []
    if chunk:
        outs.append(_chunk_topk(chunk))
    return reduce(DataFrame.unionByName, outs)


def maxsim_topk(
    docs: DataFrame,
    query_vecs,
    k: int = 10,
    id_col: str = "doc",
    vecs_col: str = "vecs",
) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim, Khattab &
    Zaharia 2020): documents carry a BAG of vectors (one per token /
    patch), the query is a small bag too, and the score is
    sum over query vectors of (max over doc vectors of the dot
    product) — fine-grained term-level matching that single-vector
    cosine flattens away.

    Pure nested higher-order expressions — per row O(|Q|·|D|·d)
    codegen'd multiply-adds, zero shuffles, no Python — then the
    usual TakeOrderedAndProject top-k, so the corpus never sorts
    globally and only k rows per partition move. MaxSim is
    set-semantic (max/sum over bags), so the score is independent of
    vector order within a document — collect-order nondeterminism
    cannot change results."""
    from distributed_vector_database_spark.functions.vector import vector_lit

    q_arr = F.array(*[vector_lit(q) for q in query_vecs])

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    score = F.aggregate(
        q_arr,
        F.lit(0.0),
        lambda acc, q: acc
        + F.array_max(
            F.transform(
                F.col(vecs_col).cast("array<array<double>>"), lambda d: dot(q, d)
            )
        ),
    )
    return (
        docs.select(id_col, F.round(score, 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc(id_col))
        .limit(k)
    )


def maxsim_topk_pruned(
    docs: DataFrame,
    query_vecs,
    k: int = 10,
    candidates: int = 100,
    id_col: str = "doc",
    vecs_col: str = "vecs",
) -> DataFrame:
    """Two-stage MaxSim — the serving shape at scale (ColBERTv2/PLAID
    prune with a cheap single-vector stage before exact late
    interaction): stage 1 scores every document's MEAN vector against
    the query centroid (O(d) per doc instead of O(|Q|·|D|·d)) and
    keeps the top `candidates` via TakeOrderedAndProject; stage 2 runs
    the exact MaxSim only on that candidate set (broadcast semi-join —
    ≤`candidates` ids move). `candidates` >= corpus size degenerates
    to the exact operator bit-for-bit (the hash anchor's contract).

    The mean-vector proxy is the standard first-stage approximation,
    not an admissible bound — recall is a measured property
    (tests pin it on clustered data), exactly like the IVF/PQ tiers."""
    from distributed_vector_database_spark.functions.vector import vector_lit

    d = len(query_vecs[0])
    centroid = [sum(q[i] for q in query_vecs) / len(query_vecs) for i in range(d)]
    vecs = F.col(vecs_col).cast("array<array<double>>")
    sums = F.aggregate(
        vecs,
        F.array_repeat(F.lit(0.0), d),
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    mean = F.transform(sums, lambda x: x / F.size(vecs))
    proxy = F.aggregate(
        F.zip_with(mean, vector_lit(centroid), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = (
        docs.select(id_col, proxy.alias("__proxy"))
        .orderBy(F.desc("__proxy"), F.asc(id_col))
        .limit(int(candidates))
        .select(id_col)
    )
    pruned = docs.join(F.broadcast(cand), id_col, "left_semi")
    return maxsim_topk(pruned, query_vecs, k=k, id_col=id_col, vecs_col=vecs_col)


def maxsim_join(
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    query_key: str = "query_id",
    query_vecs: str = "qvecs",
    doc_key: str = "doc",
    doc_vecs: str = "vecs",
    max_query_rows: int = 1_000,
) -> DataFrame:
    """Late-interaction k-NN JOIN: for every query BAG, its top-k
    documents by MaxSim — knn_join's shape applied to multi-vector
    rows. The query side (bags, assumed ≪ corpus) broadcasts into a
    per-partition numpy kernel; each corpus partition emits ≤ nq*k
    local winners (one (|Q|,|D|) GEMM per doc, scores summed over the
    query bag's row-maxima), and the global window ranks only
    n_partitions*nq*k rows — the corpus is never shuffled.

    `max_query_rows` fail-fasts the broadcast assumption, same guard
    and guidance as knn_join (chunk the query side above it; a
    two-stage candidate prune per query is maxsim_topk_pruned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    qrows = (
        queries.select(query_key, query_vecs).limit(max_query_rows + 1).collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"maxsim_join query side exceeds max_query_rows={max_query_rows}; "
            "chunk the query side — every corpus partition receives all bags"
        )
    qkey_type = dict(queries.dtypes)[query_key]
    dkey_type = dict(docs.dtypes)[doc_key]
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [],
            f"{query_key} {qkey_type}, {doc_key} {dkey_type}, "
            "maxsim double, rank int",
        )
    qids = [r[query_key] for r in qrows]
    qmats = [
        np.asarray([[float(x) for x in v] for v in r[query_vecs]], dtype=np.float64)
        for r in qrows
    ]
    out_schema = f"{query_key} {qkey_type}, {doc_key} {dkey_type}, maxsim double"
    proj = docs.filter(F.col(doc_vecs).isNotNull()).select(doc_key, doc_vecs)

    def local_topk(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[doc_key].to_numpy()
            scores = np.empty((len(qids), len(ids)), dtype=np.float64)
            for r, bag in enumerate(pdf[doc_vecs].to_numpy()):
                d = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in bag]
                )  # (|D|, dim)
                for j, qm in enumerate(qmats):
                    scores[j, r] = (qm @ d.T).max(axis=1).sum()
            parts = [
                pd.DataFrame(
                    {
                        query_key: qid,
                        doc_key: ids,
                        "maxsim": np.round(scores[j], 6),
                    }
                )
                for j, qid in enumerate(qids)
            ]
            cand = pd.concat(parts) if best is None else pd.concat([best, *parts])
            best = (
                cand.sort_values(
                    ["maxsim", doc_key], ascending=[False, True]
                )
                .groupby(query_key, sort=False)
                .head(k)
            )
        if best is not None:
            yield best

    local = proj.mapInPandas(local_topk, schema=out_schema)
    w = Window.partitionBy(query_key).orderBy(F.desc("maxsim"), F.asc(doc_key))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, doc_key, "maxsim", "rank")
    )


def mmr_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select k results trading query relevance
    against redundancy with what is already selected —
    mmr(d) = lam*cos(q,d) - (1-lam)*max_{s in S} cos(d,s), first pick
    maximizes pure relevance (empty-set redundancy = 0), ties break on
    the smaller key.

    Two stages: (1) the distributed part — cosine relevance as codegen
    expressions over the corpus and a TakeOrderedAndProject down to
    `pool` candidates (the only corpus-sized work; at 100 TB this is a
    scan + top-k, zero shuffles); (2) the greedy walk over the
    pool-sized candidate set as ONE vectorized numpy task
    (O(pool^2) dot products on <=`pool` rows — driver-scale by
    construction, same bounded-small-side discipline as knn_join).

    All cosines round to 6dp BEFORE selection so the greedy's
    comparisons are reproducible in the ANSI-SQL oracle."""
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    q = [float(x) for x in query_vec]
    qn_denom = sum(x * x for x in q) ** 0.5
    if qn_denom == 0.0:
        raise ValueError("query vector must be non-zero")
    qarr = F.array(*[F.lit(x) for x in q])

    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    dot = F.aggregate(
        F.zip_with(v, qarr, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    rel = F.round(dot / (norm * F.lit(qn_denom)), 6)
    cand = (
        # null embeddings would crash np.stack and zero-norm vectors
        # divide to NaN in the normalization — drop both before the
        # pool, matching knn_exact / maxsim_join (ADVICE r7)
        corpus.where(F.col(vec_col).isNotNull())
        .select(
            F.col(key_col),
            v.alias("__v"),
            rel.alias("relevance"),
            norm.alias("__norm"),
        )
        .where(F.col("__norm") > 0)
        .drop("__norm")
        .orderBy(F.desc("relevance"), key_col)
        .limit(pool)
    )

    # key type follows the corpus schema (a string key must not be
    # declared long — same fix maxsim_join's empty-result schema got)
    qkey_type = dict(corpus.dtypes)[key_col]
    out_schema = (
        f"rank int, {key_col} {qkey_type}, relevance double, mmr double"
    )
    lam_f = float(lam)
    k_f = int(k)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {c.split()[0]: pd.Series(dtype="object")
                 for c in out_schema.split(", ")}
            )
        pdf = pdf.sort_values(
            ["relevance", key_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = np.round(mat @ mat.T, 6)  # pairwise cosine, rounded like the oracle
        rel_v = pdf["relevance"].to_numpy()
        keys = pdf[key_col].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        redund = np.zeros(n)
        rows = []
        for rank in range(1, min(k_f, n) + 1):
            mmr = np.round(lam_f * rel_v - (1.0 - lam_f) * redund, 6)
            mask = np.ones(n, dtype=bool)
            mask[selected] = False
            # argmax mmr, tie -> smaller key: lexsort on (-mmr, key)
            order = np.lexsort((keys, -mmr))
            pick = next(i for i in order if mask[i])
            selected.append(pick)
            redund = np.maximum(redund, sims[:, pick])
            rows.append((rank, keys[pick], rel_v[pick], mmr[pick]))
        return pd.DataFrame(
            rows, columns=["rank", key_col, "relevance", "mmr"]
        )

    return (
        cand.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(lambda _, pdf: greedy(pdf), schema=out_schema)
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    anchor_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_rows: int = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k embedding-nearest corpus rows whose label DIFFERS from the
    anchor's — close in representation space but semantically wrong,
    the negatives that actually move a contrastive loss (random
    negatives — sample_negatives — are trivially separable; hard ones
    come from the retriever itself, the ANCE/DPR mining loop).

    Same kernel discipline as knn_join: the bounded anchor set
    (fail-fast guard) broadcasts into a vectorized per-partition
    top-k, with the label exclusion applied INSIDE the kernel per
    anchor — exactness is structural, not an over-fetch heuristic
    (the filtered-top-k widening problem doesn't exist when the
    filter is evaluated before the truncation). The corpus is never
    shuffled; ≤ n_anchors·k rows leave each partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    arows = (
        anchors.select(anchor_key, vec_col, label_col)
        .limit(max_anchor_rows + 1)
        .collect()
    )
    if len(arows) > max_anchor_rows:
        raise ValueError(
            f"hard_negatives anchor side exceeds max_anchor_rows="
            f"{max_anchor_rows}; chunk the anchors (each chunk is an "
            "independent mining pass)"
        )
    if not arows:
        return corpus.sparkSession.createDataFrame(
            [],
            f"{anchor_key} long, {corpus_key} long, score double, rank int",
        )
    aids = [r[anchor_key] for r in arows]
    alabels = [r[label_col] for r in arows]
    amat_list = [[float(x) for x in r[vec_col]] for r in arows]

    key_type = dict(corpus.dtypes)[corpus_key]
    akey_type = dict(anchors.dtypes)[anchor_key]
    out_schema = f"anchor_id {akey_type}, {corpus_key} {key_type}, score double"
    proj = corpus.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(corpus_key, vec_col, label_col)

    def local_topk(batches):
        qm = np.asarray(amat_list, dtype=np.float64)
        best = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            labels = pdf[label_col].to_numpy()
            keys = pdf[corpus_key].to_numpy()
            parts = []
            for j, aid in enumerate(aids):
                mask = labels != alabels[j]
                if not mask.any():
                    continue
                d = mat[mask] - qm[j]
                scores = np.round(
                    np.einsum("ij,ij->i", d, d), SCORE_DECIMALS
                )
                parts.append(
                    pd.DataFrame(
                        {
                            "anchor_id": aid,
                            corpus_key: keys[mask],
                            "score": scores,
                        }
                    )
                )
            if not parts:
                continue
            cand = pd.concat(parts) if best is None else pd.concat([best, *parts])
            best = (
                cand.sort_values(["score", corpus_key])
                .groupby("anchor_id", sort=False)
                .head(k)
            )
        if best is not None:
            yield best

    local = proj.mapInPandas(local_topk, schema=out_schema)
    w = Window.partitionBy("anchor_id").orderBy("score", corpus_key)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", corpus_key, "score", "rank")
        .orderBy("anchor_id", "rank")
    )


def build_contrastive_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    n_negatives: int = 4,
    anchor_key: str = "vec_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_rows: int = 10_000,
) -> DataFrame:
    """(anchor, positive, negative) training triplets — the artifact a
    contrastive fine-tune actually consumes: per anchor, the nearest
    SAME-label row (excluding itself) as the positive and the
    `n_negatives` nearest DIFFERENT-label rows as hard negatives, both
    from one kernel pass discipline (bounded anchor broadcast, corpus
    never shuffled). Anchors whose label has no other member emit
    nothing — a triplet without a positive is not a triplet.

    Output: (anchor_id, positive_id, negative_id, pos_score,
    neg_score, neg_rank) — one row per (anchor, negative), positive
    repeated across its anchor's rows, scores are squared L2."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    arows = (
        anchors.select(anchor_key, vec_col, label_col)
        .limit(max_anchor_rows + 1)
        .collect()
    )
    if len(arows) > max_anchor_rows:
        raise ValueError(
            f"anchor side exceeds max_anchor_rows={max_anchor_rows}; "
            "chunk the anchors"
        )
    if not arows:
        return corpus.sparkSession.createDataFrame(
            [],
            "anchor_id long, positive_id long, negative_id long, "
            "pos_score double, neg_score double, neg_rank int",
        )
    aids = [r[anchor_key] for r in arows]
    alabels = [r[label_col] for r in arows]
    amat = [[float(x) for x in r[vec_col]] for r in arows]

    key_type = dict(corpus.dtypes)[corpus_key]
    akey_type = dict(anchors.dtypes)[anchor_key]
    out_schema = (
        f"anchor_id {akey_type}, side string, "
        f"{corpus_key} {key_type}, score double"
    )
    proj = corpus.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(corpus_key, vec_col, label_col)
    kneg = int(n_negatives)

    def local_topk(batches):
        qm = np.asarray(amat, dtype=np.float64)
        best = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            labels = pdf[label_col].to_numpy()
            keys = pdf[corpus_key].to_numpy()
            parts = []
            for j, aid in enumerate(aids):
                same = (labels == alabels[j]) & (keys != aid)
                diff = labels != alabels[j]
                for side, mask, kk in (("pos", same, 1), ("neg", diff, kneg)):
                    if not mask.any():
                        continue
                    d = mat[mask] - qm[j]
                    s = np.round(
                        np.einsum("ij,ij->i", d, d), SCORE_DECIMALS
                    )
                    parts.append(
                        pd.DataFrame(
                            {
                                "anchor_id": aid,
                                "side": side,
                                corpus_key: keys[mask],
                                "score": s,
                            }
                        ).nsmallest(kk, ["score", corpus_key])
                    )
            if not parts:
                continue
            cand = pd.concat(parts) if best is None else pd.concat([best, *parts])
            best = (
                cand.sort_values(["score", corpus_key])
                .groupby(["anchor_id", "side"], sort=False)
                .head(kneg)
            )
        if best is not None:
            yield best

    local = proj.mapInPandas(local_topk, schema=out_schema)
    w = Window.partitionBy("anchor_id", "side").orderBy("score", corpus_key)
    ranked = local.withColumn("__rn", F.row_number().over(w))
    pos = ranked.filter(
        (F.col("side") == "pos") & (F.col("__rn") == 1)
    ).select(
        "anchor_id",
        F.col(corpus_key).alias("positive_id"),
        F.col("score").alias("pos_score"),
    )
    neg = ranked.filter(
        (F.col("side") == "neg") & (F.col("__rn") <= kneg)
    ).select(
        "anchor_id",
        F.col(corpus_key).alias("negative_id"),
        F.col("score").alias("neg_score"),
        F.col("__rn").alias("neg_rank"),
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id", "positive_id", "negative_id",
            "pos_score", "neg_score", "neg_rank",
        )
        .orderBy("anchor_id", "neg_rank")
    )
