"""Vector quantization — the storage/speed tier every serious vector
database offers (the reference stores raw float vectors only; PQ/SQ is
how the same corpus serves at 100 TB without reading 100 TB).

- Scalar quantization (SQ, int8): per-dimension min/max → uint8 codes.
  4x smaller than float32, distances computed on dequantized values —
  one aggregation for the stats, one map for the codes, all columnar.
- Product quantization (PQ): split the vector into M subvectors, learn
  a K-centroid codebook per subspace (MLlib KMeans on the DataFrame —
  the 'batch index build'), store M uint8 codes per vector (e.g. 64-d
  float32 = 256 B → 8 B at M=8). Queries use asymmetric distance
  (ADC): one small lookup table per query, then each candidate's
  distance is M table lookups — inside a vectorized numpy kernel with
  the same per-partition top-k + merge shape as every other search
  here.

Approximate → recall-tested against knn_exact (SURVEY §5.2), not
hash-matched.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.ann import (
    ivf_probe,
    ivf_read_quantizer,
    ivf_write,
)


# -- scalar quantization ----------------------------------------------------


def sq_train(df: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — one aggregation."""
    arr = F.col(vec_col).cast("array<double>")
    dim = df.select(F.size(arr).alias("d")).first()["d"]
    mins = df.select(
        *[F.min(F.element_at(arr, i + 1)).alias(f"m{i}") for i in range(dim)]
    ).first()
    maxs = df.select(
        *[F.max(F.element_at(arr, i + 1)).alias(f"m{i}") for i in range(dim)]
    ).first()
    return list(mins), list(maxs)


def sq_encode(
    df: DataFrame, mins: Sequence[float], maxs: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    """uint8 codes: round(255 * (x - min) / (max - min)) per dim, as a
    native column expression (stored as array<int> for parquet)."""
    arr = F.col(vec_col).cast("array<double>")
    scales = [(mx - mn) if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
    codes = F.array(
        *[
            F.round(
                (F.element_at(arr, i + 1) - float(mins[i])) / float(scales[i]) * 255.0
            )
            .cast("int")
            .alias(f"c{i}")
            for i in range(len(mins))
        ]
    )
    return df.withColumn("sq_codes", codes)


def sq_search(
    encoded: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    query_vec: Sequence[float],
    k: int = 10,
    key_col: str = "vec_id",
    rerank: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k on dequantized distances (numpy kernel, per-partition
    top-k + merge).

    With `rerank > 0` (the FAISS `IndexRefine` pattern, same contract
    as pq_search): dequantized distances select a per-partition pool of
    `rerank*k` candidates whose TRUE vectors are re-scored exactly —
    the corpus is scanned codes-only, exact distances touch only the
    pool. A pool that covers the whole partition makes the result
    identical to knn_exact (the hash-oracled anchor ann_sq_topk_exact
    relies on this)."""
    import pandas as pd

    mn = np.asarray(mins, dtype=np.float64)
    sc = np.asarray(
        [(b - a) if b > a else 1.0 for a, b in zip(mins, maxs)], dtype=np.float64
    )
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    key_type = dict(encoded.dtypes)[key_col]
    pool = max(k * rerank, k) if rerank else 2 * k
    do_rerank = rerank > 0 and vec_col in encoded.columns

    def topk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        best = None
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["sq_codes"].to_numpy()).astype(np.float64)
            deq = mn + codes / 255.0 * sc
            d = deq - q
            s = np.einsum("ij,ij->i", d, d)
            cand = pd.DataFrame({key_col: pdf[key_col].to_numpy(), "score": s})
            if do_rerank:
                cand[vec_col] = pdf[vec_col].to_numpy()
            best = cand if best is None else pd.concat([best, cand])
            best = best.nsmallest(pool, ["score", key_col])
        if best is None:
            return
        if do_rerank:
            vecs = np.stack(best[vec_col].to_numpy()).astype(np.float64)
            best = best.drop(columns=[vec_col])
            best["score"] = ((vecs - q[None, :]) ** 2).sum(axis=1)
        best["score"] = np.round(best["score"], 6)
        yield best

    import pandas as pd  # noqa: F811

    cols = [key_col, "sq_codes"] + ([vec_col] if do_rerank else [])
    local = encoded.select(*cols).mapInPandas(
        topk, schema=f"{key_col} {key_type}, score double"
    )
    return local.orderBy("score", key_col).limit(k)


# -- product quantization ---------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 8,
    k_codebook: int = 32,
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 50_000,
) -> list[np.ndarray]:
    """Learn M per-subspace codebooks on a deterministic hash-sampled
    subset, k-means run driver-side in numpy.

    PQ codebooks are universally trained on a bounded sample (FAISS
    caps at ~256 points per centroid) — the statistics converge long
    before the corpus size matters, so even at 100 TB the training
    input is a ~50k-row collect; only ENCODING and SEARCH touch the
    full corpus, and those are distributed. (An MLlib-KMeans-per-
    subspace variant works but pays 8 sequential fit-job overheads for
    identical codebooks.) Returns M (k_codebook, dim/m) arrays."""
    arr = F.col(vec_col).cast("array<double>")
    dim = df.select(F.size(arr).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    sample = df.select(arr.alias("v"))
    n_total = sample.count()
    if n_total > train_sample:
        sample = sample.sample(fraction=train_sample / n_total, seed=seed)
    mat = np.asarray([r["v"] for r in sample.collect()], dtype=np.float64)

    rng = np.random.default_rng(seed)
    books: list[np.ndarray] = []
    for j in range(m):
        seg = mat[:, j * sub : (j + 1) * sub]
        k = min(k_codebook, len(seg))
        cent = seg[rng.choice(len(seg), size=k, replace=False)]
        for _ in range(8):  # Lloyd's iterations; codebooks converge fast
            # argmin over ||x-c||^2 == argmin over ||c||^2 - 2*x.c —
            # matmul form keeps k=256 training cheap (no (n,k,sub) temp)
            d2 = (cent**2).sum(axis=1)[None, :] - 2.0 * (seg @ cent.T)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = seg[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent.copy())
    return books


def pq_encode(
    df: DataFrame, codebooks: list[np.ndarray], vec_col: str = "embedding"
) -> DataFrame:
    """M uint8 codes per vector: nearest centroid per subspace, assigned
    in one vectorized numpy pass per partition."""
    import pandas as pd

    m = len(codebooks)
    sub = codebooks[0].shape[1]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                seg = mat[:, j * sub : (j + 1) * sub]
                # (n, k) argmin via ||c||^2 - 2*x.c (matmul — encoding
                # scans the FULL corpus, so no (n,k,sub) temporaries)
                d2 = (codebooks[j] ** 2).sum(axis=1)[None, :] - 2.0 * (
                    seg @ codebooks[j].T
                )
                codes[:, j] = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf["pq_codes"] = list(codes)
            yield pdf

    return df.mapInPandas(encode, schema=f"{fields}, pq_codes array<long>")


def pq_search(
    encoded: DataFrame,
    codebooks: list[np.ndarray],
    query_vec: Sequence[float],
    k: int = 10,
    key_col: str = "vec_id",
    rerank: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: per query, an (M, K) lookup table of
    subspace distances; each candidate's score = sum of M table cells.

    With `rerank > 0` (the FAISS `IndexRefine` pattern): ADC selects a
    per-partition pool of `rerank*k` candidates, whose TRUE vectors are
    then re-scored exactly — the full corpus is still scanned codes-only
    (M bytes/row), and exact distances touch only the small pool, so the
    refine step costs O(partitions * rerank * k * dim) regardless of
    corpus size. `rerank=0` is pure ADC (no float reads at all)."""
    import pandas as pd

    m = len(codebooks)
    sub = codebooks[0].shape[1]
    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    # ADC lookup table: lut[j][c] = ||q_j - centroid_jc||^2
    lut = np.stack(
        [
            ((codebooks[j] - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )
    key_type = dict(encoded.dtypes)[key_col]
    pool = max(k * rerank, k) if rerank else 2 * k
    do_rerank = rerank > 0 and vec_col in encoded.columns

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = None
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy())
            s = lut[np.arange(m)[None, :], codes].sum(axis=1)
            cand = pd.DataFrame({key_col: pdf[key_col].to_numpy(), "score": s})
            if do_rerank:
                cand[vec_col] = pdf[vec_col].to_numpy()
            best = cand if best is None else pd.concat([best, cand])
            best = best.nsmallest(pool, ["score", key_col])
        if best is None:
            return
        if do_rerank:
            vecs = np.stack(best[vec_col].to_numpy()).astype(np.float64)
            best = best.drop(columns=[vec_col])
            best["score"] = ((vecs - q[None, :]) ** 2).sum(axis=1)
        best["score"] = np.round(best["score"], 6)
        yield best

    cols = [key_col, "pq_codes"] + ([vec_col] if do_rerank else [])
    local = encoded.select(*cols).mapInPandas(
        topk, schema=f"{key_col} {key_type}, score double"
    )
    return local.orderBy("score", key_col).limit(k)


def ivf_pq_search(
    centroids: list[tuple[int, list[float]]],
    encoded: DataFrame,
    codebooks: list[np.ndarray],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the FAISS `IndexIVFPQ(+refine)` composition, and the
    plan a 100 TB corpus actually serves from:

    1. coarse quantizer (driver-side: centroid count is tiny) ranks
       centroids, keeping `nprobe` → an IN filter on centroid_id that
       becomes parquet PARTITION PRUNING when the encoded corpus is
       written via ann.ivf_write — only nprobe/n_centroids of the data
       is read at all;
    2. within probed partitions, the scan touches PQ codes only
       (M bytes/row, ADC lookup-table scoring);
    3. the true vectors of the per-partition candidate pool are
       re-scored exactly (pq_search's rerank).

    `encoded` = pq_encode(assigned) where assigned carries centroid_id
    from ann.ivf_build. Recall-tested, not hash-matched (SURVEY §5.2).
    """
    probe_ids = ivf_probe(centroids, query_vec, nprobe)
    pruned = encoded.filter(F.col("centroid_id").isin(probe_ids))
    return pq_search(
        pruned, codebooks, query_vec, k=k, key_col=key_col, rerank=rerank, vec_col=vec_col
    )


# -- binary quantization ------------------------------------------------------


def bq_train(df: DataFrame, vec_col: str = "embedding") -> list:
    """Per-dimension mean over the corpus — the 1-bit threshold vector.
    One aggregation (the cheapest quantizer to train: BQ needs only a
    centering point; FAISS uses 0 for normalized vectors, the
    per-dimension mean generalizes to uncentered corpora)."""
    arr = F.col(vec_col).cast("array<double>")
    dim = df.select(F.size(arr).alias("d")).first()["d"]
    row = df.select(
        *[F.avg(F.element_at(arr, i + 1)).alias(f"m{i}") for i in range(dim)]
    ).first()
    return [float(x) for x in row]


def _bq_words(vals, means) -> list[int]:
    """Driver-side packing of one vector into 32-bit words (bit i of
    word w = sign of dimension 32w+i against its mean)."""
    words = []
    for w0 in range(0, len(means), 32):
        word = 0
        for i, m in enumerate(means[w0 : w0 + 32]):
            if float(vals[w0 + i]) > m:
                word |= 1 << i
        words.append(word)
    return words


def bq_encode(
    df: DataFrame, means: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    """1-bit codes: 32 dimensions pack into one int word, 32x smaller
    than float32 — BUILT AS A NATIVE COLUMN EXPRESSION (a sum of
    disjoint power-of-two CASE terms per word), so encoding stays
    inside whole-stage codegen: no Python, no Arrow, scales with
    executors. Adds `bq_codes array<int>`; keeps every input column
    (the true vector rides along for rerank)."""
    arr = F.col(vec_col).cast("array<double>")
    words = []
    for w0 in range(0, len(means), 32):
        terms = [
            F.when(
                F.element_at(arr, w0 + i + 1) > F.lit(float(m)),
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i, m in enumerate(means[w0 : w0 + 32])
        ]
        word = terms[0]
        for t in terms[1:]:
            word = word + t
        words.append(word.cast("long"))
    return df.withColumn("bq_codes", F.array(*words))


def bq_search(
    encoded: DataFrame,
    means: Sequence[float],
    query_vec: Sequence[float],
    k: int = 10,
    key_col: str = "vec_id",
    rerank: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """BQ candidate generation + exact refine, fully declarative:

    1. Hamming distance between the corpus codes and the query's codes
       — zip_with + bit_count(xor) folds, all JVM codegen over the
       32x-compressed column (the scan never reads the float vectors
       for ranking).
    2. Top-(rerank*k) pool by (hamming, key) — TakeOrderedAndProject,
       ≤ pool rows leave each partition.
    3. Exact squared-L2 re-score of the pool's TRUE vectors, top-k by
       (score, key) — the FAISS IndexBinaryFlat + refine shape.

    A pool covering the whole corpus degenerates to knn_exact (the
    hash-oracled anchor ann_bq_topk_exact relies on this, same
    contract as sq_search/pq_search rerank anchors)."""
    from distributed_vector_database_spark.functions.vector import squared_l2

    qwords = _bq_words([float(v) for v in query_vec], list(means))
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in qwords])
    ham = F.aggregate(
        F.zip_with(
            F.col("bq_codes"),
            qlit,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    pool_n = max(int(rerank) * k, k)
    pool = (
        encoded.filter(F.col(vec_col).isNotNull())
        .select(key_col, vec_col, ham.alias("__ham"))
        .orderBy("__ham", key_col)
        .limit(pool_n)
    )
    return (
        pool.select(
            key_col,
            F.round(squared_l2(vec_col, list(query_vec)), 6).alias("score"),
        )
        .orderBy("score", key_col)
        .limit(k)
    )


def ivf_bq_search(
    centroids: list,
    encoded: DataFrame,
    means: Sequence[float],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+BQ — the FAISS `IndexBinaryIVF(+refine)` composition:
    coarse-quantizer partition pruning (only nprobe/n_centroids of the
    layout is read), Hamming ranking over the 32x-compressed 1-bit
    codes inside the probed cells (bit_count(xor) codegen — the scan
    never touches float vectors for ranking), exact refine of the
    candidate pool. The cheapest serving tier in the composition
    matrix (IVF×flat / IVF×PQ / IVF×BQ): codes cost 2 bigints/row at
    64-d vs 8 PQ bytes, with no codebook training beyond per-dim
    means.

    `encoded` = bq_encode(assigned) where assigned carries centroid_id
    from ann.ivf_build. nprobe >= n_centroids + pool >= corpus
    degenerates to knn_exact (hash-anchorable); serving mode is
    recall-tested like the other compositions."""
    probe_ids = ivf_probe(centroids, query_vec, nprobe)
    pruned = encoded.filter(F.col("centroid_id").isin(probe_ids))
    return bq_search(
        pruned, means, query_vec, k=k, key_col=key_col, rerank=rerank, vec_col=vec_col
    )


# -- Matryoshka (prefix-dimension) search ------------------------------------


def mrl_search(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    prefix_dim: int = 16,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncated-dimension search (Kusupati et al.
    2022, 'Matryoshka Representation Learning'): rank the corpus on
    the FIRST `prefix_dim` coordinates only, then exactly re-score a
    rerank*k candidate pool at full dimension — the adaptive-retrieval
    shape MRL-trained embedders are built for, and the zero-training
    member of the quantization family (SQ/PQ/BQ learn codes; MRL just
    slices).

    Fully declarative: the coarse distance is squared-L2 over a
    codegen `slice()` of the vector column, the pool is one
    TakeOrderedAndProject (≤ pool rows leave each partition), and the
    refine touches pool rows only. `prefix_dim >= dim` makes coarse
    ranking already exact, so the result must reproduce knn_exact
    bit-for-bit (the hash-oracled anchor ann_mrl_topk_exact relies on
    this, same contract as the SQ/PQ/BQ rerank anchors). For real I/O
    truncation at scale, serve from the persisted layout
    (mrl_write/mrl_read_search) where the prefix is its own parquet
    column and the coarse scan's ReadSchema never touches the full
    vectors."""
    from distributed_vector_database_spark.functions.vector import squared_l2

    q = [float(v) for v in query_vec]
    p = min(int(prefix_dim), len(q))
    coarse = squared_l2(
        F.slice(F.col(vec_col).cast("array<double>"), 1, p), q[:p]
    )
    pool_n = max(int(rerank) * k, k)
    pool = (
        df.filter(F.col(vec_col).isNotNull())
        .select(key_col, vec_col, coarse.alias("__coarse"))
        .orderBy("__coarse", key_col)
        .limit(pool_n)
    )
    return (
        pool.select(
            key_col,
            F.round(squared_l2(vec_col, q), 6).alias("score"),
        )
        .orderBy("score", key_col)
        .limit(k)
    )


def mrl_write(
    df: DataFrame,
    path: str,
    prefix_dim: int = 16,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the Matryoshka serving layout: the dimension prefix is
    materialized as its OWN parquet column next to the full vector, so
    a coarse scan that selects only (key, prefix) reads prefix_dim/dim
    of the vector bytes — parquet column pruning is what makes
    truncation an I/O win rather than a compute trick. At 64->16 dims
    the coarse pass reads 4x less; a 100 TB corpus serves its first
    pass from 25 TB.

    Write-audit-publish (same contract as postings_write): rows carry
    a write-attempt id and serve only once the attempt's marker exists
    under {path}/applied — a crashed mrl_append leaves invisible
    orphans, never partial results."""
    import shutil

    from distributed_vector_database_spark.operators.lexical import (
        _applied_dir,
        _publish,
    )

    shutil.rmtree(_applied_dir(path), ignore_errors=True)
    (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            key_col,
            F.slice(
                F.col(vec_col).cast("array<double>"), 1, int(prefix_dim)
            ).alias("mrl_prefix"),
            vec_col,
            F.lit("base").alias("aid"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    _publish(path, "base", None, 0, 0)


def mrl_append(
    df: DataFrame,
    path: str,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> bool:
    """O(batch) maintenance for the Matryoshka layout: slice the
    batch's prefix at the layout's persisted width and append — no
    touch of existing files, no stats to rebuild (the layout has no
    trained state; its only invariant is the prefix width, read back
    from the data so an appender can never drift from the writer).

    Replay-safe like postings_append: rows land under a fresh attempt
    id and only become servable when the marker publishes; a batch_id
    that already published is skipped (returns False); a crashed
    attempt's rows are unpublished orphans, not duplicates. Caller
    contract: batch keys must be new (dedup/anti-join upstream)."""
    import uuid

    from distributed_vector_database_spark.operators.lexical import (
        _applied_markers,
        _publish,
    )

    if batch_id is not None:
        if any(m.get("batch_id") == batch_id for m in _applied_markers(path)):
            return False
    spark = df.sparkSession
    p = spark.read.parquet(path).select(
        F.size("mrl_prefix").alias("d")
    ).first()["d"]
    aid = uuid.uuid4().hex[:16]
    (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            key_col,
            F.slice(F.col(vec_col).cast("array<double>"), 1, int(p)).alias(
                "mrl_prefix"
            ),
            vec_col,
            F.lit(aid).alias("aid"),
        )
        .write.mode("append")
        .parquet(path)
    )
    _publish(path, aid, batch_id, 0, 0)
    return True


def mrl_read_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve from the persisted Matryoshka layout in two passes:

    1. Coarse: scan (key, mrl_prefix) ONLY — the ReadSchema excludes
       the full vector column entirely, so the pass reads
       prefix_dim/dim of the corpus bytes — and take the rerank*k
       pool by prefix distance (one TakeOrderedAndProject).
    2. Refine: re-read ONLY the pool's rows (bounded key-literal
       pushdown — pool is ≤ rerank*k keys, never corpus-sized) at
       full dimension and score exactly.

    rerank covering the corpus degenerates pass 1 to 'everything is
    in the pool', making the result exactly knn_exact regardless of
    prefix quality — the layout-path anchor parameterization."""
    from distributed_vector_database_spark.functions.vector import squared_l2

    from distributed_vector_database_spark.operators.lexical import (
        _applied_markers,
    )

    q = [float(v) for v in query_vec]
    markers = _applied_markers(path)
    if not markers:
        raise FileNotFoundError(f"no published attempts under {path}/applied")
    aids = sorted(m["aid"] for m in markers)
    layout = spark.read.parquet(path).filter(F.col("aid").isin(aids))
    p = layout.select(F.size("mrl_prefix").alias("d")).first()["d"]
    # clamp the pool to the served row count: an anchor-sized rerank
    # (10**6) must not become a 10M-row TakeOrdered buffer — guava's
    # TopKSelector allocates 2k slots up front PER TASK and OOMs the
    # JVM long before any row materializes
    n_rows = layout.count()
    pool_n = min(max(int(rerank) * k, k), n_rows)
    pool_keys = [
        r[key_col]
        for r in (
            layout.select(
                key_col,
                squared_l2("mrl_prefix", q[: int(p)]).alias("__coarse"),
            )
            .orderBy("__coarse", key_col)
            .limit(pool_n)
            .collect()
        )
    ]
    return (
        spark.read.parquet(path)
        .filter(F.col("aid").isin(aids))
        .filter(F.col(key_col).isin(pool_keys))
        .select(
            key_col,
            F.round(squared_l2(vec_col, q), 6).alias("score"),
        )
        .orderBy("score", key_col)
        .limit(k)
    )


def ivf_mrl_search(
    centroids: list,
    assigned: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    prefix_dim: int = 16,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF×MRL — coarse-quantizer cell pruning composed with
    prefix-dimension ranking INSIDE the probed cells, then exact
    refine: the third member of the candidate-tier matrix next to
    IVF×PQ and IVF×BQ, and the only one whose candidate stage needs no
    training or codes at all (the prefix is a byte range of the vector
    column). nprobe covering every cell + a corpus-sized pool
    degenerates to knn_exact (hash-anchorable, same contract as the
    sibling compositions).

    100 TB: partition pruning cuts the scan to nprobe/n_centroids of
    the layout; within probed cells the rank pass touches
    prefix_dim/dim of the vector bytes (column-pruned when served from
    an mrl_write layout partitioned by centroid)."""
    probe_ids = ivf_probe(centroids, query_vec, nprobe)
    pruned = assigned.filter(F.col("centroid_id").isin(probe_ids))
    return mrl_search(
        pruned,
        query_vec,
        k=k,
        prefix_dim=prefix_dim,
        rerank=rerank,
        key_col=key_col,
        vec_col=vec_col,
    )


def ivf_mrl_write(
    assigned: DataFrame,
    path: str,
    prefix_dim: int = 16,
    centroids: list | None = None,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF×MRL serving layout: centroid-partitioned (probe
    = parquet partition pruning) with the dimension prefix as its own
    column (coarse rank = parquet column pruning). A probe against
    this layout reads (nprobe/n_centroids) × (prefix_dim/dim) of the
    corpus vector bytes — the two pruning axes multiply, which is the
    whole point of composing the layouts. Quantizer persisted alongside
    for the restart path (ivf_write(centroids=))."""
    with_prefix = assigned.filter(F.col(vec_col).isNotNull()).withColumn(
        "mrl_prefix",
        F.slice(F.col(vec_col).cast("array<double>"), 1, int(prefix_dim)),
    )
    ivf_write(with_prefix, path, centroids=centroids)


def ivf_mrl_read_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve from the persisted IVF×MRL layout — the restart path with
    both prunings live:

    1. Probe: nearest nprobe cells from the PERSISTED quantizer;
       partition pruning opens only their files.
    2. Coarse: scan (key, mrl_prefix) of the probed cells ONLY — the
       ReadSchema never touches the full vector column (pinned by
       tests/test_mrl.py) — and pool the rerank·k best by prefix
       distance.
    3. Refine: re-read the probed cells filtered to pool keys at full
       dimension, exact scores, top-k.

    nprobe ≥ n_centroids + a corpus pool ⟹ knn_exact bit-for-bit
    (the layout-path anchor, same contract as every composition)."""
    from distributed_vector_database_spark.functions.vector import squared_l2

    q = [float(v) for v in query_vec]
    probe_ids = ivf_probe(ivf_read_quantizer(path), q, nprobe)
    cells = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    p = cells.select(F.size("mrl_prefix").alias("d")).first()["d"]
    # same pool clamp as mrl_read_search: TakeOrdered buffers size 2k
    # per task regardless of actual rows
    n_rows = cells.count()
    pool_n = min(max(int(rerank) * k, k), n_rows)
    pool_keys = [
        r[key_col]
        for r in (
            cells.select(
                key_col,
                squared_l2("mrl_prefix", q[: int(p)]).alias("__coarse"),
            )
            .orderBy("__coarse", key_col)
            .limit(pool_n)
            .collect()
        )
    ]
    return (
        cells.filter(F.col(key_col).isin(pool_keys))
        .select(
            key_col,
            F.round(squared_l2(vec_col, q), 6).alias("score"),
        )
        .orderBy("score", key_col)
        .limit(k)
    )


def _write_codebooks(path: str, codebooks: list[np.ndarray]) -> None:
    import json as _json
    import os as _os

    tmp = _os.path.join(path, "_codebooks.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump([b.tolist() for b in codebooks], fh)
    _os.replace(tmp, _os.path.join(path, "_codebooks.json"))


def pq_read_codebooks(path: str) -> list[np.ndarray]:
    """The layout's FROZEN codebooks — appenders and servers read them
    back from the layout itself (the same self-describing discipline
    as ivf_read_quantizer / mrl's persisted prefix width), so no
    caller can drift from the writer's training run."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_codebooks.json")) as fh:
        return [np.asarray(b, dtype=np.float64) for b in _json.load(fh)]


def pq_write(
    df: DataFrame,
    path: str,
    m: int = 8,
    k_codebook: int = 32,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist the product-quantization serving layout: train the M
    per-subspace codebooks once (bounded driver-side sample,
    pq_train), encode the corpus distributed (pq_encode), write
    (key, pq_codes, vector) parquet with the codebooks saved beside
    the data (_codebooks.json, atomic replace) — the FAISS index-file
    lifecycle, Spark-shaped. Scans that read only (key, pq_codes)
    touch M bytes of code per row; the float column exists solely for
    the refine pass.

    Write-audit-publish (same contract as postings_write/mrl_write):
    rows carry a write-attempt id and serve only once the attempt's
    marker exists under {path}/applied."""
    import shutil

    from distributed_vector_database_spark.operators.lexical import (
        _applied_dir,
        _publish,
    )

    codebooks = pq_train(
        df, m=m, k_codebook=k_codebook, vec_col=vec_col, seed=seed
    )
    shutil.rmtree(_applied_dir(path), ignore_errors=True)
    (
        pq_encode(df.filter(F.col(vec_col).isNotNull()), codebooks,
                  vec_col=vec_col)
        .select(key_col, "pq_codes", vec_col, F.lit("base").alias("aid"))
        .write.mode("overwrite")
        .parquet(path)
    )
    _write_codebooks(path, codebooks)
    _publish(path, "base", None, 0, 0)


def pq_append(
    df: DataFrame,
    path: str,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> bool:
    """O(batch) maintenance for the PQ layout: encode the batch with
    the layout's FROZEN codebooks (the standard PQ practice — FAISS
    `add` never retrains; codebook statistics converge on the
    training sample and re-training would silently invalidate every
    previously stored code) and append. No touch of existing files.

    Replay-safe like postings_append/mrl_append: a batch_id that
    already published is skipped (returns False); a crashed attempt's
    rows are unpublished orphans, not duplicates. Caller contract:
    batch keys must be new (dedup/anti-join upstream)."""
    import uuid

    from distributed_vector_database_spark.operators.lexical import (
        _applied_markers,
        _publish,
    )

    if batch_id is not None:
        if any(m.get("batch_id") == batch_id for m in _applied_markers(path)):
            return False
    codebooks = pq_read_codebooks(path)
    aid = uuid.uuid4().hex[:16]
    (
        pq_encode(df.filter(F.col(vec_col).isNotNull()), codebooks,
                  vec_col=vec_col)
        .select(key_col, "pq_codes", vec_col, F.lit(aid).alias("aid"))
        .write.mode("append")
        .parquet(path)
    )
    _publish(path, aid, batch_id, 0, 0)
    return True


def pq_read_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve asymmetric-distance top-k from the persisted PQ layout:
    published attempts only, codes scanned via the ADC lookup table
    (pq_search kernel — per-partition candidate pools, exact refine
    over rerank*k true vectors). rerank covering the corpus
    degenerates to exact knn (the layout-path anchor
    parameterization, same as mrl_read_search's)."""
    from distributed_vector_database_spark.operators.lexical import (
        _applied_markers,
    )

    markers = _applied_markers(path)
    if not markers:
        raise FileNotFoundError(f"no published attempts under {path}/applied")
    aids = sorted(m["aid"] for m in markers)
    codebooks = pq_read_codebooks(path)
    layout = spark.read.parquet(path).filter(F.col("aid").isin(aids))
    # clamp the refine pool to the served row count (the TakeOrdered
    # 2k-slot-per-task guard, same as mrl_read_search)
    if rerank:
        n_rows = layout.count()
        rerank = max(1, min(int(rerank), -(-n_rows // max(k, 1))))
    return pq_search(
        layout, codebooks, query_vec, k=k, key_col=key_col,
        rerank=rerank, vec_col=vec_col,
    )


def ivf_pq_write(
    assigned: DataFrame,
    path: str,
    centroids: list | None = None,
    m: int = 8,
    k_codebook: int = 32,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist the IVF×PQ serving layout — the FAISS IndexIVFPQ
    lifecycle: centroid-partitioned parquet (probe = partition
    pruning) whose rows carry the PQ codes as their own column (ADC =
    column pruning: the scan of the probed cells reads M bytes of
    code per row, not the vector), with BOTH trained artifacts saved
    beside the data (_quantizer.json via ivf_write, _codebooks.json).
    The two pruning axes multiply exactly as in ivf_mrl_write —
    (nprobe/n_centroids) × (M·1B / dim·8B) of the corpus bytes per
    probe — but with trained codes instead of a dimension prefix."""
    codebooks = pq_train(
        assigned, m=m, k_codebook=k_codebook, vec_col=vec_col, seed=seed
    )
    encoded = pq_encode(
        assigned.filter(F.col(vec_col).isNotNull()), codebooks,
        vec_col=vec_col,
    )
    ivf_write(encoded, path, centroids=centroids)
    _write_codebooks(path, codebooks)


def ivf_pq_read_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve from the persisted IVF×PQ layout — the restart path:

    1. Probe: nearest nprobe cells from the PERSISTED quantizer;
       partition pruning opens only their files.
    2. ADC: the pq_search kernel over the probed cells' code column
       (per-partition pools via the query's (M, K) lookup table).
    3. Refine: exact re-score of the rerank·k pool's true vectors.

    nprobe ≥ n_centroids + a corpus-covering pool ⟹ knn_exact
    bit-for-bit (the layout-path anchor, same contract as the MRL and
    flat-PQ compositions)."""
    q = [float(v) for v in query_vec]
    probe_ids = ivf_probe(ivf_read_quantizer(path), q, nprobe)

    codebooks = pq_read_codebooks(path)
    cells = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    if rerank:
        n_rows = cells.count()
        rerank = max(1, min(int(rerank), -(-n_rows // max(k, 1))))
    return pq_search(
        cells, codebooks, q, k=k, key_col=key_col, rerank=rerank,
        vec_col=vec_col,
    )
