"""Vector quantization — the storage/speed tier every serious vector
database offers (the reference stores raw float vectors only; PQ/SQ is
how the same corpus serves at 100 TB without reading 100 TB).

Four codecs (`SQCodec`, `PQCodec`, `BQCodec`, `MRLCodec`), one search
and one persisted layout — the IVF-list × codec composition of FAISS
(`IndexIVFPQ`, `IndexIVFScalarQuantizer`, `IndexBinaryIVF`). A codec
holds its frozen state, an `encode` that adds one code column, and a
coarse scorer of one of two kinds, each with one coarse → pool →
exact-refine pipeline:

- a numpy batch `kernel` (SQ, PQ): a per-partition pool of `rerank*k`
  rows inside one `mapInPandas` (`2k` and no refine when `rerank=0`);
- a `coarse` column expression (BQ, MRL): one global TakeOrdered pool
  of `rerank*k` rows, all JVM codegen.

The refine re-scores the pool's true vectors exactly, top-k by
(round(score, 6), key) — the FAISS `IndexRefine` pattern. A pool that
covers the corpus and a probe of every cell reproduce `knn_exact`
bit-for-bit: the hash-oracled `ann_*_exact` anchors rely on this.
`codec_search` runs over an in-plan encoded frame, probing the cells
`ann.ivf_probe` picks when centroids are passed.

The persisted layout (`codec_write` / `codec_append` /
`codec_read_search`) holds (key, code, vector, aid) parquet rows, flat
or partitioned by `centroid_id` (a probe = partition pruning), with the
codec state in a `_codec.json` sidecar next to the IVF quantizer's
`_quantizer.json` and the layout's `_schema.json` (ann.write_layout /
ann.read_layout: reads name their schema, no inference job). The coarse
pass reads only (key, code), so column pruning makes the compression an
I/O win. Appends encode with the frozen
state (FAISS `add` never retrains) and are write-audit-publish
(`versioned.publish_attempt`): a crashed append's rows are never served
and a replayed `batch_id` is skipped.

Approximate → recall-tested against knn_exact (SURVEY §5.2), not
hash-matched.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.functions.vector import squared_l2
from distributed_vector_database_spark.operators.ann import (
    ivf_assign,
    ivf_probe,
    ivf_read_quantizer,
    ivf_write,
    read_layout,
    write_layout,
)

CODEC_FILE = "_codec.json"


# -- codecs -------------------------------------------------------------------


class SQCodec:
    """int8 scalar quantization: code = round(255·(x − min)/(max − min))
    per dimension; coarse distance = squared L2 of the dequantized code."""

    kind, column = "sq", "sq_codes"

    def __init__(self, mins: Sequence[float], maxs: Sequence[float]):
        self.mins = [float(x) for x in mins]
        self.maxs = [float(x) for x in maxs]
        self.scales = [(b - a) if b > a else 1.0 for a, b in zip(self.mins, self.maxs)]

    def state(self) -> dict:
        return {"mins": self.mins, "maxs": self.maxs}

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """A native column expression (stored as array<int>)."""
        arr = F.col(vec_col).cast("array<double>")
        codes = [
            F.round((F.element_at(arr, i + 1) - mn) / sc * 255.0).cast("int")
            for i, (mn, sc) in enumerate(zip(self.mins, self.scales))
        ]
        return df.withColumn(self.column, F.array(*codes))

    def kernel(self, q: np.ndarray):
        mn = np.asarray(self.mins, dtype=np.float64)
        sc = np.asarray(self.scales, dtype=np.float64)

        def score(codes: np.ndarray) -> np.ndarray:
            d = mn + codes.astype(np.float64) / 255.0 * sc - q
            return np.einsum("ij,ij->i", d, d)

        return score


class PQCodec:
    """Product quantization: M per-subspace codebooks (pq_train); code j
    = the nearest centroid of subvector j; coarse distance = ADC, the
    sum of M cells of the query's (M, K) lookup table."""

    kind, column = "pq", "pq_codes"

    def __init__(self, codebooks: Sequence):
        self.codebooks = [np.asarray(b, dtype=np.float64) for b in codebooks]

    def state(self) -> dict:
        return {"codebooks": [b.tolist() for b in self.codebooks]}

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """One vectorized numpy pass per partition (array<long> codes)."""
        import pandas as pd

        books = self.codebooks
        sub = books[0].shape[1]
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )

        def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = np.empty((len(pdf), len(books)), dtype=np.int64)
                for j, book in enumerate(books):
                    seg = mat[:, j * sub : (j + 1) * sub]
                    # (n, k) argmin via ||c||^2 - 2*x.c (matmul — encoding
                    # scans the FULL corpus, so no (n,k,sub) temporaries)
                    d2 = (book**2).sum(axis=1)[None, :] - 2.0 * (seg @ book.T)
                    codes[:, j] = d2.argmin(axis=1)
                pdf = pdf.copy()
                pdf["pq_codes"] = list(codes)
                yield pdf

        return df.mapInPandas(encode, schema=f"{fields}, pq_codes array<long>")

    def kernel(self, q: np.ndarray):
        m = len(self.codebooks)
        sub = self.codebooks[0].shape[1]
        # ADC lookup table: lut[j][c] = ||q_j - centroid_jc||^2
        lut = np.stack([
            ((book - q[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
            for j, book in enumerate(self.codebooks)
        ])

        def score(codes: np.ndarray) -> np.ndarray:
            return lut[np.arange(m)[None, :], codes].sum(axis=1)

        return score


class BQCodec:
    """Binary quantization: bit i of word w = x[32w+i] > mean[32w+i];
    coarse distance = Hamming, bit_count(xor) folds in codegen over the
    32x-compressed column."""

    kind, column = "bq", "bq_codes"

    def __init__(self, means: Sequence[float]):
        self.means = [float(x) for x in means]

    def state(self) -> dict:
        return {"means": self.means}

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """A sum of disjoint power-of-two CASE terms per word, so encoding
        stays inside whole-stage codegen: no Python, no Arrow."""
        arr = F.col(vec_col).cast("array<double>")
        words = []
        for w0 in range(0, len(self.means), 32):
            terms = [
                F.when(F.element_at(arr, w0 + i + 1) > F.lit(m), F.lit(1 << i).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                for i, m in enumerate(self.means[w0 : w0 + 32])
            ]
            words.append(sum(terms[1:], terms[0]).cast("long"))
        return df.withColumn(self.column, F.array(*words))

    def coarse(self, q: Sequence[float]) -> Column:
        qlit = F.array(*[F.lit(int(w)).cast("long") for w in _bq_words(q, self.means)])
        bits = F.zip_with(F.col(self.column), qlit, lambda a, b: F.bit_count(a.bitwiseXOR(b)))
        return F.aggregate(bits, F.lit(0), lambda acc, x: acc + x)


class MRLCodec:
    """Matryoshka prefix: the code is the first `prefix_dim` coordinates
    (no training); coarse distance = squared L2 on the prefix."""

    kind, column = "mrl", "mrl_prefix"

    def __init__(self, prefix_dim: int):
        self.prefix_dim = int(prefix_dim)

    def state(self) -> dict:
        return {"prefix_dim": self.prefix_dim}

    def encode(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        prefix = F.slice(F.col(vec_col).cast("array<double>"), 1, self.prefix_dim)
        return df.withColumn(self.column, prefix)

    def coarse(self, q: Sequence[float]) -> Column:
        return squared_l2(self.column, list(q[: self.prefix_dim]))


_CODECS = {c.kind: c for c in (SQCodec, PQCodec, BQCodec, MRLCodec)}


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


# -- training -------------------------------------------------------------------


def _per_dim(df: DataFrame, vec_col: str, *aggs) -> list[list]:
    """Each of `aggs` (F.min, ...) over every dimension of the vectors,
    all in one aggregation."""
    arr = F.col(vec_col).cast("array<double>")
    dim = df.select(F.size(arr).alias("d")).first()["d"]
    aggs = [a(F.element_at(arr, i + 1)) for a in aggs for i in range(dim)]
    row = df.select(*aggs).first()
    return [list(row[j : j + dim]) for j in range(0, len(aggs), dim)]


def sq_train(df: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — one aggregation."""
    mins, maxs = _per_dim(df, vec_col, F.min, F.max)
    return mins, maxs


def pq_train(
    df: DataFrame, m: int = 8, k_codebook: int = 32, vec_col: str = "embedding",
    seed: int = 42, train_sample: int = 50_000,
) -> list[np.ndarray]:
    """Learn M per-subspace codebooks on a deterministic hash-sampled
    subset, k-means run driver-side in numpy.

    PQ codebooks are universally trained on a bounded sample (FAISS
    caps at ~256 points per centroid) — the statistics converge long
    before the corpus size matters, so even at 100 TB the training
    input is a ~50k-row collect; only ENCODING and SEARCH touch the
    full corpus, and those are distributed. Returns M (k_codebook,
    dim/m) arrays."""
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


def bq_train(df: DataFrame, vec_col: str = "embedding") -> list:
    """Per-dimension mean over the corpus — the 1-bit threshold vector.
    One aggregation (the cheapest quantizer to train: BQ needs only a
    centering point; FAISS uses 0 for normalized vectors, the
    per-dimension mean generalizes to uncentered corpora)."""
    return [float(x) for x in _per_dim(df, vec_col, F.avg)[0]]


# -- the two pipelines ----------------------------------------------------------


def _kernel_search(
    frame: DataFrame, codec, q: np.ndarray, k: int, rerank: int,
    key_col: str, vec_col: str,
) -> DataFrame:
    """Numpy-kernel scorers: per-partition pool of the `pool` best
    (score, key) inside one mapInPandas, exact refine of the pool when
    `rerank > 0` and the vectors are present, then the top-k merge."""
    import pandas as pd

    score = codec.kernel(q)
    key_type = dict(frame.dtypes)[key_col]
    pool = max(k * rerank, k) if rerank else 2 * k
    do_rerank = rerank > 0 and vec_col in frame.columns
    code_col = codec.column

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = None
        for pdf in batches:
            if pdf.empty:
                continue
            s = score(np.stack(pdf[code_col].to_numpy()))
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

    cols = [key_col, code_col] + ([vec_col] if do_rerank else [])
    schema = f"{key_col} {key_type}, score double"
    local = frame.select(*cols).mapInPandas(topk, schema=schema)
    return local.orderBy("score", key_col).limit(k)


def _column_search(
    frame: DataFrame, coarse: Column, q: list[float], k: int, rerank: int,
    key_col: str, vec_col: str, by_key: bool = False,
) -> DataFrame:
    """Column scorers: one global pool of the rerank·k best by
    (coarse, key) — TakeOrderedAndProject, ≤ pool rows leave each
    partition — then exact squared-L2 re-score, top-k by (score, key).

    `by_key` (persisted layouts) keeps the vector column out of the
    coarse scan: the pool's keys are collected and only their rows are
    re-read at full dimension (a bounded key-literal pushdown)."""
    pool_n = max(int(rerank) * k, k)
    if by_key and pool_n > 100_000:
        # clamp an anchor-sized pool (rerank=10**6) to the served rows:
        # TakeOrdered preallocates 2·pool_n slots per task, which OOMs a
        # session without session.get_spark's topKSortFallbackThreshold
        pool_n = min(pool_n, frame.count())
    scan = frame if by_key else frame.filter(F.col(vec_col).isNotNull())
    cols = [key_col] if by_key else [key_col, vec_col]
    pool = (
        scan.select(*cols, coarse.alias("__coarse"))
        .orderBy("__coarse", key_col)
        .limit(pool_n)
    )
    if by_key:
        pool = frame.filter(F.col(key_col).isin([r[key_col] for r in pool.collect()]))
    return (
        pool.select(key_col, F.round(squared_l2(vec_col, q), 6).alias("score"))
        .orderBy("score", key_col)
        .limit(k)
    )


def _search(
    frame, codec, centroids, q, k, nprobe, rerank, key_col, vec_col, by_key=False
):
    """Probe (when centroids are given), then the codec's pipeline."""
    q = [float(v) for v in q]
    if centroids is not None:
        cells = ivf_probe(centroids, q, nprobe)
        frame = frame.filter(F.col("centroid_id").isin(cells))
    if hasattr(codec, "kernel"):
        return _kernel_search(
            frame, codec, np.asarray(q, dtype=np.float64), k, rerank, key_col, vec_col
        )
    return _column_search(
        frame, codec.coarse(q), q, k, rerank, key_col, vec_col, by_key=by_key
    )


def codec_search(
    encoded: DataFrame, codec, query_vec: Sequence[float], k: int = 10,
    rerank: int = 4, centroids: list | None = None, nprobe: int = 4,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Quantized top-k over an in-plan frame carrying `codec.column`
    (codec.encode). With `centroids` (ann.ivf_build), only the `nprobe`
    cells ivf_probe picks are scanned — an IN filter on centroid_id
    that becomes partition pruning over an ivf_write layout."""
    return _search(
        encoded, codec, centroids, query_vec, k, nprobe, rerank, key_col, vec_col
    )


# -- the persisted layout ---------------------------------------------------------


def _write_sidecar(path: str, codec, partitioned: bool) -> None:
    tmp = os.path.join(path, CODEC_FILE + ".tmp")
    with open(tmp, "w") as fh:
        meta = {"kind": codec.kind, "state": codec.state(), "partitioned": partitioned}
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, CODEC_FILE))


def _read_sidecar(path: str) -> tuple:
    """(codec, partitioned) of the layout at `path`."""
    with open(os.path.join(path, CODEC_FILE)) as fh:
        meta = json.load(fh)
    return _CODECS[meta["kind"]](**meta["state"]), meta["partitioned"]


def read_codec(path: str):
    """The layout's FROZEN codec, read back from the layout itself (as
    ivf_read_quantizer), so no caller drifts from the writer's training."""
    return _read_sidecar(path)[0]


def _layout_rows(df, codec, aid: str, key_col: str, vec_col: str) -> DataFrame:
    cells = ["centroid_id"] if "centroid_id" in df.columns else []
    return codec.encode(df, vec_col).select(
        key_col, codec.column, vec_col, *cells, F.lit(aid).alias("aid")
    )


def codec_write(
    df: DataFrame, path: str, codec, centroids: list | None = None,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist the quantized serving layout: (key, code, vector, aid)
    parquet rows, the codec state in `_codec.json`. A frame carrying
    `centroid_id` (or given `centroids`, which assign it) is written
    partitioned by cell through ann.ivf_write, with the quantizer in
    `_quantizer.json` when `centroids` is given. Rows with a null
    vector are dropped. The base attempt publishes last."""
    shutil.rmtree(versioned.attempts_dir(path), ignore_errors=True)
    df = df.filter(F.col(vec_col).isNotNull())
    if centroids is not None and "centroid_id" not in df.columns:
        df = ivf_assign(df, centroids, vec_col)
    rows = _layout_rows(df, codec, "base", key_col, vec_col)
    partitioned = "centroid_id" in rows.columns
    if partitioned:
        ivf_write(rows, path, centroids=centroids)
    else:
        write_layout(rows, path)
    _write_sidecar(path, codec, partitioned)
    versioned.publish_attempt(path, "base")


def codec_append(
    df: DataFrame, path: str, key_col: str = "vec_id", vec_col: str = "embedding",
    batch_id: int | None = None,
) -> bool:
    """O(batch), one Spark job: encode with the layout's frozen codec
    (on a partitioned layout, assign to its persisted quantizer's cells)
    and append. A batch_id that already published is skipped (returns
    False); a crashed attempt's rows stay unpublished orphans. Caller
    contract: batch keys must be new (dedup/anti-join upstream)."""
    if versioned.batch_published(path, batch_id):
        return False
    codec, partitioned = _read_sidecar(path)
    df = df.filter(F.col(vec_col).isNotNull())
    if partitioned:
        df = ivf_assign(df, ivf_read_quantizer(path), vec_col)
    aid = uuid.uuid4().hex[:16]
    writer = _layout_rows(df, codec, aid, key_col, vec_col).write.mode("append")
    if partitioned:
        writer = writer.partitionBy("centroid_id")
    writer.parquet(path)
    versioned.publish_attempt(path, aid, batch_id)
    return True


def codec_read_search(
    spark, path: str, query_vec: Sequence[float], k: int = 10, nprobe: int = 4,
    rerank: int = 4, key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k from a persisted layout — the restart path, nothing
    but the directory needed: published attempts only; on a partitioned
    layout only the `nprobe` cells of its persisted quantizer (partition
    pruning opens only their files); then the codec's pipeline."""
    codec, partitioned = _read_sidecar(path)
    centroids = ivf_read_quantizer(path) if partitioned else None
    layout = read_layout(spark, path).filter(
        F.col("aid").isin(versioned.published_aids(path))
    )
    return _search(
        layout, codec, centroids, query_vec, k, nprobe, rerank, key_col, vec_col,
        by_key=True,
    )


# -- the public per-codec names: thin wrappers over the codec API ---------------


def sq_encode(
    df: DataFrame, mins: Sequence[float], maxs: Sequence[float],
    vec_col: str = "embedding",
) -> DataFrame:
    return SQCodec(mins, maxs).encode(df, vec_col)


def sq_search(
    encoded: DataFrame, mins: Sequence[float], maxs: Sequence[float],
    query_vec: Sequence[float], k: int = 10, key_col: str = "vec_id",
    rerank: int = 0, vec_col: str = "embedding",
) -> DataFrame:
    return codec_search(
        encoded, SQCodec(mins, maxs), query_vec, k=k, rerank=rerank,
        key_col=key_col, vec_col=vec_col,
    )


def pq_encode(
    df: DataFrame, codebooks: list[np.ndarray], vec_col: str = "embedding"
) -> DataFrame:
    return PQCodec(codebooks).encode(df, vec_col)


def pq_search(
    encoded: DataFrame, codebooks: list[np.ndarray], query_vec: Sequence[float],
    k: int = 10, key_col: str = "vec_id", rerank: int = 4, vec_col: str = "embedding",
) -> DataFrame:
    """`rerank=0` is pure ADC: no float reads at all."""
    return codec_search(
        encoded, PQCodec(codebooks), query_vec, k=k, rerank=rerank,
        key_col=key_col, vec_col=vec_col,
    )


def ivf_pq_search(
    centroids: list[tuple[int, list[float]]], encoded: DataFrame,
    codebooks: list[np.ndarray], query_vec: Sequence[float], k: int = 10,
    nprobe: int = 4, rerank: int = 4, key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """`encoded` = pq_encode(assigned), assigned by ann.ivf_build."""
    return codec_search(
        encoded, PQCodec(codebooks), query_vec, k=k, rerank=rerank,
        centroids=centroids, nprobe=nprobe, key_col=key_col, vec_col=vec_col,
    )


def bq_encode(
    df: DataFrame, means: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    return BQCodec(means).encode(df, vec_col)


def bq_search(
    encoded: DataFrame, means: Sequence[float], query_vec: Sequence[float],
    k: int = 10, key_col: str = "vec_id", rerank: int = 4, vec_col: str = "embedding",
) -> DataFrame:
    return codec_search(
        encoded, BQCodec(means), query_vec, k=k, rerank=rerank,
        key_col=key_col, vec_col=vec_col,
    )


def ivf_bq_search(
    centroids: list, encoded: DataFrame, means: Sequence[float],
    query_vec: Sequence[float], k: int = 10, nprobe: int = 4, rerank: int = 4,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """`encoded` = bq_encode(assigned), assigned by ann.ivf_build."""
    return codec_search(
        encoded, BQCodec(means), query_vec, k=k, rerank=rerank,
        centroids=centroids, nprobe=nprobe, key_col=key_col, vec_col=vec_col,
    )


def ivf_mrl_search(
    centroids: list, assigned: DataFrame, query_vec: Sequence[float], k: int = 10,
    nprobe: int = 4, prefix_dim: int = 16, rerank: int = 4,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Prefix ranking of the raw vectors (MRLCodec encodes in-plan);
    `centroids=None` searches every row. For I/O truncation at scale,
    serve from mrl_write's layout, where the prefix is its own column."""
    codec = MRLCodec(min(int(prefix_dim), len(query_vec)))
    return codec_search(
        codec.encode(assigned, vec_col), codec, query_vec, k=k, rerank=rerank,
        centroids=centroids, nprobe=nprobe, key_col=key_col, vec_col=vec_col,
    )


def mrl_search(
    df: DataFrame, query_vec: Sequence[float], k: int = 10, prefix_dim: int = 16,
    rerank: int = 4, key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    return ivf_mrl_search(
        None, df, query_vec, k=k, prefix_dim=prefix_dim, rerank=rerank,
        key_col=key_col, vec_col=vec_col,
    )


def ivf_pq_write(
    assigned: DataFrame, path: str, centroids: list | None = None, m: int = 8,
    k_codebook: int = 32, key_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Codebooks trained once on `assigned` (pq_train), then codec_write."""
    books = pq_train(assigned, m=m, k_codebook=k_codebook, vec_col=vec_col, seed=seed)
    codec_write(assigned, path, PQCodec(books), centroids, key_col, vec_col)


def pq_write(
    df: DataFrame, path: str, m: int = 8, k_codebook: int = 32,
    key_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
) -> None:
    ivf_pq_write(df, path, None, m, k_codebook, key_col, vec_col, seed)


def ivf_mrl_write(
    assigned: DataFrame, path: str, prefix_dim: int = 16,
    centroids: list | None = None, key_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    codec_write(assigned, path, MRLCodec(prefix_dim), centroids, key_col, vec_col)


def mrl_write(
    df: DataFrame, path: str, prefix_dim: int = 16,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    codec_write(df, path, MRLCodec(prefix_dim), None, key_col, vec_col)


def pq_read_search(
    spark, path: str, query_vec: Sequence[float], k: int = 10, rerank: int = 4,
    key_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """codec_read_search of a flat layout (pq_write, mrl_write)."""
    return codec_read_search(
        spark, path, query_vec, k=k, rerank=rerank, key_col=key_col, vec_col=vec_col
    )


# same signatures as the codec API's own, so the same functions
mrl_read_search = pq_read_search
ivf_pq_read_search = ivf_mrl_read_search = codec_read_search
pq_append = mrl_append = codec_append
