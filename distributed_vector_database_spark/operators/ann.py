"""Approximate nearest-neighbor paths — the scale alternatives to the
brute-force oracle in operators/knn.py.

The reference's ANN is a per-node HNSW graph (hnswlib, M=32,
ef_construction=128, src/datanode/handler.py:46,86-88). The Spark-native
ANN surface is:

0. The reference's algorithm itself, one HNSW graph per partition,
   lives in operators/hnsw.py (`hnsw_partition_topk`, pure numpy, so it
   needs no native hnswlib dependency).
1. `lsh_model` / `lsh_ann` — MLlib BucketedRandomProjectionLSH
   (random-hyperplane bucketing; approxNearestNeighbors for one query,
   approxSimilarityJoin for k-NN join). This is the "DataFrame-based
   batch index build + MLlib vector ops" line of BASELINE.json.
2. `ivf_build` / `ivf_search` — an IVF (inverted-file) index:
   KMeans centroids = coarse quantizer; search probes the `nprobe`
   nearest centroid partitions only. At 100 TB the corpus is written
   partitioned by centroid_id, so a query scans nprobe/k of the data —
   classic partition pruning, no custom index format needed.

Both are tested by recall@k against knn_exact (ANN results can't
hash-match a SQL oracle; SURVEY §5.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.functions.localrel import (
    local_df,
)
from distributed_vector_database_spark.functions.vector import squared_l2
from distributed_vector_database_spark.operators.knn import knn_exact


def _with_mllib_vector(df: DataFrame, vec_col: str, out_col: str = "features") -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(vec_col).cast("array<double>")))


def lsh_model(
    df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
):
    """Fit BucketedRandomProjectionLSH over the corpus. Returns
    (model, transformed_df) — the 'batch index build'."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    feat = _with_mllib_vector(df, vec_col)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(feat)
    return model, model.transform(feat).cache()


def lsh_ann(
    model,
    indexed: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    key_col: str = "vec_id",
) -> DataFrame:
    """Approx top-k for a single query via the fitted LSH model.
    Returns (key, score) with score = squared L2 to match the engine's
    distance contract (MLlib returns Euclidean; squared here)."""
    from pyspark.ml.linalg import Vectors

    q = Vectors.dense([float(v) for v in query_vec])
    res = model.approxNearestNeighbors(indexed, q, k, distCol="dist")
    return res.select(
        key_col, F.round(F.col("dist") * F.col("dist"), 6).alias("score")
    )


def lsh_full_probe_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact anchor for the LSH family (VERDICT r7 #5): a
    full-coverage parameterization of the BucketedRandomProjectionLSH
    path that degenerates to the exhaustive scan — the same pattern
    the other index families anchor with (IVF nprobe>=n_centroids,
    SQ/PQ rerank=corpus, HNSW ef>=shard rows).

    approxNearestNeighbors is single-probe (only rows sharing a hash
    bucket with the query are candidates), and floor(g.x / L) splits
    on the sign of the projection no matter how wide L is — so "wide
    buckets" alone leaves the corpus split across the hyperplane. The
    degenerate mode therefore augments every vector with one large
    constant coordinate M: g.[M, x] = M*g0 + g.x has the sign of g0
    for every row (M dominates), so the SINGLE hash table's single
    wide bucket holds the whole corpus and the candidate set is exact.
    L2 distances are UNCHANGED by the augmentation (the constant
    coordinate cancels), so the true-distance ranking MLlib computes
    over the full candidate set is the brute-force answer; a
    deterministic (score, key) truncation makes it hash-matchable
    against the SQL oracle."""
    aug = df.filter(F.col(vec_col).isNotNull()).withColumn(
        "__aug",
        F.concat(
            F.array(F.lit(1.0e9)), F.col(vec_col).cast("array<double>")
        ),
    )
    model, indexed = lsh_model(
        aug, vec_col="__aug", bucket_length=1.0e15, num_hash_tables=1
    )
    n = indexed.count()
    q_aug = [1.0e9, *[float(v) for v in query_vec]]
    full = lsh_ann(model, indexed, q_aug, k=max(int(n), k), key_col=key_col)
    return full.orderBy("score", key_col).limit(k)


def lsh_full_coverage_join(
    df: DataFrame,
    max_l2: float,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact anchor for the LSH similarity-JOIN leg: the same
    constant-coordinate augmentation as lsh_full_probe_topk puts every
    row in the single wide bucket, so approxSimilarityJoin's candidate
    set is ALL pairs and the radius filter makes it the exact
    all-pairs-within-L2 join (distances unchanged by the augmentation)
    — hash-matchable against a brute-force pair oracle. Degenerate
    mode only: the candidate set is O(n^2), which is the point of the
    anchor, not the serving path (the serving path is the banded
    approximate join / embedding_near_dup_at_scale)."""
    aug = df.filter(F.col(vec_col).isNotNull()).withColumn(
        "__aug",
        F.concat(
            F.array(F.lit(1.0e9)), F.col(vec_col).cast("array<double>")
        ),
    )
    model, indexed = lsh_model(
        aug, vec_col="__aug", bucket_length=1.0e15, num_hash_tables=1
    )
    return lsh_similarity_join(
        model, indexed, indexed, max_l2, key_a=key_col, key_b=key_col
    )


def lsh_similarity_join(
    model,
    indexed_a: DataFrame,
    indexed_b: DataFrame,
    max_l2: float,
    key_a: str = "vec_id",
    key_b: str = "vec_id",
) -> DataFrame:
    """Approx similarity join: all pairs within an L2 radius. The
    MLlib path for embedding near-dup at scale (vs the exact all-pairs
    oracle in dedup.embedding_near_dup)."""
    joined = model.approxSimilarityJoin(indexed_a, indexed_b, max_l2, distCol="dist")
    return joined.select(
        F.col(f"datasetA.{key_a}").alias("id_a"),
        F.col(f"datasetB.{key_b}").alias("id_b"),
        F.round(F.col("dist") * F.col("dist"), 6).alias("score"),
    ).filter(F.col("id_a") < F.col("id_b"))


def ivf_build(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample_rows: int | None = None,
    trainer: str = "mllib",
):
    """Build an IVF index: KMeans coarse quantizer + centroid assignment.

    Returns (centroids: list[(id, vector)], assigned_df with centroid_id).
    At scale, write `assigned` partitioned by centroid_id so probes are
    partition-pruned parquet reads.

    `train_sample_rows` trains the quantizer on a bounded sample and
    only ASSIGNS the full corpus (one transform pass) — the standard
    IVF practice (FAISS trains on ~a few hundred points per centroid);
    k-means on the full corpus is O(n*k*d) per iteration and pointless
    past the point where centroid estimates stop moving. None keeps
    exact full-corpus training (small inputs, bit-stable tests).

    trainer (r13, guide §1.2): "mllib" (default) is the distributed
    KMeans fit — unchanged behavior, and the quantizer every
    recall-evidencing contract query keeps (their output rows embed
    recall values calibrated against it). "numpy" trains DRIVER-SIDE
    (seeded numpy k-means++ best-of-n-init + Lloyd) on the collected
    training rows: one collect job plus milliseconds of BLAS, versus
    ~2 scheduler jobs per MLlib iteration (measured 3-6 s warm for a
    2000-row corpus). Equal inertia on the fixtures (477.2 vs 477.5),
    but different centroids — so it is opted into ONLY by callers
    whose output is provably centroid-independent (exact full-probe
    and radius queries, offline builds whose probes are re-ranked
    exactly); each flipped contract query is re-proven against the
    DuckDB oracle. Falls back to the distributed fit when the
    training set exceeds _NUMPY_TRAIN_CAP rows, so full-corpus
    training never collects an unbounded corpus. Assignment under
    "numpy" is the distributed vectorized kernel (ivf_assign — argmin
    semantics identical to KMeans.transform)."""
    train_df = df
    n = None
    if train_sample_rows is not None:
        n = df.count()
        if n > train_sample_rows:
            # seeded fraction sample, slightly over-drawn then limited
            frac = min(1.0, 1.05 * train_sample_rows / n)
            train_df = df.sample(fraction=frac, seed=seed).limit(
                train_sample_rows
            )
    use_numpy = trainer == "numpy"
    if use_numpy:
        n_train = (
            train_sample_rows
            if train_sample_rows is not None and n is not None
            and n > train_sample_rows
            else (n if n is not None else df.count())
        )
        if n_train > _NUMPY_TRAIN_CAP:
            use_numpy = False  # unbounded: keep the distributed fit
    if not use_numpy:
        from pyspark.ml.clustering import KMeans

        feat = _with_mllib_vector(df, vec_col)
        train = (
            feat
            if train_df is df
            else _with_mllib_vector(train_df, vec_col)
        )
        km = KMeans(
            k=n_centroids,
            seed=seed,
            featuresCol="features",
            predictionCol="centroid_id",
        )
        model = km.fit(train)
        assigned = model.transform(feat).drop("features")
        centroids = [
            (i, c.tolist()) for i, c in enumerate(model.clusterCenters())
        ]
        return centroids, assigned
    import numpy as np

    rows = train_df.select(vec_col).collect()
    if rows:
        X = np.asarray(
            [[float(x) for x in r[0]] for r in rows], dtype=np.float64
        )
        centers = _kmeans_numpy(X, n_centroids, seed)
        centroids = [(i, c.tolist()) for i, c in enumerate(centers)]
    else:
        centroids = []
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    return centroids, assigned


# collected-training-set ceiling for the driver-side fit: 500k x 64d
# float64 is ~256 MB — comfortably inside the 8g driver; above it the
# MLlib distributed fit takes over
_NUMPY_TRAIN_CAP = 500_000


def _kmeans_numpy(
    X, k: int, seed: int, max_iter: int = 20, tol: float = 1e-6,
    n_init: int | None = None,
):
    """Seeded, deterministic k-means: best of `n_init` k-means++
    initializations by final inertia (the quality insurance MLlib gets
    from k-means|| — a weak single init was measured to cost IVF
    probe recall on the sf0.01 fixture), Lloyd iterations, first-min
    tiebreaks (matching ivf_assign / KMeans.transform argmin
    semantics). Pure numpy on a bounded matrix. n_init auto-scales
    with problem size (10 restarts are free at contract-fixture sizes,
    one suffices where each Lloyd pass is n*k >= 1e8)."""
    import numpy as np

    if n_init is None:
        nk = len(X) * max(1, int(k))
        n_init = 10 if nk <= 1_000_000 else (3 if nk <= 100_000_000 else 1)
    best_inertia, best_centers = None, None
    for trial in range(max(1, n_init)):
        centers, inertia = _kmeans_single(
            X, k, seed + 1000003 * trial, max_iter, tol
        )
        if best_inertia is None or inertia < best_inertia:
            best_inertia, best_centers = inertia, centers
    return best_centers


def _kmeans_single(X, k: int, seed: int, max_iter: int, tol: float):
    import numpy as np

    n = len(X)
    k = max(1, min(int(k), n))
    rng = np.random.RandomState(seed % (2**32))
    # k-means++ seeding
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[j] = X[rng.randint(n)]
            continue
        centers[j] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(1))
    cnorm = np.einsum("ij,ij->i", centers, centers)
    assign = np.argmin(cnorm[None, :] - 2.0 * (X @ centers.T), axis=1)
    for _ in range(max_iter):
        moved = 0.0
        donated: set[int] = set()
        for j in range(k):
            mask = assign == j
            if mask.any():
                new_c = X[mask].mean(0)
            else:
                # empty cluster: grab the globally worst-fit point —
                # excluding points already donated this pass (ADVICE
                # r13: two clusters emptied in the same Lloyd pass
                # would otherwise claim the SAME donor, yielding
                # duplicate centroids and a permanently empty cell)
                dists = ((X - centers[assign]) ** 2).sum(1)
                if donated:
                    dists[list(donated)] = -np.inf
                far = int(np.argmax(dists))
                donated.add(far)
                new_c = X[far]
            moved = max(moved, float(((new_c - centers[j]) ** 2).sum()))
            centers[j] = new_c
        cnorm = np.einsum("ij,ij->i", centers, centers)
        new_assign = np.argmin(
            cnorm[None, :] - 2.0 * (X @ centers.T), axis=1
        )
        if moved <= tol and (new_assign == assign).all():
            assign = new_assign
            break
        assign = new_assign
    inertia = float(((X - centers[assign]) ** 2).sum())
    return centers, inertia


def ivf_auto_params(n_rows: int) -> tuple[int, int]:
    """Heuristic IVF sizing: n_centroids ~= sqrt(n) (the standard
    IVF-Flat rule — cells of ~sqrt(n) rows balance centroid-ranking
    cost against per-cell scan cost), clamped to [4, 65536]; nprobe ~=
    n_centroids / 8 (probe ~12% of cells), floor 2. Replaces the fixed
    8/16/64 guesses: at 1M rows this yields (1000, 125); at 100 TB /
    1e10 rows, (65536, 8192) — still one pruned read per probe."""
    import math

    n_centroids = max(4, min(int(math.sqrt(max(n_rows, 1))), 65536))
    nprobe = max(2, n_centroids // 8)
    return n_centroids, nprobe


def ivf_build_auto(
    df: DataFrame,
    vec_col: str = "embedding",
    seed: int = 42,
    imbalance_factor: float = 4.0,
    trainer: str = "mllib",
):
    """ivf_build with auto-sized n_centroids (ivf_auto_params) and an
    imbalance repair pass: any centroid holding more than
    `imbalance_factor` x the mean cell size (a skew hotspot — at scale
    one fat cell turns every probe that hits it into a near-full scan)
    is SPLIT by re-clustering just its members into ceil(size/mean)
    sub-centroids; other cells keep their assignment untouched.

    Returns (centroids, assigned, nprobe) — nprobe is the matching
    auto probe width."""
    import math

    n = df.count()
    k, nprobe = ivf_auto_params(n)
    # bounded quantizer training: ~128 points per centroid, capped —
    # full-corpus k-means at k=sqrt(n) would be O(n^1.5 * d) per pass
    sample = min(max(10_000, 128 * k), 500_000)
    centroids, assigned = ivf_build(
        df,
        n_centroids=k,
        vec_col=vec_col,
        seed=seed,
        train_sample_rows=(sample if n > sample else None),
        trainer=trainer,
    )
    if n == 0:
        return centroids, assigned, nprobe
    mean = n / k
    sizes = {
        r["centroid_id"]: r["cnt"]
        for r in assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    fat = [c for c, s in sizes.items() if s > imbalance_factor * mean]
    if not fat:
        return centroids, assigned, nprobe
    cent_map = dict(centroids)
    keep = assigned.filter(~F.col("centroid_id").isin(fat))
    out_centroids = [(i, v) for i, v in centroids if i not in fat]
    next_id = max(cent_map) + 1
    repaired = [keep]
    for cid in fat:
        members = assigned.filter(F.col("centroid_id") == cid).drop("centroid_id")
        sub_k = max(2, math.ceil(sizes[cid] / mean))
        sub_sample = min(max(10_000, 128 * sub_k), 200_000)
        sub_centroids, sub_assigned = ivf_build(
            members,
            n_centroids=sub_k,
            vec_col=vec_col,
            seed=seed,
            train_sample_rows=(sub_sample if sizes[cid] > sub_sample else None),
            trainer=trainer,
        )
        remap = {i: next_id + i for i, _ in sub_centroids}
        out_centroids.extend((remap[i], v) for i, v in sub_centroids)
        mapping = F.create_map(
            *[F.lit(x) for pair in remap.items() for x in pair]
        )
        repaired.append(
            sub_assigned.withColumn(
                "centroid_id", mapping[F.col("centroid_id")].cast("int")
            )
        )
        next_id += sub_k
    out = repaired[0]
    for part in repaired[1:]:
        out = out.unionByName(part)
    return sorted(out_centroids), out, nprobe


def ivf_write(
    assigned: DataFrame,
    path: str,
    centroids: list | None = None,
    cell_stats: list | None = None,
) -> None:
    """Persist an IVF-assigned corpus partitioned by centroid_id — the
    physical layout that makes probes partition-PRUNED parquet reads
    (only nprobe/k of the files are ever opened). At 100 TB this is the
    difference between an index probe and a full scan.

    Written with write_layout, so the layout's schema lands in
    `_schema.json` and every reader opens it with read_layout.

    Pass `centroids` to persist the quantizer WITH the layout
    (_quantizer.json) — the reference's save_index lifecycle
    (src/datanode/handler.py:46-88): a restarted process reloads the
    quantizer from the layout (ivf_read_quantizer) instead of needing
    the driver that trained it; incremental maintenance
    (ivf_split_fat_cells) rewrites it as cells split.

    Pass `cell_stats` (ivf_cell_stats) to persist the per-cell bounding
    radii too — the range-search analog of the quantizer: a restarted
    process serves exact radius queries (ivf_read_range_search) from
    the layout directory alone, and ivf_append keeps the radii wide
    enough as batches land."""
    write_layout(assigned, path, ["centroid_id"])
    if centroids is not None:
        _write_quantizer(path, centroids)
    if cell_stats is not None:
        _write_cell_stats(path, cell_stats)


SCHEMA_FILE = "_schema.json"


def write_layout(
    df: DataFrame, path: str, partition_cols: Sequence[str] = ()
) -> None:
    """Overwrite the parquet layout at `path` with `df` (partitioned by
    `partition_cols`) and its read schema as `_schema.json`, so
    read_layout names it instead of running a schema-inference Spark
    job per read. Data columns first, partition columns last: the order
    a parquet read reports. Every IVF, HNSW and codec layout writer
    goes through here."""
    import os as _os

    from pyspark.sql.types import StructType

    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    fields = [f for f in df.schema.fields if f.name not in partition_cols]
    fields += [df.schema[c] for c in partition_cols]
    tmp = _os.path.join(path, SCHEMA_FILE + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(StructType(fields).json())
    _os.replace(tmp, _os.path.join(path, SCHEMA_FILE))


def read_layout(spark: SparkSession, path: str) -> DataFrame:
    """The layout at `path` read with its persisted schema
    (write_layout) — no schema-inference job."""
    import json as _json
    import os as _os

    from pyspark.sql.types import StructType

    with open(_os.path.join(path, SCHEMA_FILE)) as fh:
        schema = StructType.fromJson(_json.load(fh))
    return spark.read.schema(schema).parquet(path)


def _write_quantizer(path: str, centroids: list) -> None:
    import json as _json
    import os as _os

    tmp = _os.path.join(path, "_quantizer.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(
            [[int(i), [float(x) for x in v]] for i, v in centroids], fh
        )
    _os.replace(tmp, _os.path.join(path, "_quantizer.json"))


def ivf_read_quantizer(path: str) -> list:
    """Reload the persisted quantizer (the reference's load_index
    restart path). Raises FileNotFoundError for layouts written
    without centroids."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_quantizer.json")) as fh:
        return [(int(i), list(map(float, v))) for i, v in _json.load(fh)]


def _write_cell_stats(path: str, stats: list) -> None:
    import json as _json
    import os as _os

    tmp = _os.path.join(path, "_cell_stats.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(
            [[int(i), float(r), int(n)] for i, r, n in stats], fh
        )
    _os.replace(tmp, _os.path.join(path, "_cell_stats.json"))


def ivf_read_cell_stats(path: str) -> list[tuple[int, float, int]]:
    """Reload the persisted per-cell bounding radii (ivf_cell_stats,
    written by ivf_write(cell_stats=)). Radii are UPPER BOUNDS on the
    true cell radius at read time: deletion can only shrink a cell, so
    a stale-after-delete radius keeps range pruning exact (just less
    tight), and ivf_append widens radii with each batch. `n` is
    as-of-the-last-refresh, informational only."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_cell_stats.json")) as fh:
        return [
            (int(i), float(r), int(n)) for i, r, n in _json.load(fh)
        ]


def ivf_widen_cell_stats(
    path: str,
    batch_assigned: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
) -> None:
    """Merge a just-appended batch into the persisted cell radii:
    new_radius(c) = max(old_radius(c), max distance of the batch's
    members of c to its centroid). O(batch) — one agg over the batch
    only, never the layout — so the maintained radii cost what the
    append costs. Cells the batch creates get fresh rows. No-op for
    layouts without a stats file."""
    import os as _os

    if not _os.path.exists(_os.path.join(path, "_cell_stats.json")):
        return
    old = {cid: (r, n) for cid, r, n in ivf_read_cell_stats(path)}
    for cid, r, n in ivf_cell_stats(batch_assigned, centroids, vec_col):
        if cid in old:
            old[cid] = (max(old[cid][0], r), old[cid][1] + n)
        else:
            old[cid] = (r, n)
    _write_cell_stats(path, [(c, r, n) for c, (r, n) in old.items()])


def ivf_split_fat_cells(
    spark: SparkSession,
    path: str,
    cap_factor: float = 4.0,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> int:
    """Incremental cell-balance maintenance for a persisted IVF layout:
    after enough appends, some cells grow fat (every probe that hits
    one degrades toward a full scan). Instead of the reference's FULL
    index rebuild every 200k puts (src/datanode/handler.py:240-251),
    split ONLY the cells holding more than `cap_factor` x the mean
    cell size: re-cluster just their members (sampled KMeans, k =
    ceil(size/mean)), rewrite those cell directories into the new
    sub-cells, and update the persisted quantizer. Cost follows the
    fat cells, never the corpus; untouched cells keep their files.
    Requires a layout written with centroids (ivf_write(centroids=)).
    Returns the number of cells split."""
    import math as _math
    import shutil as _shutil

    centroids = ivf_read_quantizer(path)
    stored = read_layout(spark, path)
    n = stored.count()
    if n == 0 or not centroids:
        return 0
    mean = n / len(centroids)
    sizes = {
        r["centroid_id"]: r["cnt"]
        for r in stored.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    fat = [c for c, s in sizes.items() if s > cap_factor * mean]
    if not fat:
        return 0
    cent_map = dict(centroids)
    next_id = max(cent_map) + 1
    out_centroids = [(i, v) for i, v in centroids if i not in fat]
    for cid in fat:
        members = (
            stored.filter(F.col("centroid_id") == cid).drop("centroid_id")
        )
        sub_k = max(2, _math.ceil(sizes[cid] / mean))
        sub_sample = min(max(10_000, 128 * sub_k), 200_000)
        sub_centroids, sub_assigned = ivf_build(
            members,
            n_centroids=sub_k,
            vec_col=vec_col,
            seed=seed,
            train_sample_rows=(
                sub_sample if sizes[cid] > sub_sample else None
            ),
        )
        remap = {i: next_id + i for i, _ in sub_centroids}
        out_centroids.extend((remap[i], v) for i, v in sub_centroids)
        mapping = F.create_map(
            *[F.lit(x) for pair in remap.items() for x in pair]
        )
        sub_assigned = sub_assigned.withColumn(
            "centroid_id", mapping[F.col("centroid_id")].cast("int")
        )
        # new sub-cell ids never collide with live dirs, so this is a
        # plain append of fresh directories followed by removing the
        # fat cell — no read-write cycle on any directory
        sub_assigned.write.mode("append").partitionBy("centroid_id").parquet(
            path
        )
        _shutil.rmtree(f"{path}/centroid_id={cid}", ignore_errors=True)
        next_id += sub_k
    _write_quantizer(path, out_centroids)
    # refresh persisted range-search radii for the rewritten cells:
    # fat-cell rows are gone, the new sub-cells get exact fresh radii
    # (one agg over JUST the split members — cost follows the fat
    # cells like the split itself). No-op without a stats file.
    import os as _os

    if _os.path.exists(_os.path.join(path, "_cell_stats.json")):
        kept = [
            (c, r, n)
            for c, r, n in ivf_read_cell_stats(path)
            if c not in set(fat)
        ]
        new_ids = [c for c, _ in out_centroids if c not in dict(centroids)]
        sub_rows = read_layout(spark, path).filter(
            F.col("centroid_id").isin(new_ids)
        )
        kept.extend(ivf_cell_stats(sub_rows, out_centroids, vec_col))
        _write_cell_stats(path, kept)
    return len(fat)


def ivf_assign(
    batch: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (euclidean argmin,
    first-min tiebreak — identical to MLlib KMeans.transform). The
    centroid matrix rides the closure (it is sqrt(n)-bounded by
    construction); one vectorized numpy pass per Arrow batch, zero
    shuffles."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([int(i) for i, _ in centroids], dtype=np.int64)
    cnorm = np.einsum("ij,ij->i", cmat, cmat)
    cols = batch.columns

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
            d = cnorm[None, :] - 2.0 * (mat @ cmat.T)
            out = pdf.copy()
            out["centroid_id"] = cids[np.argmin(d, axis=1)]
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    ) + ", centroid_id int"
    return batch.mapInPandas(assign, schema=schema).select(
        *cols, "centroid_id"
    )


def ivf_append(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    centroids: list,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    assume_absent: bool = False,
) -> None:
    """Index-on-put for the persisted IVF layout (the reference's live
    add on put, src/datanode/handler.py:253-261, minus the graph):
    assign the batch against the EXISTING quantizer (ivf_assign) and
    append files into only the affected centroid partitions — O(batch),
    untouched cells keep their files.

    UPSERT semantics: keys already present are physically removed
    first (ivf_delete), so a re-put replaces its row. That pre-delete
    also makes the operation replay-idempotent even across the
    crash window (files appended, marker unwritten): the replay
    deletes the crashed attempt's rows before re-appending. The
    batch_id marker (foreachBatch callers) just skips the work on a
    clean replay.

    `assume_absent=True` skips the existing-key check and pre-delete
    entirely — for callers that ALREADY deleted every batch key from
    the layout (the changelog fold unions put+delete victims into one
    ivf_delete rewrite; a second upsert pre-delete here would rewrite
    the affected cells twice per batch)."""
    import os as _os

    if versioned.batch_applied(path, batch_id):
        return
    # a null vector has no cell — appending it would crash ivf_assign's
    # np.stack on the executors, so drop such rows up front
    batch = batch.filter(F.col(vec_col).isNotNull())
    # appended files must keep the LAYOUT's vector element type: a
    # float-layout with double-appended files fails every later read
    # with PARQUET_COLUMN_DATA_TYPE_MISMATCH (parquet has no schema
    # merge across element widths) — found by the r8 served-probe
    # bench, where a changelog union had widened float to double
    stored = read_layout(spark, path)
    stored_vec_type = dict(stored.dtypes)[vec_col]
    batch = batch.withColumn(vec_col, F.col(vec_col).cast(stored_vec_type))
    if not assume_absent:
        # keys already stored, found with a broadcast SEMI JOIN — never
        # a collected isin() list: a 100k-key batch as literals makes a
        # multi-minute Catalyst predicate (the r8 1M maintenance smoke
        # measured the fold 10x slower than a full rebuild before this)
        existing = stored.select(key_col).join(
            F.broadcast(batch.select(key_col).distinct()),
            key_col,
            "left_semi",
        )
        if existing.limit(1).count():
            ivf_delete(spark, path, existing, key_col=key_col)
    # keep EVERY batch column (metadata rides along for filtered
    # search) — callers append batches with the layout's schema
    assigned = ivf_assign(batch, centroids, vec_col)
    # a fully-emptied layout (ivf_delete of every row) is persisted as
    # one flat schema-marker file; clear it before the partitioned
    # append so root-level data files never coexist with partition dirs
    if not any(
        e.startswith("centroid_id=") for e in _os.listdir(path)
    ):
        for e in _os.listdir(path):
            fp = _os.path.join(path, e)
            # remove only the flat marker's DATA files (part-*.parquet
            # + _SUCCESS); every other _-prefixed root entry is layout
            # metadata (_quantizer.json, _cell_stats.json,
            # _applied_batches/) that must survive a transient empty
            if _os.path.isfile(fp) and (
                not e.startswith("_") or e == "_SUCCESS"
            ):
                _os.remove(fp)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(path)
    # layouts carrying range-search radii stay servable: widen the
    # persisted per-cell bounds with this batch (O(batch); no-op
    # without a stats file). Deletes never widen, so the pre-delete
    # above needs no counterpart.
    ivf_widen_cell_stats(path, assigned, centroids, vec_col)
    versioned.mark_batch_applied(path, batch_id)


def ivf_delete(
    spark: SparkSession,
    path: str,
    keys: "list | DataFrame",
    key_col: str = "vec_id",
) -> int:
    """Physically remove vectors from a persisted IVF layout in place.

    The reference can only SOFT-delete from its graph index
    (src/datanode/handler.py:43 — "HNSW不支持物理删除" — tombstones
    filtered at serve time, :99) and pays a periodic FULL index rebuild
    to reclaim (:90-118). IVF has no cross-row graph state, so the
    Spark layout does better: the victims' centroid partitions are
    found with one pushed key filter, ONLY those partitions rewrite,
    untouched cells keep their files, and a cell left empty has its
    directory removed. Cost follows the deletion (O(affected cells)),
    never the corpus; searches afterwards are exact over the remaining
    data with no tombstone filtering or recall loss. Returns the
    number of rows removed.

    The rewrite lands in a SIDE directory and the affected cell dirs
    are swapped in by rename — one read + one write of the affected
    cells. (The r7 shape localCheckpointed the keep-side before a
    dynamic-partition overwrite to break the read-write cycle: that
    materialized every surviving row TWICE — checkpoint then write —
    and the 1M maintenance smoke measured the fold slower than a full
    rebuild. The swap needs no lineage break because it never writes
    the directory it reads.) The swap is per-cell-atomic, not
    cross-cell-atomic — same exposure as dynamic partition overwrite;
    the store's versioned rebuild is the atomic path.

    `keys` is a Python list OR a single-column DataFrame. Large victim
    sets MUST come as a DataFrame: the key set enters the plan as a
    broadcast semi/anti join, never a collected isin() literal list —
    a 100k-literal predicate costs Catalyst minutes (r8 1M maintenance
    smoke) and caps out at the driver, while the join form is the
    same plan at 100 TB. The anti join also keeps null-key rows for
    free (nulls never match a join key; they are never victims)."""
    import os as _os
    import shutil
    import uuid as _uuid

    stored = read_layout(spark, path)
    if isinstance(keys, DataFrame):
        kdf = keys.selectExpr(f"{keys.columns[0]} as {key_col}").distinct()
    else:
        ids = list(keys)
        if not ids:
            return 0
        key_type = dict(stored.dtypes)[key_col]
        kdf = local_df(
            spark, [(k,) for k in ids], f"{key_col} {key_type}"
        ).distinct()
    victim = stored.join(F.broadcast(kdf), key_col, "left_semi").cache()
    try:
        # one grouped pass gives the affected cells AND the removed
        # count (r13: was a distinct-collect plus a separate count —
        # two jobs over the cached victims)
        cell_rows = (
            victim.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        cells = [r["centroid_id"] for r in cell_rows]
        if not cells:
            return 0
        removed = sum(r["__n"] for r in cell_rows)
        keep = (
            read_layout(spark, path)
            .filter(F.col("centroid_id").isin(cells))
            .join(F.broadcast(kdf), key_col, "left_anti")
        )
        side = f"{path}__rewrite_{_uuid.uuid4().hex[:12]}"
        try:
            keep.write.mode("overwrite").partitionBy("centroid_id").parquet(
                side
            )
            live = {
                d for d in _os.listdir(side) if d.startswith("centroid_id=")
            }
            remaining = any(
                d.startswith("centroid_id=")
                and d not in {f"centroid_id={c}" for c in cells}
                for d in _os.listdir(path)
            )
            if not live and not remaining:
                # every row of the layout deleted: leave one empty
                # data file, so the layout still reads (e.g. ivf_append).
                # Built lineage-free from the schema (a frame derived
                # from `keep` would read the very path it overwrites);
                # centroid_id is an ordinary column, so it round-trips
                # The marker is written to a SIDE dir and only its
                # data files move in — an overwrite of the layout root
                # would delete _quantizer.json/_cell_stats.json/
                # _applied_batches and permanently strand the restart
                # path of a layout that merely transiently emptied
                # (r8 ADVICE medium)
                empty = spark.createDataFrame([], keep.schema)
                mside = f"{path}__empty_{_uuid.uuid4().hex[:12]}"
                try:
                    empty.coalesce(1).write.mode("overwrite").parquet(
                        mside
                    )
                    for c in cells:
                        shutil.rmtree(
                            f"{path}/centroid_id={c}", ignore_errors=True
                        )
                    for e in _os.listdir(mside):
                        if not e.startswith("_"):
                            _os.rename(
                                _os.path.join(mside, e),
                                _os.path.join(path, e),
                            )
                finally:
                    shutil.rmtree(mside, ignore_errors=True)
            else:
                for c in cells:
                    shutil.rmtree(
                        f"{path}/centroid_id={c}", ignore_errors=True
                    )
                for d in live:
                    _os.rename(
                        _os.path.join(side, d), _os.path.join(path, d)
                    )
        finally:
            shutil.rmtree(side, ignore_errors=True)
        return int(removed)
    finally:
        victim.unpersist()


def ivf_read_search(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    extra_cols: Sequence[str] = (),
    selectivity: float | None = None,
) -> DataFrame:
    """Serve top-k from a persisted IVF layout using its PERSISTED
    quantizer (ivf_write(centroids=)) — the restart path: nothing but
    the layout directory is needed, mirroring hnsw_read_search and the
    reference's load_index + knn_query lifecycle."""
    return ivf_search(
        spark,
        ivf_read_quantizer(path),
        read_layout(spark, path),
        query_vec,
        k=k,
        nprobe=nprobe,
        key_col=key_col,
        vec_col=vec_col,
        predicate=predicate,
        extra_cols=extra_cols,
        selectivity=selectivity,
    )


def ivf_read_range_search(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    radius: float,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Serve an exact radius query from a persisted IVF layout using
    its PERSISTED quantizer and cell radii (ivf_write(centroids=,
    cell_stats=)) — the restart path: nothing but the layout directory
    is needed. Radii maintained by ivf_append/ivf_split_fat_cells stay
    upper bounds (see ivf_read_cell_stats), so pruning remains exact
    across the whole maintenance lifecycle."""
    return ivf_range_search(
        spark,
        ivf_read_quantizer(path),
        read_layout(spark, path),
        query_vec,
        radius,
        cell_radii=ivf_read_cell_stats(path),
        key_col=key_col,
        vec_col=vec_col,
        predicate=predicate,
        extra_cols=extra_cols,
    )


def ivf_read_probe(
    spark: SparkSession, path: str, probe_ids: list[int]
) -> DataFrame:
    """Read only the probed centroid partitions (partition pruning —
    verify with plans.explain: the scan shows PartitionFilters on
    centroid_id and touches nprobe directories)."""
    return read_layout(spark, path).filter(F.col("centroid_id").isin(probe_ids))


def ivf_cell_stats(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> list[tuple[int, float, int]]:
    """Per-cell bounding statistics: (centroid_id, radius, n) where
    radius = max L2 distance from any member to its centroid.

    One aggregation pass over the corpus (broadcast the tiny centroid
    table, codegen distance, max per cell) — computed once at BUILD
    time and reused by every range query, exactly like the quantizer
    itself. At 100 TB this is a map-side-combined agg producing
    n_centroids rows (≤65536 by ivf_auto_params), so collecting it to
    the driver is bounded regardless of corpus size.

    The radii turn the IVF layout into a ball-cover: the triangle
    inequality gives d(q, p) >= d(q, c) - radius_c for every member p
    of cell c, so a range query can PROVE entire cells empty of
    results without reading them (ivf_range_search)."""
    spark = assigned.sparkSession
    cent = local_df(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in centroids],
        "centroid_id int, _cent array<double>",
    )
    rows = (
        assigned.filter(F.col(vec_col).isNotNull())
        .join(F.broadcast(cent), "centroid_id")
        .select(
            "centroid_id",
            F.sqrt(squared_l2(vec_col, F.col("_cent"))).alias("_d"),
        )
        .groupBy("centroid_id")
        .agg(F.max("_d").alias("radius"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return [(int(r["centroid_id"]), float(r["radius"]), int(r["n"])) for r in rows]


def ivf_range_search(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    assigned: DataFrame,
    query_vec: Sequence[float],
    radius: float,
    cell_radii: list[tuple[int, float, int]] | None = None,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT range search (every vector within L2 `radius` of the
    query) over the IVF layout, with triangle-inequality cell pruning.

    The reference exposes only top-k with a post-hoc distance threshold
    (src/vector_db.thrift:27 `threshold`, declared on the dead filter
    path) — a k-bounded range search that silently truncates dense
    neighborhoods. This is the real thing: unbounded result set, yet
    never a full scan. For each cell c with bounding radius R_c
    (ivf_cell_stats), the triangle inequality gives
        min_{p in c} d(q, p) >= d(q, c) - R_c,
    so any cell with d(q, c) - R_c > radius provably contains no
    result and is skipped WITHOUT reading it. The surviving cells are
    read through the pushed centroid_id filter (partition pruning on a
    persisted layout), scored with the codegen distance kernel, and
    filtered on the rounded score — bit-identical to a brute-force SQL
    oracle, because pruning only removes provably-empty cells.

    Centroid ranking is driver-side numpy over the (bounded) quantizer,
    like ivf_search. A small slack (1e-3) widens the prune test so the
    6-dp score rounding at the filter can never disagree with the
    unrounded geometry at the boundary. Scores are SQUARED L2 (the
    engine-wide convention, hnswlib space='l2'); `radius` is the true
    L2 distance, so the filter is score <= radius².

    At 100 TB: cells are parquet partition dirs, the prune test is
    O(n_centroids) on the driver, and the scan touches only cells whose
    balls intersect the query ball — for a selective radius that is the
    same nprobe-like cost as top-k probes. `cell_radii` comes from the
    build-time ivf_cell_stats pass (persist it with the quantizer);
    recomputing per query would be a full corpus pass and is only the
    default for convenience at fixture scale."""
    import numpy as np

    if cell_radii is None:
        cell_radii = ivf_cell_stats(assigned, centroids, vec_col=vec_col)
    rad_by_id = {cid: r for cid, r, _ in cell_radii}
    q = np.asarray([float(v) for v in query_vec])
    keep_cells = []
    for cid, cvec in centroids:
        d_qc = float(np.sqrt(((np.asarray(cvec) - q) ** 2).sum()))
        # no stats row usually means an empty cell, but stats may also
        # predate the cell (no widen pass ran) — probing is the only
        # EXACT choice either way, and probing an empty cell is free
        if cid not in rad_by_id or (
            d_qc - rad_by_id[cid] <= float(radius) + 1e-3
        ):
            keep_cells.append(int(cid))
    if not keep_cells:
        return (
            assigned.select(key_col, *extra_cols)
            .withColumn("score", F.lit(0.0))
            .limit(0)
        )
    pruned = assigned.filter(F.col("centroid_id").isin(keep_cells))
    if predicate is not None:
        pruned = pruned.filter(predicate)
    scored = (
        pruned.filter(F.col(vec_col).isNotNull())
        .select(
            key_col,
            *extra_cols,
            F.round(squared_l2(vec_col, list(query_vec)), 6).alias("score"),
        )
        .filter(F.col("score") <= float(radius) * float(radius))
    )
    return scored.orderBy("score", key_col)


def ivf_range_join(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    assigned: DataFrame,
    radius: float,
    cell_radii: list[tuple[int, float, int]] | None = None,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs-within-L2-radius JOIN via ball-cover cell-pair
    pruning — the scale path for which `lsh_similarity_join` is the
    approximate shortcut and `lsh_full_coverage_join` the O(n²)
    anchor.

    For cells c1, c2 with bounding radii R1, R2 (ivf_cell_stats), the
    triangle inequality gives min-pair-distance ≥ d(centroid1,
    centroid2) − R1 − R2, so any cell PAIR with that bound > radius is
    provably empty of results and never co-located. The surviving
    pairs become a tiny broadcast table; one shuffle groups each
    admitted pair's rows into ONE task, and a blocked numpy GEMM (the
    ivf_knn_join kernel's arithmetic, which hash-matches the SQL fold
    oracle) scores |c1|×|c2| candidates inside the task, emitting only
    in-radius pairs — the n²-row intermediate that a join-then-filter
    plan would materialize through the shuffle never exists. Same-cell
    pairs dedup on key<; cross-cell pairs appear once (c1 ≤ c2) and
    are id-normalized in the kernel. Task memory is bounded: cells are
    ~sqrt(n) rows and the A-side is chunked against the B matrix.

    At 100 TB: cells are ~sqrt(n) rows by ivf_auto_params, the pair
    prune is driver-side numpy over ≤ n_centroids² (vectorized; at the
    65536-cell cap that is one 4e9-element matrix op — chunk it or
    coarse-grid the centroids first if memory-bound), and the
    candidate work is Σ |c1|×|c2| over intersecting pairs only — for a
    selective radius on clustered data that is near-linear in n, vs
    the n² brute force. Output: (id_a, id_b, score) with id_a < id_b,
    score = squared L2 rounded 6dp, filter score ≤ radius² — the same
    rounding contract as ivf_range_search, so a SQL oracle
    hash-matches."""
    import numpy as np

    key_type = dict(assigned.dtypes)[key_col]
    empty_schema = f"id_a {key_type}, id_b {key_type}, score double"
    if cell_radii is None:
        cell_radii = ivf_cell_stats(assigned, centroids, vec_col=vec_col)
    rad_by_id = {cid: r for cid, r, _ in cell_radii}
    live = [(cid, v) for cid, v in centroids if cid in rad_by_id]
    if not live:
        return spark.createDataFrame([], empty_schema)
    ids = np.asarray([cid for cid, _ in live])
    cmat = np.asarray([v for _, v in live], dtype=np.float64)
    radv = np.asarray([rad_by_id[cid] for cid, _ in live])
    # pairwise centroid distances, vectorized; keep i <= j pairs whose
    # balls can intersect within the query radius (+ rounding slack)
    d2 = (
        (cmat**2).sum(axis=1)[:, None]
        - 2.0 * (cmat @ cmat.T)
        + (cmat**2).sum(axis=1)[None, :]
    )
    d = np.sqrt(np.maximum(d2, 0.0))
    bound = radv[:, None] + radv[None, :] + float(radius) + 1e-3
    ii, jj = np.nonzero(np.triu(d <= bound))
    pairs = [(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)]
    if not pairs:
        return spark.createDataFrame([], empty_schema)
    import pandas as pd

    pairs_df = local_df(
        spark,
        [(i, ca, cb) for i, (ca, cb) in enumerate(pairs)],
        "__pid int, __ca int, __cb int",
    )
    base = assigned.filter(F.col(vec_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        "centroid_id",
    )
    a_side = base.join(
        F.broadcast(pairs_df),
        base["centroid_id"] == pairs_df["__ca"],
    ).select("__pid", "__ca", "__cb", "__k", "__v", F.lit(0).alias("__side"))
    b_side = base.join(
        F.broadcast(pairs_df),
        base["centroid_id"] == pairs_df["__cb"],
    ).select("__pid", "__ca", "__cb", "__k", "__v", F.lit(1).alias("__side"))
    both = a_side.unionByName(b_side)
    r2 = float(radius) * float(radius)

    def score_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        self_pair = bool(pdf["__ca"].iat[0] == pdf["__cb"].iat[0])
        A = pdf[pdf["__side"] == 0]
        B = A if self_pair else pdf[pdf["__side"] == 1]
        if A.empty or B.empty:
            return empty
        bmat = np.stack([np.asarray(x) for x in B["__v"].to_numpy()])
        bk = B["__k"].to_numpy()
        bn2 = (bmat**2).sum(1)
        out = []
        for a0 in range(0, len(A), 1024):
            ach = A.iloc[a0 : a0 + 1024]
            amat = np.stack([np.asarray(x) for x in ach["__v"].to_numpy()])
            ak = ach["__k"].to_numpy()
            d2 = np.round(
                np.maximum(
                    (amat**2).sum(1, keepdims=True)
                    - 2.0 * (amat @ bmat.T)
                    + bn2[None, :],
                    0.0,
                ),
                6,
            )
            hit = d2 <= r2
            if self_pair:
                hit &= ak[:, None] < bk[None, :]
            ri, ci = np.nonzero(hit)
            if len(ri):
                ka, kb = ak[ri], bk[ci]
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(ka, kb),
                            "id_b": np.maximum(ka, kb),
                            "score": d2[ri, ci],
                        }
                    )
                )
        return pd.concat(out) if out else empty

    scored = both.groupBy("__pid").applyInPandas(score_pair, empty_schema)
    return scored.orderBy("id_a", "id_b")


def ivf_probe(
    centroids: list[tuple[int, list[float]]],
    query_vec: Sequence[float],
    nprobe: int,
    selectivity: float | None = None,
) -> list[int]:
    """The cell ids an IVF query reads: centroids ranked by squared L2
    to the query (driver-side — the centroid count is tiny by
    construction), nearest first, the first `nprobe` kept. Every IVF
    search (flat, PQ, BQ, MRL, the store's index) probes through here.

    `selectivity` (the fraction of rows a filter keeps) widens a
    FILTERED probe to min(cells, max(2·nprobe, ceil(nprobe / sel))),
    with sel floored at 1/cells: the 2x floor is the reference's
    over-fetch factor (src/datanode/handler.py:364), and the 1/sel
    factor restores the candidate depth the filter removes."""
    import math as _math

    import numpy as np

    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    cmat = np.asarray([c for _, c in centroids], dtype=np.float64)
    d = ((cmat - q) ** 2).sum(axis=1)
    width = nprobe
    if selectivity is not None:
        sel = max(float(selectivity), 1.0 / max(len(centroids), 1))
        width = min(
            len(centroids), max(2 * nprobe, _math.ceil(nprobe / sel))
        )
    return [int(centroids[i][0]) for i in np.argsort(d)[:width]]


def predicate_selectivity(df: DataFrame, predicate) -> float:
    """Fraction of `df`'s rows `predicate` keeps (1.0 for an empty
    frame; a row it maps to null is not kept), for the filtered-probe
    width of ivf_probe. Both counts are observed metrics of one scan of
    the predicate's columns into the no-op sink: one Spark job and no
    shuffle, where a global aggregate runs as two jobs under adaptive
    execution."""
    from pyspark.sql import Observation

    obs = Observation()
    (
        df.select(F.when(predicate, 1).alias("kept"))
        .observe(obs, F.count(F.lit(1)).alias("n"), F.count("kept").alias("kept"))
        .write.format("noop").mode("overwrite").save()
    )
    m = obs.get
    return m["kept"] / m["n"] if m["n"] else 1.0


def ivf_search(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    assigned: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    extra_cols: Sequence[str] = (),
    selectivity: float | None = None,
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query (driver-side —
    centroid count is tiny by construction), filter the corpus to the
    nprobe nearest centroid partitions, then exact top-k inside them.

    The centroid filter is a pushed-down IN predicate → partition
    pruning when the corpus is written partitioned by centroid_id.

    `predicate` (a Column) supports FILTERED ANN: the metadata filter
    is applied INSIDE the probed partitions (pushed to the scan — never
    filter-after-search), and the probe width SCALES WITH THE FILTER'S
    SELECTIVITY (ivf_probe): the wider probe restores the candidate
    depth a selective filter removes, while total scanned rows stay
    ~ nprobe x cell_size because the pushed predicate prunes each
    probed cell by the same factor. Pass
    `selectivity` when known (at 100 TB, from table stats); when None
    it is estimated with a metadata-only count (cheap: no vector column
    is read, parquet column stats carry most predicates)."""
    if predicate is not None and selectivity is None:
        selectivity = predicate_selectivity(assigned, predicate)
    probe_ids = ivf_probe(
        centroids, query_vec, nprobe,
        selectivity=selectivity if predicate is not None else None,
    )
    pruned = assigned.filter(F.col("centroid_id").isin(probe_ids))
    if predicate is not None:
        pruned = pruned.filter(predicate)
    return knn_exact(
        pruned, query_vec, k, key_col=key_col, vec_col=vec_col, extra_cols=extra_cols
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "query_id",
    query_vec: str = "query_vec",
    corpus_key: str = "vec_id",
    corpus_vec: str = "embedding",
    target_cluster_rows: int = 4096,
    nprobe: int = 2,
    train_sample: int = 100_000,
    lloyd_iters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Large-x-large approximate k-NN JOIN: both sides routed through a
    shared coarse quantizer, so NEITHER side is collected, broadcast,
    or shuffled against the whole other side.

    knn.knn_join broadcasts the query side into every corpus partition
    — correct for queries ≪ corpus, guarded by max_query_rows. This is
    the path past that guard: millions of queries against billions of
    corpus rows.

    1. Train k-means centroids (L2) on a bounded corpus sample
       (driver-side Lloyd, FAISS-style).
    2. Route every corpus row to its nearest centroid, every query to
       its `nprobe` nearest (replication factor nprobe on the small
       per-row query record only).
    3. One shuffle co-locates each centroid's corpus rows with the
       queries probing it; a vectorized kernel computes per-query local
       top-k inside the group (squared L2, the engine's score
       contract).
    4. A window keeps the global top-k per query over ≤ nprobe*k
       candidates each.

    nprobe = n_clusters degenerates to the exact join (recall 1,
    asserted in tests); at scale nprobe≈2-8 trades recall for probes
    exactly like ivf_search."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    from distributed_vector_database_spark.operators.knn import SCORE_DECIMALS

    c_side = corpus.filter(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_key).alias("id"),
        F.col(corpus_vec).cast("array<double>").alias("v"),
    )
    q_side = queries.filter(F.col(query_vec).isNotNull()).select(
        F.col(query_key).alias("id"),
        F.col(query_vec).cast("array<double>").alias("v"),
    )
    # count NON-NULL vectors: an all-null corpus must return empty, not
    # crash centroid training on an empty sample
    n = c_side.count()
    if n == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_key} long, {corpus_key} long, score double, rank int"
        )
    n_clusters = max(1, math.ceil(n / int(target_cluster_rows)))

    # -- 1. centroids from a bounded corpus sample (plain L2 Lloyd) --------
    sample = c_side.select("v")
    if n > train_sample:
        sample = sample.sample(fraction=train_sample / n, seed=seed)
    smat = np.asarray([r["v"] for r in sample.collect()], dtype=np.float64)
    if smat.shape[0] == 0:
        # Bernoulli sampling can return zero rows on a small corpus —
        # fall back to a bounded deterministic prefix
        smat = np.asarray(
            [r["v"] for r in c_side.select("v").limit(min(n, train_sample)).collect()],
            dtype=np.float64,
        )
    rng = np.random.default_rng(seed)
    k_eff = min(n_clusters, smat.shape[0])
    # clamp to the number of centroids actually TRAINED (k_eff can be
    # < n_clusters when the bounded sample is small): argpartition with
    # kth >= k_eff would raise in every executor
    nprobe = max(1, min(int(nprobe), k_eff))
    cent = smat[rng.choice(smat.shape[0], size=k_eff, replace=False)]
    for _ in range(lloyd_iters):
        d2 = ((smat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2) \
            if smat.shape[0] * k_eff * smat.shape[1] < 5e7 else None
        if d2 is None:
            # large sample: distance via the expanded form, blockwise
            d2 = (
                (smat**2).sum(1, keepdims=True)
                - 2.0 * (smat @ cent.T)
                + (cent**2).sum(1)[None, :]
            )
        assign = np.argmin(d2, axis=1)
        for ci in range(k_eff):
            members = smat[assign == ci]
            if len(members):
                cent[ci] = members.mean(axis=0)
    cent_list = cent.tolist()

    # -- 2. route both sides ------------------------------------------------
    def route(side_label, probes):
        def fn(batches):
            cmat = np.asarray(cent_list, dtype=np.float64)
            csq = (cmat**2).sum(1)
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack([np.asarray(x) for x in pdf["v"].to_numpy()])
                d2 = (mat**2).sum(1, keepdims=True) - 2.0 * (mat @ cmat.T) + csq
                if probes == 1:
                    top = np.argmin(d2, axis=1)[:, None]
                else:
                    top = np.argpartition(d2, probes - 1, axis=1)[:, :probes]
                ids = np.repeat(pdf["id"].to_numpy(), probes)
                vs = pdf["v"].to_numpy().repeat(probes)
                yield pd.DataFrame(
                    {
                        "cluster": top.ravel().astype("int32"),
                        "side": side_label,
                        "id": ids,
                        "v": vs,
                    }
                )

        return fn

    routed = c_side.mapInPandas(
        route(0, 1), schema="cluster int, side int, id long, v array<double>"
    ).unionByName(
        q_side.mapInPandas(
            route(1, nprobe), schema="cluster int, side int, id long, v array<double>"
        )
    )

    # -- 3. per-cluster local top-k kernel ---------------------------------
    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "qid": pd.Series(dtype="int64"),
                "cid": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        # corpus sorted by id: the stable argsort below then resolves
        # rounded-score ties to the LOWER id, matching the engine's
        # (score, key) ordering contract
        c = pdf[pdf["side"] == 0].sort_values("id")
        qs = pdf[pdf["side"] == 1]
        if c.empty or qs.empty:
            return empty
        cmat = np.stack([np.asarray(x) for x in c["v"].to_numpy()])
        cids = c["id"].to_numpy()
        out = []
        # chunk queries so the distance block stays bounded
        for q0 in range(0, len(qs), 1024):
            qchunk = qs.iloc[q0 : q0 + 1024]
            qmat = np.stack([np.asarray(x) for x in qchunk["v"].to_numpy()])
            d2 = (
                (qmat**2).sum(1, keepdims=True)
                - 2.0 * (qmat @ cmat.T)
                + (cmat**2).sum(1)[None, :]
            )
            d2 = np.round(np.maximum(d2, 0.0), SCORE_DECIMALS)
            kk = min(k, d2.shape[1])
            top = np.argsort(d2, axis=1, kind="stable")[:, :kk]
            qids = np.repeat(qchunk["id"].to_numpy(), kk)
            out.append(
                pd.DataFrame(
                    {
                        "qid": qids,
                        "cid": cids[top.ravel()],
                        "score": np.take_along_axis(d2, top, axis=1).ravel(),
                    }
                )
            )
        return pd.concat(out) if out else empty

    local = routed.groupBy("cluster").applyInPandas(
        local_topk, schema="qid long, cid long, score double"
    )

    # -- 4. global top-k per query over <= nprobe*k candidates -------------
    w = Window.partitionBy("qid").orderBy("score", "cid")
    return (
        local.dropDuplicates(["qid", "cid"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_key),
            F.col("cid").alias(corpus_key),
            "score",
            "rank",
        )
    )


def centroid_assign_expr(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Nearest-centroid assignment as PURE codegen expressions — the
    declarative dual of ivf_assign's numpy kernel, for topic/cluster
    labeling jobs where every row's assignment is the OUTPUT (not an
    internal index-routing step) and must be oracle-checkable.

    Per row: squared-L2 to each centroid as a (dist, topic) struct;
    array_min picks the minimum with struct ordering supplying the
    (smallest distance, then smallest topic id) tie-break. Distances
    round to 6dp before the argmin so the choice is reproducible in
    ANSI SQL. Zero shuffles, zero Python — a map-only pass that scales
    to any corpus; |centroids| is bounded (the expression tree is
    O(centroids * dim)), so use ivf_assign for large codebooks."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    v = F.col(vec_col).cast("array<double>")
    entries = []
    for topic, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        dist = F.round(
            F.aggregate(
                F.zip_with(v, carr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        entries.append(
            F.struct(dist.alias("dist"), F.lit(topic).alias("topic"))
        )
    best = F.array_min(F.array(*entries))
    return df.select(
        F.col(id_col),
        best["topic"].alias("topic"),
        best["dist"].alias("dist"),
        *extra_cols,
    )


def embedding_outliers(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    max_dist: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_norm: float = 1e-6,
) -> DataFrame:
    """Embedding-quality gate: rows whose vector is DEGENERATE (norm
    below `min_norm` — a zeroed/failed encoder output) or whose
    nearest-centroid distance exceeds `max_dist` (far outside every
    cluster of the corpus's structure — encoder drift, corrupt input,
    or genuine novelty that near-dup/IVF assumptions won't hold for).
    The embedding-side sibling of textops' quality_filter: run it
    before indexing so junk vectors never pollute cells/graphs.

    Same zero-shuffle map-only shape as centroid_assign_expr;
    distances rounded 6dp so the flag threshold is oracle-exact.
    Returns (id, topic, dist, reason) for flagged rows only."""
    v = F.col(vec_col).cast("array<double>")
    norm2 = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    assigned = centroid_assign_expr(
        df.withColumn("__norm2", norm2),
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        extra_cols=("__norm2",),
    )
    degenerate = F.col("__norm2") < F.lit(float(min_norm) ** 2)
    far = F.col("dist") > F.lit(float(max_dist))
    return (
        assigned.filter(degenerate | far)
        .select(
            id_col,
            "topic",
            "dist",
            F.when(degenerate, F.lit("degenerate_norm"))
            .otherwise(F.lit("far_from_centroid"))
            .alias("reason"),
        )
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "query_id",
    query_vec: str = "query_vec",
    corpus_key: str = "vec_id",
    corpus_vec: str = "embedding",
    label_col: str = "label",
    use_ivf: bool = False,
    **join_kw,
) -> DataFrame:
    """k-NN label propagation: predict a label for every query vector
    by MAJORITY VOTE of its k nearest LABELED corpus neighbors — the
    classifier-bootstrapping primitive of modern pretraining pipelines
    (label a seed set, propagate to the corpus, train the cheap
    fastText-style filter on the propagated labels; FineWeb-Edu /
    DCLM shape). The reference stores a `label` per vector
    (src/datanode/handler.py:228 metadata) but offers no way to use
    it; this closes that loop.

    Plan: null-labeled corpus rows are dropped BEFORE the distance
    kernel (they cannot vote). The neighbor set comes from knn_join
    (exact, query side broadcast — queries ≪ corpus) or, with
    use_ivf=True, from ivf_knn_join (large×large, shared coarse
    quantizer, neither side broadcast). Labels are attached by
    joining the (n_queries × k)-row neighbor set BACK to the corpus:
    broadcast for the exact path (bounded by max_query_rows × k), a
    plain shuffle join for the IVF path where the neighbor set itself
    is corpus-sized. The vote is one groupBy over n_queries × k rows.

    Deterministic: neighbor ranking ties break on corpus key (the
    engine-wide contract), vote ties break on the SMALLER label.
    Returns (query_key, pred_label, votes, confidence) with
    confidence = votes / neighbors_found (≤ k when the labeled corpus
    is small), rounded 6dp for oracle parity."""
    from pyspark.sql.window import Window

    from distributed_vector_database_spark.operators.knn import knn_join

    labeled = corpus.filter(
        F.col(label_col).isNotNull() & F.col(corpus_vec).isNotNull()
    )
    join = ivf_knn_join if use_ivf else knn_join
    nbrs = join(
        queries,
        labeled.select(corpus_key, corpus_vec),
        k=k,
        query_key=query_key,
        query_vec=query_vec,
        corpus_key=corpus_key,
        corpus_vec=corpus_vec,
        **join_kw,
    )
    lab = labeled.select(corpus_key, label_col)
    if use_ivf:
        with_label = nbrs.join(lab, corpus_key)
    else:
        with_label = lab.join(F.broadcast(nbrs), corpus_key)
    votes = with_label.groupBy(query_key, label_col).agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy(query_key)
    ranked = votes.withColumn(
        "__total", F.sum("votes").over(w)
    ).withColumn(
        "__rn",
        F.row_number().over(
            w.orderBy(F.col("votes").desc(), F.col(label_col).asc())
        ),
    )
    return (
        ranked.filter(F.col("__rn") == 1)
        .select(
            query_key,
            F.col(label_col).alias("pred_label"),
            "votes",
            F.round(F.col("votes") / F.col("__total"), 6).alias("confidence"),
        )
        .orderBy(query_key)
    )


def ivf_batch_search(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    query_key: str = "query_id",
    query_vec: str = "query_vec",
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Serve a BATCH of queries against one IVF layout in a SINGLE
    pruned scan — the amortized form of calling ivf_search per query
    (the reference answers each SearchRequest with its own full index
    pass, src/datanode/handler.py:346-369; Q queries there cost Q
    scans, here one).

    Plan: probe cells are ranked driver-side for all Q queries at once
    (one Q×C numpy pass over the bounded quantizer); the corpus is
    read ONCE through the pushed filter on the UNION of probe cells
    (partition pruning on a persisted layout — cells probed by several
    queries are still read once); inside each partition a vectorized
    kernel scores every query against only the rows whose cell that
    query probes (per-query membership mask over the batch), emitting
    ≤ Q·k rows per partition; the global window ranks Q·k·n_partitions
    rows. Same bounded-broadcast guard as knn_join (`max_query_rows`
    fail-fast) — the unbounded-query-side path is ivf_knn_join.

    nprobe >= n_centroids degenerates every mask to all-rows and the
    result reproduces knn_join bit-for-bit (the hash anchor); serving
    mode trades recall for probes exactly like ivf_search. Returns
    (query_key, key_col, score, rank <= k)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    qrows = queries.select(query_key, query_vec).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivf_batch_search query side exceeds max_query_rows="
            f"{max_query_rows}; use ann.ivf_knn_join for unbounded "
            "query sets"
        )
    key_type = dict(assigned.dtypes)[key_col]
    qkey_type = dict(queries.dtypes)[query_key]
    out_schema = f"{query_key} {qkey_type}, {key_col} {key_type}, score double"
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rank int")
    qids = [r[query_key] for r in qrows]
    qm = np.asarray(
        [[float(x) for x in r[query_vec]] for r in qrows], dtype=np.float64
    )
    cids = np.asarray([int(i) for i, _ in centroids])
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    width = min(int(nprobe), len(centroids))
    # Q x C distance block, one argpartition per query
    d2 = (
        (qm**2).sum(1, keepdims=True)
        - 2.0 * (qm @ cmat.T)
        + (cmat**2).sum(1)[None, :]
    )
    order = np.argsort(d2, axis=1, kind="stable")[:, :width]
    probe_sets = [cids[row] for row in order]
    union_cells = sorted({int(c) for row in probe_sets for c in row})
    pruned = assigned.filter(
        F.col("centroid_id").isin(union_cells)
        & F.col(vec_col).isNotNull()
    ).select(key_col, vec_col, "centroid_id")

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cents = pdf["centroid_id"].to_numpy()
            keys = pdf[key_col].to_numpy()
            parts = [] if best is None else [best]
            for j, qid in enumerate(qids):
                mask = np.isin(cents, probe_sets[j])
                if not mask.any():
                    continue
                d = mat[mask] - qm[j]
                scores = np.round(np.einsum("ij,ij->i", d, d), 6)
                parts.append(
                    pd.DataFrame(
                        {
                            query_key: qid,
                            key_col: keys[mask],
                            "score": scores,
                        }
                    )
                )
            if len(parts) > (0 if best is None else 1):
                best = (
                    pd.concat(parts)
                    .sort_values(["score", key_col])
                    .groupby(query_key, sort=False)
                    .head(k)
                )
        if best is not None:
            yield best

    local = pruned.mapInPandas(local_topk, schema=out_schema)
    w = Window.partitionBy(query_key).orderBy("score", key_col)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, key_col, "score", "rank")
    )
