"""Matryoshka (prefix-dimension) search: exactness contracts, the
ReadSchema column-pruning guarantee that makes truncation an I/O win,
and recall on the front-loaded data MRL is designed for.

Reference capability: the reference serves full-dimension vectors
only (src/datanode/handler.py hnswlib index over raw vectors); prefix
serving is a quantization-family extension, anchored to knn_exact the
same way SQ/PQ/BQ are.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.knn import knn_exact
from distributed_vector_database_spark.operators.quantization import (
    mrl_read_search,
    mrl_search,
    mrl_write,
)


def _front_loaded(spark, n=400, dim=32, seed=7):
    """Synthetic MRL-like corpus: per-dim scale decays geometrically,
    so early coordinates carry most of the distance signal — the
    property MRL training induces and iid fixtures lack."""
    rng = np.random.default_rng(seed)
    scales = 0.8 ** np.arange(dim)
    mat = rng.normal(size=(n, dim)) * scales
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in rng.normal(size=dim) * scales]
    return df, q


def test_mrl_full_prefix_reproduces_knn_exact(spark):
    df, q = _front_loaded(spark)
    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    got = [(r["vec_id"], r["score"])
           for r in mrl_search(df, q, k=10, prefix_dim=32, rerank=1).collect()]
    assert got == exact


def test_mrl_truncated_recall_on_front_loaded_data(spark):
    """prefix 8 of 32 with a small pool must recover (nearly) the
    exact top-k when the signal is front-loaded — the operator's
    actual job. A positional prefix on iid data would not pass this."""
    df, q = _front_loaded(spark)
    exact = {r["vec_id"] for r in knn_exact(df, q, k=10, extra_cols=()).collect()}
    got = {r["vec_id"]
           for r in mrl_search(df, q, k=10, prefix_dim=8, rerank=4).collect()}
    assert len(got & exact) >= 9


def test_mrl_layout_roundtrip_and_column_pruning(spark, tmp_path, executed_plans):
    """The persisted layout serves identically to the in-plan path,
    and the coarse pass's parquet ReadSchema contains the prefix
    column but NOT the full vector column — the I/O claim, asserted
    on the plans mrl_read_search actually executed."""
    df, q = _front_loaded(spark)
    path = str(tmp_path / "mrl")
    mrl_write(df, path, prefix_dim=8)

    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    rows, plan = executed_plans(
        lambda: mrl_read_search(spark, path, q, k=10, rerank=10**6).collect()
    )
    assert [(r["vec_id"], r["score"]) for r in rows] == exact

    schemas = [l for l in plan if l.startswith("ReadSchema:")]
    coarse = [l for l in schemas if "mrl_prefix" in l]
    assert coarse and all("embedding" not in l for l in coarse)
    # the refine re-reads the pool's full vectors in a separate scan
    assert any("embedding" in l for l in schemas)


def test_mrl_write_drops_null_vectors_and_prefix_len(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "mrl")
    mrl_write(df, path, prefix_dim=2)
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1
    assert rows[0]["mrl_prefix"] == [1.0, 2.0]
    assert rows[0]["embedding"] == [1.0, 2.0, 3.0, 4.0]


def test_mrl_prefix_dim_longer_than_vector_is_clamped(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = mrl_search(df, [0.0, 0.0], k=1, prefix_dim=99, rerank=1).collect()
    assert rows[0]["vec_id"] == 2 and rows[0]["score"] == 0.0


def test_mrl_append_is_o_batch_and_serves(spark, tmp_path):
    """Appending a batch adds only new files, inherits the layout's
    prefix width, and the layout serves the union exactly."""
    import glob

    from distributed_vector_database_spark.operators.quantization import (
        mrl_append,
    )

    df, q = _front_loaded(spark, n=200)
    path = str(tmp_path / "mrl")
    mrl_write(df, path, prefix_dim=8)
    before = set(glob.glob(f"{path}/*.parquet"))

    batch = spark.createDataFrame(
        [(10_000 + i, [float(i)] * 32) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    mrl_append(batch, path)
    after = set(glob.glob(f"{path}/*.parquet"))
    assert before <= after and len(after) > len(before)

    layout = spark.read.parquet(path)
    assert layout.count() == 220
    assert layout.select(F.size("mrl_prefix")).distinct().collect()[0][0] == 8
    got = [r["vec_id"] for r in mrl_read_search(
        spark, path, [5.0] * 32, k=1, rerank=10**6
    ).collect()]
    assert got == [10_005]


def test_ivf_mrl_full_probe_reproduces_knn_exact(spark):
    """nprobe = all cells + corpus pool ⟹ bit-for-bit knn_exact, the
    same anchor contract as IVF x PQ / IVF x BQ."""
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        ivf_mrl_search,
    )

    df, q = _front_loaded(spark, n=300)
    centroids, assigned = ivf_build(df, n_centroids=8)
    got = [(r["vec_id"], r["score"]) for r in ivf_mrl_search(
        centroids, assigned, q, k=10, nprobe=8,
        prefix_dim=32, rerank=10**6,
    ).collect()]
    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    assert got == exact


def test_ivf_mrl_serving_recall_on_front_loaded(spark):
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        ivf_mrl_search,
    )

    df, q = _front_loaded(spark, n=400)
    centroids, assigned = ivf_build(df, n_centroids=8)
    exact = {r["vec_id"] for r in knn_exact(df, q, k=10, extra_cols=()).collect()}
    got = {r["vec_id"] for r in ivf_mrl_search(
        centroids, assigned, q, k=10, nprobe=6, prefix_dim=8, rerank=4,
    ).collect()}
    assert len(got & exact) >= 8


def test_mrl_append_replay_safety(spark, tmp_path):
    """A batch_id that already published is skipped; rows landed by a
    crashed attempt (files present, marker missing) are never served."""
    from distributed_vector_database_spark.operators.quantization import (
        mrl_append,
    )

    df, _ = _front_loaded(spark, n=50)
    path = str(tmp_path / "mrl")
    mrl_write(df, path, prefix_dim=8)

    batch = spark.createDataFrame(
        [(1000, [1.0] * 32)], "vec_id long, embedding array<double>"
    )
    assert mrl_append(batch, path, batch_id=7) is True
    assert mrl_append(batch, path, batch_id=7) is False  # replay skipped

    # crash simulation: rows land under an unpublished attempt id
    crashed = spark.createDataFrame(
        [(2000, [0.0] * 8, [0.0] * 32, "deadbeef")],
        "vec_id long, mrl_prefix array<double>, "
        "embedding array<double>, aid string",
    )
    crashed.write.mode("append").parquet(path)
    got = {r["vec_id"] for r in mrl_read_search(
        spark, path, [0.0] * 32, k=100, rerank=10**6
    ).collect()}
    assert 1000 in got and 2000 not in got


def test_streaming_mrl_maintenance(spark, tmp_path):
    """Micro-batches folded through run_codec_stream serve exactly the
    union corpus; the layout path equals knn_exact over the union."""
    import json

    from distributed_vector_database_spark.streaming.codec_maintenance import (
        run_codec_stream,
    )

    df, q = _front_loaded(spark, n=60)
    base = df.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "mrl")
    mrl_write(base, path, prefix_dim=8)

    rest = {r["vec_id"]: r["embedding"]
            for r in df.filter(F.col("vec_id") >= 20).collect()}
    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    (vecs_dir / "b1.json").write_text(
        "".join(json.dumps({"vec_id": k, "embedding": v}) + "\n"
                for k, v in rest.items() if k < 40)
    )
    (vecs_dir / "b2.json").write_text(
        "".join(json.dumps({"vec_id": k, "embedding": v}) + "\n"
                for k, v in rest.items() if k >= 40)
    )
    sq = run_codec_stream(
        spark, str(vecs_dir), path, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    sq.awaitTermination(120)

    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    served = [(r["vec_id"], r["score"])
              for r in mrl_read_search(spark, path, q, k=10, rerank=10**6).collect()]
    assert served == exact


def test_ivf_mrl_layout_both_prunings_and_exactness(
    spark, tmp_path, executed_plans
):
    """The persisted IVF x MRL layout serves knn_exact at full
    probe/pool, and the plans a partial probe actually executed show
    BOTH prunings: PartitionFilters on centroid_id in every scan AND a
    coarse ReadSchema without the full vector column."""
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        ivf_mrl_read_search,
        ivf_mrl_write,
    )

    df, q = _front_loaded(spark, n=300)
    centroids, assigned = ivf_build(df, n_centroids=8)
    path = str(tmp_path / "ivfmrl")
    ivf_mrl_write(assigned, path, prefix_dim=8, centroids=centroids)

    got = [(r["vec_id"], r["score"]) for r in ivf_mrl_read_search(
        spark, path, q, k=10, nprobe=8, rerank=10**6
    ).collect()]
    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    assert got == exact

    rows, plan = executed_plans(
        lambda: ivf_mrl_read_search(
            spark, path, q, k=10, nprobe=2, rerank=4
        ).collect()
    )
    assert len(rows) == 10
    scans = [l for l in plan if l.startswith("(") and "Scan parquet" in l]
    filters = [l for l in plan if l.startswith("PartitionFilters:")]
    assert scans and len(filters) == len(scans)
    assert all("centroid_id" in l for l in filters)
    coarse = [l for l in plan if l.startswith("ReadSchema:") and "mrl_prefix" in l]
    assert coarse and all("embedding" not in l for l in coarse)
