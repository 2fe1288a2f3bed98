"""SQ/PQ: recall vs the exact oracle + compression contract."""

import numpy as np
import pytest

from distributed_vector_database_spark.operators.knn import knn_exact
from distributed_vector_database_spark.operators.quantization import (
    pq_encode,
    pq_search,
    pq_train,
    sq_encode,
    sq_search,
    sq_train,
)


@pytest.fixture(scope="module")
def qvec(tables):
    return list(tables["embeddings"].filter("vec_id = 11").first()["embedding"])


@pytest.fixture(scope="module")
def exact_ids(tables, qvec):
    return {r["vec_id"] for r in knn_exact(tables["embeddings"], qvec, k=10).collect()}


def test_sq_recall(tables, qvec, exact_ids):
    emb = tables["embeddings"]
    mins, maxs = sq_train(emb)
    encoded = sq_encode(emb, mins, maxs).cache()
    codes = encoded.select("sq_codes").first()["sq_codes"]
    assert len(codes) == 64 and all(0 <= c <= 255 for c in codes)
    got = {r["vec_id"] for r in sq_search(encoded, mins, maxs, qvec, k=10).collect()}
    recall = len(got & exact_ids) / len(exact_ids)
    # int8 quantization is near-lossless for ranking
    assert recall >= 0.8, f"SQ recall@10 too low: {recall}"


def test_pq_recall_and_compression(tables, qvec, exact_ids):
    emb = tables["embeddings"]
    books = pq_train(emb, m=8, k_codebook=32)
    assert len(books) == 8 and books[0].shape == (32, 8)
    encoded = pq_encode(emb, books).cache()
    codes = encoded.select("pq_codes").first()["pq_codes"]
    # 64 float32 (256 B) -> 8 codes (8 B at uint8): 32x compression
    assert len(codes) == 8 and all(0 <= c < 32 for c in codes)
    # pure ADC (codes only, no float reads): coarse but cheap
    got = {
        r["vec_id"]
        for r in pq_search(encoded, books, qvec, k=10, rerank=0).collect()
    }
    recall = len(got & exact_ids) / len(exact_ids)
    assert recall >= 0.3, f"PQ (ADC-only) recall@10 too low: {recall}"
    # ADC + exact re-rank of the candidate pool (FAISS refine pattern)
    got = {
        r["vec_id"]
        for r in pq_search(encoded, books, qvec, k=10, rerank=4).collect()
    }
    recall = len(got & exact_ids) / len(exact_ids)
    assert recall >= 0.8, f"PQ (re-ranked) recall@10 too low: {recall}"


def test_pq_rejects_indivisible_dim(tables):
    with pytest.raises(ValueError):
        pq_train(tables["embeddings"], m=7)


def test_ivfpq_recall(tables, qvec, exact_ids):
    """IVF pruning + PQ codes + exact re-rank: recall bounded only by
    nprobe coverage (refine makes the probed subset near-exact)."""
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import ivf_pq_search

    emb = tables["embeddings"]
    centroids, assigned = ivf_build(emb, n_centroids=16)
    books = pq_train(emb, m=8, k_codebook=32)
    encoded = pq_encode(assigned, books).cache()
    got = {
        r["vec_id"]
        for r in ivf_pq_search(centroids, encoded, books, qvec, k=10, nprobe=8).collect()
    }
    recall = len(got & exact_ids) / len(exact_ids)
    assert recall >= 0.5, f"IVF+PQ recall@10 too low: {recall}"


def test_sq_full_pool_refine_equals_exact(tables, qvec):
    """rerank covering every partition row (FAISS IndexRefine with the
    pool = the corpus): SQ search must reproduce knn_exact bit-for-bit
    — ids, ranks-by-order, and rounded scores. This is the anchor the
    ann_sq_topk_exact contract query relies on."""
    emb = tables["embeddings"]
    exact = [
        (r["vec_id"], r["score"])
        for r in knn_exact(emb, qvec, k=10, extra_cols=()).collect()
    ]
    mins, maxs = sq_train(emb)
    got = [
        (r["vec_id"], r["score"])
        for r in sq_search(
            sq_encode(emb, mins, maxs), mins, maxs, qvec, k=10, rerank=10**6
        ).collect()
    ]
    assert got == exact


def test_pq_full_pool_refine_equals_exact(tables, qvec):
    emb = tables["embeddings"]
    exact = [
        (r["vec_id"], r["score"])
        for r in knn_exact(emb, qvec, k=10, extra_cols=()).collect()
    ]
    books = pq_train(emb, m=8, k_codebook=32)
    got = [
        (r["vec_id"], r["score"])
        for r in pq_search(pq_encode(emb, books), books, qvec, k=10, rerank=10**6).collect()
    ]
    assert got == exact


def test_bq_encode_packs_expected_bits(spark):
    from distributed_vector_database_spark.operators.quantization import (
        _bq_words,
        bq_encode,
    )

    # 34 dims -> 2 words; means all 0: bit i set iff x_i > 0
    means = [0.0] * 34
    vals = [1.0 if i in (0, 5, 31, 33) else -1.0 for i in range(34)]
    df = spark.createDataFrame(
        [(1, vals)], "vec_id long, embedding array<double>"
    )
    row = bq_encode(df, means).first()
    want = _bq_words(vals, means)
    assert list(row["bq_codes"]) == want
    assert want[0] == (1 << 0) | (1 << 5) | (1 << 31)  # bit 31 needs long
    assert want[1] == 1 << 1


def test_bq_full_pool_refine_equals_exact(tables, qvec):
    from distributed_vector_database_spark.operators.quantization import (
        bq_encode,
        bq_search,
        bq_train,
    )

    emb = tables["embeddings"]
    exact = [
        (r["vec_id"], r["score"])
        for r in knn_exact(emb, qvec, k=10, extra_cols=()).collect()
    ]
    means = bq_train(emb)
    got = [
        (r["vec_id"], r["score"])
        for r in bq_search(
            bq_encode(emb, means), means, qvec, k=10, rerank=10**6
        ).collect()
    ]
    assert got == exact


def test_bq_serving_recall(tables, qvec, exact_ids):
    from distributed_vector_database_spark.operators.quantization import (
        bq_encode,
        bq_search,
        bq_train,
    )

    emb = tables["embeddings"]
    means = bq_train(emb)
    got = {
        r["vec_id"]
        for r in bq_search(
            bq_encode(emb, means), means, qvec, k=10, rerank=8
        ).collect()
    }
    # 1-bit codes at 64-d: Hamming is a coarse proxy — require the pool
    # to recover most of the true top-10 after exact refine
    assert len(got & exact_ids) >= 6


def test_ivf_bq_full_probe_full_pool_equals_exact(tables, qvec):
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        bq_encode,
        bq_train,
        ivf_bq_search,
    )

    emb = tables["embeddings"]
    exact = [
        (r["vec_id"], r["score"])
        for r in knn_exact(emb, qvec, k=10, extra_cols=()).collect()
    ]
    centroids, assigned = ivf_build(emb, n_centroids=4)
    means = bq_train(emb)
    got = [
        (r["vec_id"], r["score"])
        for r in ivf_bq_search(
            centroids, bq_encode(assigned, means), means, qvec,
            k=10, nprobe=len(centroids), rerank=10**6,
        ).collect()
    ]
    assert got == exact


@pytest.mark.parametrize("ivf", [False, True], ids=["flat", "ivf"])
def test_pq_layout_roundtrip_append_and_exact_anchor(tables, qvec, tmp_path, ivf):
    """The persisted PQ layout, flat and centroid-partitioned: (1) a
    write then a read search with a corpus-covering rerank (and every
    cell probed) reproduces knn_exact bit-for-bit; (2) the append
    encodes with the FROZEN codebooks, so write(half) + append(half)
    serves identically to write(all); (3) a replayed batch_id is
    skipped; (4) reading an unpublished path fails fast."""
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        codec_append,
        codec_read_search,
        ivf_pq_write,
        pq_write,
        read_codec,
    )

    emb = tables["embeddings"]
    spark = emb.sparkSession
    if ivf:
        centroids, emb = ivf_build(emb, n_centroids=4, trainer="numpy")

    def write(df, path):
        if ivf:
            ivf_pq_write(df, path, centroids=centroids, m=8, k_codebook=32)
        else:
            pq_write(df, path, m=8, k_codebook=32)

    def served(path):
        return [
            (r["vec_id"], r["score"])
            for r in codec_read_search(
                spark, path, qvec, k=10, nprobe=10**6, rerank=10**6
            ).collect()
        ]

    path_all = str(tmp_path / "pq_all")
    write(emb, path_all)

    # exact anchor: rerank covering the corpus == knn_exact
    exact = [
        (r["vec_id"], r["score"])
        for r in knn_exact(tables["embeddings"], qvec, k=10).collect()
    ]
    assert served(path_all) == exact

    # frozen-codebook append == one-shot write (identical codebooks
    # guaranteed: append reads them from the layout, never retrains)
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1").drop("centroid_id")
    path_inc = str(tmp_path / "pq_inc")
    write(half_a, path_inc)
    books_before = read_codec(path_inc).codebooks
    assert codec_append(half_b, path_inc, batch_id=1) is True
    assert codec_append(half_b, path_inc, batch_id=1) is False  # replay
    books_after = read_codec(path_inc).codebooks
    for a, b in zip(books_before, books_after):
        assert np.array_equal(a, b)
    assert served(path_inc) == exact  # same corpus content -> same exact refine

    with pytest.raises(FileNotFoundError):
        codec_read_search(spark, str(tmp_path / "nope"), qvec, k=5)


def test_streaming_pq_maintenance(spark, tmp_path):
    """Micro-batches folded through run_codec_stream encode with the
    FROZEN codebooks and serve exactly the union corpus: the layout
    path with a corpus-covering refine pool equals knn_exact over the
    union."""
    import json

    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.quantization import (
        pq_read_search,
        pq_write,
    )
    from distributed_vector_database_spark.streaming.codec_maintenance import (
        run_codec_stream,
    )

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[7][1]
    base = df.filter(F.col("vec_id") < 30)
    path = str(tmp_path / "pq_stream")
    pq_write(base, path, m=4, k_codebook=8)

    rest = {i: v for i, v in rows if i >= 30}
    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    (vecs_dir / "b1.json").write_text(
        "".join(json.dumps({"vec_id": i, "embedding": v}) + "\n"
                for i, v in rest.items() if i < 45)
    )
    (vecs_dir / "b2.json").write_text(
        "".join(json.dumps({"vec_id": i, "embedding": v}) + "\n"
                for i, v in rest.items() if i >= 45)
    )
    sq = run_codec_stream(
        spark, str(vecs_dir), path, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    sq.awaitTermination(120)

    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    served = [(r["vec_id"], r["score"])
              for r in pq_read_search(spark, path, q, k=10,
                                      rerank=10**6).collect()]
    assert served == exact


def test_ivf_pq_layout_exactness_and_partition_pruning(
    spark, tmp_path, executed_plans
):
    """The persisted IVF×PQ layout: full probe + corpus-covering pool
    reproduces knn_exact bit-for-bit, and every scan a partial probe
    actually executed shows PartitionFilters on centroid_id (the probe
    IS partition pruning)."""
    from distributed_vector_database_spark.operators.ann import ivf_build
    from distributed_vector_database_spark.operators.quantization import (
        ivf_pq_read_search,
        ivf_pq_write,
    )

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[11][1]
    centroids, assigned = ivf_build(df, n_centroids=8)
    path = str(tmp_path / "ivfpq")
    ivf_pq_write(assigned, path, centroids=centroids, m=4, k_codebook=16)

    exact = [(r["vec_id"], r["score"])
             for r in knn_exact(df, q, k=10, extra_cols=()).collect()]
    got = [(r["vec_id"], r["score"]) for r in ivf_pq_read_search(
        spark, path, q, k=10, nprobe=10**6, rerank=10**6
    ).collect()]
    assert got == exact

    # partial probe: the scan must be partition-pruned to probed cells
    part, plan = executed_plans(
        lambda: ivf_pq_read_search(
            spark, path, q, k=10, nprobe=4, rerank=4
        ).collect()
    )
    scans = [l for l in plan if l.startswith("(") and "Scan parquet" in l]
    filters = [l for l in plan if l.startswith("PartitionFilters:")]
    assert scans and len(filters) == len(scans)
    assert all("centroid_id" in l for l in filters)

    # and a sane partial-probe recall (the serving trade, not exact)
    assert len({r["vec_id"] for r in part} & {v for v, _ in exact}) >= 5
