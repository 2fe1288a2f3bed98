"""Pure-numpy HNSW graph (operators/hnsw.py) — the reference's index
algorithm (hnswlib M=32/ef_construction=128,
/root/reference/src/datanode/handler.py:46,86-88) without the native
dependency."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.hnsw import (
    HnswIndex,
    hnsw_partition_topk,
)
from distributed_vector_database_spark.operators.knn import knn_exact

QUERY = [0.1] * 64


def _brute(mat, q, k):
    d = mat - np.asarray(q, dtype=np.float64)
    return np.argsort(np.einsum("ij,ij->i", d, d), kind="stable")[:k]


def test_index_recall_on_random_data():
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(2000, 32))
    q = rng.normal(size=32)
    idx = HnswIndex(m=16, ef_construction=128, seed=42).build(mat)
    got = {i for _, i in idx.search(q, 10, ef=64)}
    exact = set(_brute(mat, q, 10).tolist())
    assert len(got & exact) >= 9  # recall@10 >= 0.9 (observed 1.0)


def test_index_recall_on_clustered_data():
    # clusters are where the Algorithm-4 selection heuristic earns its
    # keep — greedy nearest-only links strand the search in one cluster
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(10, 32)) * 6
    labels = rng.integers(0, 10, 1500)
    mat = centers[labels] + rng.normal(size=(1500, 32)) * 0.4
    idx = HnswIndex(m=16, ef_construction=128, seed=42).build(mat)
    recalls = []
    for c in range(10):
        q = centers[c] + rng.normal(size=32) * 0.4
        got = {i for _, i in idx.search(q, 10, ef=64)}
        recalls.append(len(got & set(_brute(mat, q, 10).tolist())) / 10)
    assert np.mean(recalls) >= 0.95


def test_index_deterministic():
    rng = np.random.default_rng(3)
    mat = rng.normal(size=(400, 16))
    q = rng.normal(size=16)
    a = HnswIndex(m=8, ef_construction=64, seed=42).build(mat).search(q, 5, ef=32)
    b = HnswIndex(m=8, ef_construction=64, seed=42).build(mat).search(q, 5, ef=32)
    assert a == b


def test_index_edge_cases():
    idx = HnswIndex(m=4)
    assert idx.search([0.0, 0.0], 3) == []  # empty index
    idx.build(np.array([[1.0, 1.0]]))
    hits = idx.search([0.0, 0.0], 5)  # k > n
    assert [i for _, i in hits] == [0]
    with pytest.raises(ValueError):
        HnswIndex(m=1)


def test_partition_topk_exact_anchor_matches_knn_exact(tables):
    """ef >= partition rows → the kernel's exhaustive branch: must equal
    knn_exact row-for-row (the contract anchor's mode)."""
    emb = tables["embeddings"]
    got = hnsw_partition_topk(emb, QUERY, k=10, ef=10**9).collect()
    exact = knn_exact(emb, QUERY, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_partition_topk_graph_path_recall(tables):
    """The real beam-search path (ef < n) with in-test recall vs exact."""
    emb = tables["embeddings"]
    got = {r["vec_id"] for r in hnsw_partition_topk(emb, QUERY, k=10, ef=64).collect()}
    exact = {r["vec_id"] for r in knn_exact(emb, QUERY, k=10, extra_cols=()).collect()}
    assert len(got & exact) >= 9


def test_partition_topk_deterministic_across_runs(tables):
    emb = tables["embeddings"]
    a = hnsw_partition_topk(emb, QUERY, k=10, ef=64).collect()
    b = hnsw_partition_topk(emb, QUERY, k=10, ef=64).collect()
    assert a == b


def test_partition_topk_predicate_filters_before_kernel(tables):
    emb = tables["embeddings"]
    got = hnsw_partition_topk(
        emb, QUERY, k=5, ef=10**9, predicate=F.col("label") == 1
    ).collect()
    exact = knn_exact(
        emb, QUERY, k=5, predicate=F.col("label") == 1, extra_cols=()
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_write_then_read_search_round_trip(tables, tmp_path):
    """Persisted graph serving (build once, reload, search — the
    reference's save_index/load_index restart path): the reloaded
    graph's beam search must agree with building in-memory, and its
    exhaustive mode must equal knn_exact."""
    emb = tables["embeddings"]
    path = str(tmp_path / "hnsw_idx")
    from distributed_vector_database_spark.operators.hnsw import hnsw_read_search, hnsw_write

    hnsw_write(emb, path, num_shards=4, m=16)
    spark = emb.sparkSession
    # exhaustive mode == exact oracle
    got = hnsw_read_search(spark, path, QUERY, k=10, ef=10**9).collect()
    exact = knn_exact(emb, QUERY, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]
    # graph mode: high recall + deterministic across reloads
    g1 = hnsw_read_search(spark, path, QUERY, k=10, ef=64).collect()
    g2 = hnsw_read_search(spark, path, QUERY, k=10, ef=64).collect()
    assert g1 == g2
    hits = {r["vec_id"] for r in g1} & {r["vec_id"] for r in exact}
    assert len(hits) >= 9


def test_knn_join_exact_mode_matches_brute_join(tables):
    """ef >= shard rows ⇒ every shard takes the exact GEMM pass:
    hnsw_knn_join must reproduce knn_join bit-for-bit."""
    from distributed_vector_database_spark.operators.hnsw import hnsw_knn_join
    from distributed_vector_database_spark.operators.knn import knn_join

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = hnsw_knn_join(queries, emb, k=5, ef=10**9).collect()
    want = knn_join(queries, emb, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_knn_join_graph_mode_recall(tables):
    from distributed_vector_database_spark.operators.hnsw import hnsw_knn_join
    from distributed_vector_database_spark.operators.knn import knn_join

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = hnsw_knn_join(queries, emb, k=5, ef=64).collect()
    want = knn_join(queries, emb, k=5).collect()
    got_pairs = {(r["query_id"], r["vec_id"]) for r in got}
    want_pairs = {(r["query_id"], r["vec_id"]) for r in want}
    assert len(got_pairs & want_pairs) / len(want_pairs) >= 0.9


def test_partition_topk_multi_partition_merge(tables):
    """Graph-per-partition with a many-partition layout still merges to
    the global top-k: exact anchor mode across 8 partitions."""
    emb = tables["embeddings"].repartition(8, "vec_id")
    got = hnsw_partition_topk(emb, QUERY, k=10, ef=10**9).collect()
    exact = knn_exact(tables["embeddings"], QUERY, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_append_extends_persisted_graph(tables, tmp_path, spark):
    """hnsw_append = the reference's index-on-put: new vectors join the
    existing shard graphs (no rebuild) and are immediately findable;
    exhaustive mode over the appended layout equals knn_exact over the
    full union."""
    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_append,
        hnsw_read_search,
        hnsw_write,
    )

    emb = tables["embeddings"]
    first = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "idx")
    hnsw_write(first, path, num_shards=4, m=16)
    hnsw_append(spark, path, rest)
    got = hnsw_read_search(spark, path, QUERY, k=10, ef=10**9).collect()
    exact = knn_exact(emb, QUERY, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]


def test_append_planted_twin_found_by_beam(tables, tmp_path, spark):
    """A vector appended AFTER the build that exactly matches the query
    must surface at rank 1 through the real beam-search path — proves
    the new node is wired into the graph, not just stored."""
    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_append,
        hnsw_read_search,
        hnsw_write,
    )

    emb = tables["embeddings"]
    path = str(tmp_path / "idx")
    hnsw_write(emb, path, num_shards=4, m=16)
    twin = spark.createDataFrame(
        [(10_000_000, [float(v) for v in QUERY])], "vec_id long, embedding array<double>"
    )
    hnsw_append(spark, path, twin)
    got = hnsw_read_search(spark, path, QUERY, k=5, ef=64).collect()
    assert got[0]["vec_id"] == 10_000_000
    assert got[0]["score"] == 0.0


def test_store_put_batch_routes_into_hnsw_index(tables, tmp_path, spark):
    """After rebuild_hnsw_index, put_batch(auto_index=True) inserts into
    the live graph: the new key is ANN-searchable without a rebuild, and
    a re-put key surfaces once with its CURRENT vector's score."""
    from distributed_vector_database_spark.store import VectorStore

    store = VectorStore(spark, str(tmp_path / "store"), dim=4)
    base = spark.createDataFrame(
        [(f"k{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(30)],
        "key string, vector array<double>",
    )
    store.put_batch(base, auto_index=False)
    store.rebuild_hnsw_index(num_shards=2)
    batch = spark.createDataFrame(
        [("new1", [99.0, 99.0, 0.0, 1.0]), ("k3", [50.0, 0.0, 0.0, 1.0])],
        "key string, vector array<double>",
    )
    store.put_batch(batch)  # auto_index=True default
    got = store.hnsw_search([99.0, 99.0, 0.0, 1.0], top_k=1, ef=10**9).collect()
    assert got[0]["key"] == "new1"
    # the re-put key appears once, scored on its new vector
    all_rows = store.hnsw_search([50.0, 0.0, 0.0, 1.0], top_k=31, ef=10**9).collect()
    k3 = [r for r in all_rows if r["key"] == "k3"]
    assert len(k3) == 1 and k3[0]["score"] == 0.0


def test_streaming_hnsw_maintenance(tables, tmp_path, spark):
    """readStream → foreachBatch → hnsw_append keeps the persisted graph
    current; after the stream drains, exhaustive search over the layout
    equals knn_exact over build ∪ streamed. A replayed batch_id is
    skipped (marker guard)."""
    import json
    import os

    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_append,
        hnsw_read_search,
        hnsw_write,
    )
    from distributed_vector_database_spark.streaming.hnsw_maintenance import (
        run_hnsw_stream,
    )

    emb = tables["embeddings"]
    base = emb.filter(F.col("vec_id") < 300)
    arriving = emb.filter(F.col("vec_id") >= 300).collect()
    path = str(tmp_path / "idx")
    hnsw_write(base, path, num_shards=2, m=16)

    vecs_dir = tmp_path / "arriving"
    vecs_dir.mkdir()
    half = len(arriving) // 2
    for i, chunk in enumerate([arriving[:half], arriving[half:]]):
        with open(vecs_dir / f"part{i}.json", "w") as fh:
            for r in chunk:
                fh.write(
                    json.dumps(
                        {"vec_id": r["vec_id"],
                         "embedding": [float(v) for v in r["embedding"]]}
                    ) + "\n"
                )
    q = run_hnsw_stream(
        spark, str(vecs_dir), path, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = hnsw_read_search(spark, path, QUERY, k=10, ef=10**9).collect()
    exact = knn_exact(emb, QUERY, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exact
    ]
    # replaying an applied batch_id is a no-op
    markers = os.listdir(os.path.join(path, "_applied_batches"))
    assert markers
    replay_id = int(sorted(markers)[0].split("=")[1])
    twin = spark.createDataFrame(
        [(77_000_000, [9.9] * 64)], "vec_id long, embedding array<double>"
    )
    hnsw_append(spark, path, twin, batch_id=replay_id)
    after = hnsw_read_search(spark, path, QUERY, k=10, ef=10**9).collect()
    assert after == got


def test_hnsw_changelog_fold_put_delete_and_autocompact(spark, tmp_path):
    """The reference's WAL-to-index replay: a put/delete changelog
    folds into the layout (newest op per key wins within a batch);
    tombstone fraction over threshold triggers shard-local reclaim."""
    import numpy as np

    from distributed_vector_database_spark.operators.hnsw import (
        _read_tombstones,
        hnsw_read_search,
        hnsw_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact
    from distributed_vector_database_spark.streaming.hnsw_maintenance import (
        build_hnsw_changelog_fold,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[0][1]
    path = str(tmp_path / "idx")
    hnsw_write(emb.filter(F.col("vec_id") < 100), path, num_shards=2)

    fold = build_hnsw_changelog_fold(path, compact_threshold=0.05)
    # batch 0: put 100-119, delete 0-9, and key 100 gets put-then-
    # deleted (newest wins -> deleted), key 5 deleted-then-put -> live
    b0 = [(int(i), "put", int(i), rows[i][1]) for i in range(100, 120)]
    b0 += [(200 + i, "delete", i, None) for i in range(10)]
    b0 += [(300, "delete", 100, None), (301, "put", 5, rows[5][1])]
    batch = spark.createDataFrame(
        b0, "seq long, op string, vec_id long, embedding array<double>"
    )
    fold(batch, 0)

    dead = {i for i in range(10) if i != 5} | {100}
    live = emb.filter(~F.col("vec_id").isin(list(dead)))
    got = hnsw_read_search(spark, path, qv, k=10, ef=10**9).collect()
    want = knn_exact(live, qv, k=10, extra_cols=()).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]
    # 10 tombstones / ~121 rows > 0.05 threshold -> auto-compacted
    assert _read_tombstones(path) == frozenset()
    stored = spark.read.parquet(path)
    assert stored.filter(F.col("vec_id").isin(list(dead))).count() == 0

    # replaying the same batch leaves serving unchanged
    fold(batch, 0)
    again = hnsw_read_search(spark, path, qv, k=10, ef=10**9).collect()
    assert [(r["vec_id"], r["score"]) for r in again] == [
        (r["vec_id"], r["score"]) for r in got
    ]


def test_hnsw_changelog_live_stream(spark, tmp_path):
    import json

    import numpy as np

    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_read_search,
        hnsw_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact
    from distributed_vector_database_spark.streaming.hnsw_maintenance import (
        run_hnsw_changelog_stream,
    )

    rng = np.random.default_rng(12)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[0][1]
    path = str(tmp_path / "idx")
    hnsw_write(emb.filter(F.col("vec_id") < 60), path, num_shards=2)

    cdir = tmp_path / "chg"
    cdir.mkdir()
    with open(cdir / "a.json", "w") as fh:
        for i in range(60, 80):
            fh.write(json.dumps(
                {"seq": i, "op": "put", "vec_id": i, "embedding": rows[i][1]}
            ) + "\n")
    with open(cdir / "b.json", "w") as fh:
        for i in range(3):
            fh.write(json.dumps(
                {"seq": 100 + i, "op": "delete", "vec_id": i,
                 "embedding": None}
            ) + "\n")
    q = run_hnsw_changelog_stream(
        spark, str(cdir), path, str(tmp_path / "ckpt"),
        compact_threshold=None, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = hnsw_read_search(spark, path, qv, k=10, ef=10**9).collect()
    want = knn_exact(
        emb.filter(F.col("vec_id") >= 3), qv, k=10, extra_cols=()
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_knn_join_served_from_persisted_index(tables, tmp_path, spark):
    """index_path mode: the join is answered from a persisted hnsw_write
    layout — no graph construction at query time; exhaustive mode equals
    knn_join bit-for-bit."""
    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_knn_join,
        hnsw_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_join

    emb = tables["embeddings"]
    path = str(tmp_path / "idx")
    hnsw_write(emb, path, num_shards=4, m=16)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = hnsw_knn_join(queries, k=5, ef=10**9, index_path=path).collect()
    want = knn_join(queries, emb, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # graph mode over the same layout: high overlap with exact
    g = hnsw_knn_join(queries, k=5, ef=64, index_path=path).collect()
    got_pairs = {(r["query_id"], r["vec_id"]) for r in g}
    want_pairs = {(r["query_id"], r["vec_id"]) for r in want}
    assert len(got_pairs & want_pairs) / len(want_pairs) >= 0.9


def test_knn_join_requires_exactly_one_source(tables):
    from distributed_vector_database_spark.operators.hnsw import hnsw_knn_join

    emb = tables["embeddings"]
    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="exactly one"):
        hnsw_knn_join(queries)
    with pytest.raises(ValueError, match="exactly one"):
        hnsw_knn_join(queries, emb, index_path="/tmp/x")


def test_hnsw_tune_ef_picks_smallest_meeting_target(spark, tmp_path):
    """The ef auto-tuner (the knob the reference hardcodes to 64):
    first grid ef whose mean recall@k vs the layout's own exhaustive
    mode reaches the target; profile recalls are monotone in ef."""
    import numpy as np

    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_read_search,
        hnsw_tune_ef,
        hnsw_write,
    )

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(8, 16)) * 5
    labels = rng.integers(0, 8, 600)
    rows = [
        (i, [float(x) for x in centers[labels[i]] + rng.normal(size=16) * 0.3])
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    hnsw_write(emb, path, num_shards=2)

    qs = [rows[i][1] for i in (5, 100, 300)]
    out = hnsw_tune_ef(
        spark, path, qs, k=10, target_recall=0.9, ef_grid=(8, 32, 128)
    )
    assert out["ef"] is not None
    # the chosen ef actually delivers the target on the samples
    last_ef, last_recall, _ = out["profile"][-1]
    assert last_ef == out["ef"] and last_recall >= 0.9
    # recall monotone along the measured prefix
    recalls = [r for _, r, _ in out["profile"]]
    assert recalls == sorted(recalls)

    # unreachable target: grid tops out, ef is None, full profile kept
    out2 = hnsw_tune_ef(
        spark, path, qs, k=10, target_recall=1.01, ef_grid=(8, 16)
    )
    assert out2["ef"] is None and len(out2["profile"]) == 2


def test_hnsw_changelog_fold_leaves_no_persisted_rdds(
    spark, tmp_path, persisted_rdds
):
    """The fold's newest-op-per-key checkpoint is released once the
    batch is applied: three folds leave the session's persisted RDDs
    as they were."""
    from distributed_vector_database_spark.operators.hnsw import hnsw_write
    from distributed_vector_database_spark.streaming.hnsw_maintenance import (
        CHANGELOG_SCHEMA,
        build_hnsw_changelog_fold,
    )

    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.normal(size=8)] for _ in range(130)]
    path = str(tmp_path / "idx")
    hnsw_write(
        spark.createDataFrame(
            [(i, vecs[i]) for i in range(100)],
            "vec_id long, embedding array<double>",
        ),
        path,
        num_shards=2,
    )
    fold = build_hnsw_changelog_fold(path, compact_threshold=None)
    before = persisted_rdds()
    for b in range(3):
        keys = [100 + b * 10 + i for i in range(4)]
        ops = [(b * 10 + i, "put", k, vecs[k]) for i, k in enumerate(keys)]
        ops += [(b * 10 + 5, "delete", b, None), (b * 10 + 6, "delete", b + 50, None)]
        fold(spark.createDataFrame(ops, CHANGELOG_SCHEMA), b)
        assert persisted_rdds() - before == set()
