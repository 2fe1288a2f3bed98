"""IVF incremental maintenance: assignment parity with the MLlib
quantizer, index-on-put append (upsert + replay-idempotent), and the
put/delete changelog stream."""

import numpy as np
from pyspark.sql import functions as F


def _emb(spark, n=150, dim=8, seed=9, start=0):
    rng = np.random.default_rng(seed)
    rows = [
        (start + i, [float(x) for x in rng.normal(size=dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_assign_matches_mllib_quantizer(spark):
    from distributed_vector_database_spark.operators.ann import (
        ivf_assign,
        ivf_build,
    )

    emb = _emb(spark)
    centroids, assigned = ivf_build(emb, n_centroids=5)
    want = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, centroids).collect()
    }
    assert got == want


def test_ivf_append_upsert_and_replay_idempotent(spark, tmp_path):
    from distributed_vector_database_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_search,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact

    base = _emb(spark, n=100)
    fresh = _emb(spark, n=30, seed=21, start=100)
    path = str(tmp_path / "ivf")
    centroids, assigned = ivf_build(base, n_centroids=4)
    ivf_write(assigned, path)

    ivf_append(spark, path, fresh, centroids)
    stored = spark.read.parquet(path)
    assert stored.count() == 130
    q = base.filter(F.col("vec_id") == 0).first()["embedding"]
    got = ivf_search(spark, centroids, stored, q, k=8, nprobe=10**9)
    want = knn_exact(base.unionByName(fresh), q, k=8, extra_cols=())
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # upsert: re-put key 100 with vector == query -> becomes top hit
    twin = spark.createDataFrame(
        [(100, [float(x) for x in q])], "vec_id long, embedding array<double>"
    )
    ivf_append(spark, path, twin, centroids)
    stored = spark.read.parquet(path)
    assert stored.count() == 130  # replaced, not duplicated
    top = ivf_search(spark, centroids, stored, q, k=2, nprobe=10**9).collect()
    assert {r["vec_id"] for r in top} == {0, 100}
    assert all(r["score"] == 0.0 for r in top)

    # replay without marker (the crash window): pre-delete makes the
    # second apply replace, never duplicate
    ivf_append(spark, path, twin, centroids)
    assert spark.read.parquet(path).count() == 130

    # clean replay with marker skips the work entirely
    ivf_append(spark, path, fresh, centroids, batch_id=7)
    n = spark.read.parquet(path).count()
    ivf_append(spark, path, fresh, centroids, batch_id=7)
    assert spark.read.parquet(path).count() == n


def test_ivf_changelog_fold_and_live_stream(spark, tmp_path):
    import json

    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_search,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact
    from distributed_vector_database_spark.streaming.ivf_maintenance import (
        build_ivf_changelog_fold,
        run_ivf_changelog_stream,
    )

    base = _emb(spark, n=80)
    rows = {r["vec_id"]: r["embedding"] for r in base.collect()}
    q = rows[0]
    path = str(tmp_path / "ivf")
    centroids, assigned = ivf_build(
        base.filter(F.col("vec_id") < 60), n_centroids=4
    )
    ivf_write(assigned, path)

    # fold: put 60-79, delete 1-3, and key 60 put-then-deleted
    fold = build_ivf_changelog_fold(path, centroids)
    b0 = [(int(i), "put", int(i), rows[i]) for i in range(60, 80)]
    b0 += [(100 + i, "delete", i, None) for i in range(1, 4)]
    b0 += [(200, "delete", 60, None)]
    batch = spark.createDataFrame(
        b0, "seq long, op string, vec_id long, embedding array<double>"
    )
    fold(batch, 0)
    dead = {1, 2, 3, 60}
    stored = spark.read.parquet(path)
    got = ivf_search(spark, centroids, stored, q, k=8, nprobe=10**9)
    want = knn_exact(
        base.filter(~F.col("vec_id").isin(list(dead))), q, k=8, extra_cols=()
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # live stream on a fresh layout
    path2 = str(tmp_path / "ivf2")
    ivf_write(assigned, path2)
    cdir = tmp_path / "chg"
    cdir.mkdir()
    with open(cdir / "a.json", "w") as fh:
        for i in range(60, 80):
            fh.write(json.dumps(
                {"seq": i, "op": "put", "vec_id": i,
                 "embedding": list(rows[i])}
            ) + "\n")
    with open(cdir / "b.json", "w") as fh:
        for i in range(1, 4):
            fh.write(json.dumps(
                {"seq": 100 + i, "op": "delete", "vec_id": i,
                 "embedding": None}
            ) + "\n")
    sq = run_ivf_changelog_stream(
        spark, str(cdir), path2, str(tmp_path / "ckpt"), centroids,
        max_files_per_trigger=1,
    )
    sq.awaitTermination(120)
    stored2 = spark.read.parquet(path2)
    got2 = ivf_search(spark, centroids, stored2, q, k=8, nprobe=10**9)
    want2 = knn_exact(
        base.filter(~F.col("vec_id").isin([1, 2, 3])), q, k=8, extra_cols=()
    )
    assert [tuple(r) for r in got2.collect()] == [
        tuple(r) for r in want2.collect()
    ]


def test_ivf_fold_ignores_null_vector_puts(spark, tmp_path):
    """A malformed changelog put with a null embedding must be dropped,
    not crash the micro-batch (np.stack over None kills every executor
    task otherwise)."""
    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_search,
        ivf_write,
    )
    from distributed_vector_database_spark.streaming.ivf_maintenance import (
        build_ivf_changelog_fold,
    )

    base = _emb(spark, n=80)
    path = str(tmp_path / "ivf")
    centroids, assigned = ivf_build(base, n_centroids=4)
    ivf_write(assigned, path)

    fold = build_ivf_changelog_fold(path, centroids)
    batch = spark.createDataFrame(
        [
            (1, "put", 200, [0.5] * 8),
            (2, "put", 201, None),          # malformed: null vector
            (3, "delete", 7, None),         # legitimate null on delete
        ],
        "seq long, op string, vec_id long, embedding array<double>",
    )
    fold(batch, 0)

    stored = spark.read.parquet(path)
    keys = {r["vec_id"] for r in stored.select("vec_id").collect()}
    assert 200 in keys and 201 not in keys and 7 not in keys
    got = ivf_search(spark, centroids, stored, [0.5] * 8, k=1, nprobe=10**9)
    assert got.first()["vec_id"] == 200


def test_quantizer_persists_and_reloads(spark, tmp_path):
    """ivf_write(centroids=) persists the quantizer with the layout —
    the reference's save_index/load_index restart lifecycle."""
    import numpy as np

    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_read_quantizer,
        ivf_search,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf_q")
    centroids, assigned = ivf_build(emb, n_centroids=4)
    ivf_write(assigned, path, centroids=centroids)

    # a "restarted process": reload everything from the layout
    cents2 = ivf_read_quantizer(path)
    assert cents2 == [(i, [float(x) for x in v]) for i, v in centroids]
    stored = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") == 5).first()["embedding"]
    got = ivf_search(spark, cents2, stored, q, k=6, nprobe=10**9).collect()
    want = knn_exact(emb, q, k=6, extra_cols=()).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_split_fat_cells_rebalances_and_stays_exact(spark, tmp_path):
    import numpy as np

    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_read_quantizer,
        ivf_search,
        ivf_split_fat_cells,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact

    rng = np.random.default_rng(5)
    # two tight clusters + one huge diffuse blob -> one fat cell
    rows = []
    for i in range(30):
        rows.append((i, [float(x) for x in rng.normal(loc=10.0, size=8)]))
    for i in range(30, 60):
        rows.append((i, [float(x) for x in rng.normal(loc=-10.0, size=8)]))
    for i in range(60, 400):
        rows.append((i, [float(x) for x in rng.normal(scale=0.5, size=8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_fat")
    centroids, assigned = ivf_build(emb, n_centroids=3)
    ivf_write(assigned, path, centroids=centroids)

    n_split = ivf_split_fat_cells(spark, path, cap_factor=1.5)
    assert n_split >= 1
    cents2 = ivf_read_quantizer(path)
    assert len(cents2) > len(centroids) - n_split
    stored = spark.read.parquet(path)
    # layout cells and quantizer ids agree
    live = {r["centroid_id"] for r in stored.select("centroid_id").distinct().collect()}
    assert live <= {i for i, _ in cents2}
    assert stored.count() == 400
    # full-width search over the split layout is still exact
    q = emb.filter(F.col("vec_id") == 100).first()["embedding"]
    got = ivf_search(spark, cents2, stored, q, k=8, nprobe=10**9).collect()
    want = knn_exact(emb, q, k=8, extra_cols=()).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # max cell size shrank
    sizes = [
        r["cnt"]
        for r in stored.groupBy("centroid_id").agg(F.count("*").alias("cnt")).collect()
    ]
    assert max(sizes) < 340


def test_fold_uses_persisted_quantizer_after_split(spark, tmp_path):
    """Appends after a split must assign against the UPDATED quantizer
    — the closure's stale copy would route rows into removed cells."""
    import numpy as np

    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_read_quantizer,
        ivf_write,
    )
    from distributed_vector_database_spark.streaming.ivf_maintenance import (
        build_ivf_changelog_fold,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(scale=0.5, size=8)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_fold_split")
    centroids, assigned = ivf_build(emb, n_centroids=3)
    ivf_write(assigned, path, centroids=centroids)

    fold = build_ivf_changelog_fold(
        path, centroids, split_cap_factor=1.5
    )
    batch1 = spark.createDataFrame(
        [
            (1000 + i, [float(x) for x in rng.normal(scale=0.5, size=8)], "put", i)
            for i in range(20)
        ],
        "vec_id long, embedding array<double>, op string, seq long",
    )
    fold(batch1, batch_id=1)
    cents_after = ivf_read_quantizer(path)

    batch2 = spark.createDataFrame(
        [
            (2000 + i, [float(x) for x in rng.normal(scale=0.5, size=8)], "put", i)
            for i in range(20)
        ],
        "vec_id long, embedding array<double>, op string, seq long",
    )
    fold(batch2, batch_id=2)
    stored = spark.read.parquet(path)
    live = {
        r["centroid_id"]
        for r in stored.select("centroid_id").distinct().collect()
    }
    # every stored cell is probe-reachable through the CURRENT quantizer
    assert live <= {i for i, _ in ivf_read_quantizer(path)}
    assert stored.count() == 340


def test_ivf_read_search_restart_path(spark, tmp_path):
    """Serving needs nothing but the layout directory (quantizer
    reloaded from _quantizer.json)."""
    import numpy as np

    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_read_search,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf_restart")
    centroids, assigned = ivf_build(emb, n_centroids=4)
    ivf_write(assigned, path, centroids=centroids)

    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    got = ivf_read_search(spark, path, q, k=6, nprobe=10**9).collect()
    want = knn_exact(emb, q, k=6, extra_cols=()).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_cell_stats_lifecycle_keeps_range_search_exact(spark, tmp_path):
    """Persisted radii must stay valid upper bounds through append
    (widen), delete (stale-but-conservative), and fat-cell split
    (refreshed rows) — range results equal brute force at every step."""
    from distributed_vector_database_spark.functions.vector import squared_l2
    from distributed_vector_database_spark.operators.ann import (
        ivf_append,
        ivf_build,
        ivf_cell_stats,
        ivf_delete,
        ivf_read_cell_stats,
        ivf_read_range_search,
        ivf_split_fat_cells,
        ivf_write,
    )

    def brute(live_df, q, radius):
        return [
            tuple(r)
            for r in live_df.select(
                "vec_id",
                F.round(squared_l2("embedding", q), 6).alias("score"),
            )
            .filter(F.col("score") <= radius * radius)
            .orderBy("score", "vec_id")
            .collect()
        ]

    base = _emb(spark, n=120, dim=4)
    path = str(tmp_path / "ivf_range")
    centroids, assigned = ivf_build(base, n_centroids=4)
    ivf_write(
        assigned, path, centroids=centroids,
        cell_stats=ivf_cell_stats(assigned, centroids),
    )
    q = list(base.filter(F.col("vec_id") == 0).first()["embedding"])
    radius = 2.0

    got = ivf_read_range_search(spark, path, q, radius)
    assert [tuple(r) for r in got.collect()] == brute(base, q, radius)

    # append a far outlier INTO an existing cell's fringe: without the
    # widen pass its cell's stale radius could prune it away
    out_vec = [float(x) + 1.2 for x in q[:2]] + [float(x) for x in q[2:]]
    fringe = spark.createDataFrame(
        [(500, out_vec)], "vec_id long, embedding array<double>"
    )
    ivf_append(spark, path, fringe, centroids)
    live = base.unionByName(fringe)
    got = ivf_read_range_search(spark, path, q, radius)
    assert [tuple(r) for r in got.collect()] == brute(live, q, radius)
    assert any(r["vec_id"] == 500 for r in got.collect())

    # delete some of the in-radius hits: stale radii stay conservative
    victims = [r[0] for r in brute(live, q, radius)[:3]]
    ivf_delete(spark, path, victims)
    live = live.filter(~F.col("vec_id").isin(victims))
    got = ivf_read_range_search(spark, path, q, radius)
    assert [tuple(r) for r in got.collect()] == brute(live, q, radius)

    # force a fat-cell split (append a dense blob near the query),
    # then range search must still be exact with refreshed stats
    blob = spark.createDataFrame(
        [
            (600 + i, [float(x) + 0.001 * i for x in q])
            for i in range(200)
        ],
        "vec_id long, embedding array<double>",
    )
    ivf_append(spark, path, blob, centroids)
    live = live.unionByName(blob)
    nsplit = ivf_split_fat_cells(spark, path, cap_factor=1.5)
    assert nsplit >= 1
    got = ivf_read_range_search(spark, path, q, radius)
    assert [tuple(r) for r in got.collect()] == brute(live, q, radius)
    # stats rows track the post-split quantizer's cells
    from distributed_vector_database_spark.operators.ann import (
        ivf_read_quantizer,
    )
    stat_ids = {c for c, _, _ in ivf_read_cell_stats(path)}
    quant_ids = {c for c, _ in ivf_read_quantizer(path)}
    assert stat_ids <= quant_ids


def test_ivf_changelog_fold_leaves_no_persisted_rdds(
    spark, tmp_path, persisted_rdds
):
    """The fold's newest-op-per-key checkpoint is released once the
    batch is applied: three folds leave the session's persisted RDDs
    as they were."""
    from distributed_vector_database_spark.operators.ann import (
        ivf_build,
        ivf_write,
    )
    from distributed_vector_database_spark.streaming.ivf_maintenance import (
        CHANGELOG_SCHEMA,
        build_ivf_changelog_fold,
    )

    base = _emb(spark, n=90)
    rows = {r["vec_id"]: r["embedding"] for r in base.collect()}
    path = str(tmp_path / "ivf")
    centroids, assigned = ivf_build(base.filter(F.col("vec_id") < 60), n_centroids=4)
    ivf_write(assigned, path)
    fold = build_ivf_changelog_fold(path, centroids)
    before = persisted_rdds()
    for b in range(3):
        keys = [60 + b * 10 + i for i in range(4)]
        ops = [(b * 10 + i, "put", k, rows[k]) for i, k in enumerate(keys)]
        ops += [(b * 10 + 5, "delete", b, None)]
        fold(spark.createDataFrame(ops, CHANGELOG_SCHEMA), b)
        assert persisted_rdds() - before == set()
