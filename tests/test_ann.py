"""ANN paths tested by recall against the exact oracle (SURVEY §5.2 —
approximate results can't hash-match; recall@k is the contract)."""

import pytest

from distributed_vector_database_spark.operators.ann import (
    ivf_build,
    ivf_search,
    lsh_ann,
    lsh_model,
)
from distributed_vector_database_spark.operators.knn import knn_exact


@pytest.fixture(scope="module")
def qvec(tables):
    return list(tables["embeddings"].filter("vec_id = 7").first()["embedding"])


@pytest.fixture(scope="module")
def exact_ids(tables, qvec):
    return {
        r["vec_id"] for r in knn_exact(tables["embeddings"], qvec, k=10).collect()
    }


def test_lsh_recall(tables, qvec, exact_ids):
    model, indexed = lsh_model(tables["embeddings"], num_hash_tables=5)
    got = {r["vec_id"] for r in lsh_ann(model, indexed, qvec, k=10).collect()}
    recall = len(got & exact_ids) / len(exact_ids)
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"


def test_ivf_full_probe_equals_exact(spark, tables, qvec, exact_ids):
    # probing every centroid partition == exact search
    centroids, assigned = ivf_build(tables["embeddings"], n_centroids=4)
    got = {
        r["vec_id"]
        for r in ivf_search(
            spark, centroids, assigned, qvec, k=10, nprobe=4
        ).collect()
    }
    assert got == exact_ids


def test_ivf_partial_probe_recall(spark, tables, qvec, exact_ids):
    centroids, assigned = ivf_build(tables["embeddings"], n_centroids=8)
    got = {
        r["vec_id"]
        for r in ivf_search(
            spark, centroids, assigned, qvec, k=10, nprobe=3
        ).collect()
    }
    recall = len(got & exact_ids) / len(exact_ids)
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_contract_ann_queries_carry_recall_column(spark):
    """Every ann_*_topk contract query returns an in-plan recall@10
    column vs knn_exact, and the values clear the pinned floors —
    this is what makes the driver's rows-only check meaningful."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    floors = {
        "ann_lsh_topk": 0.5,
        "ann_ivf_topk": 0.5,
        "ann_sq_topk": 0.8,
        "ann_pq_topk": 0.3,
        "ann_ivfpq_topk": 0.3,
    }
    qs = em.queries()
    for name, floor in floors.items():
        rows = qs[name](spark, "/root/testdata/sf0.01").collect()
        assert rows, f"{name} returned no rows"
        recalls = {r["recall"] for r in rows}
        assert len(recalls) == 1, f"{name}: recall must be constant per query"
        (recall,) = recalls
        assert recall >= floor, f"{name}: recall {recall} < floor {floor}"


def _qset(tables, n=20):
    from pyspark.sql import functions as F

    return tables["embeddings"].filter(f"vec_id < {n}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_auto_params_sqrt_rule():
    from distributed_vector_database_spark.operators.ann import ivf_auto_params

    assert ivf_auto_params(0) == (4, 2)
    assert ivf_auto_params(100) == (10, 2)
    k, p = ivf_auto_params(1_000_000)
    assert k == 1000 and p == 125
    k, _ = ivf_auto_params(10**10)
    assert k == 65536  # clamped


def test_ivf_build_auto_splits_fat_centroids(spark):
    """A corpus with one dense blob and a scattered remainder: the blob
    centroid exceeds imbalance_factor x mean and must be split; every
    row keeps exactly one assignment and full-probe search still equals
    exact."""
    import random

    from distributed_vector_database_spark.operators.ann import (
        ivf_build_auto,
        ivf_search,
    )

    rng = random.Random(7)
    # 360 points in a tight blob + 40 spread far away -> with ~20
    # centroids the blob swallows most mass in a handful of cells
    rows = [(i, [rng.gauss(0.0, 0.01) for _ in range(8)]) for i in range(360)]
    rows += [
        (360 + i, [rng.gauss(float(10 + 3 * i), 0.5) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids, assigned, nprobe = ivf_build_auto(emb, imbalance_factor=2.0)
    # no row lost or duplicated
    assert assigned.count() == 400
    assert assigned.select("vec_id").distinct().count() == 400
    # every assignment references a returned centroid
    cids = {i for i, _ in centroids}
    got_cids = {r["centroid_id"] for r in assigned.select("centroid_id").distinct().collect()}
    assert got_cids <= cids
    # the blob can no longer sit in one cell
    import pyspark.sql.functions as F

    sizes = [
        r["cnt"]
        for r in assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    ]
    assert max(sizes) < 360  # strictly smaller than the whole blob
    # full probe through the repaired index == exact
    q = rows[5][1]
    exact = {
        r["vec_id"] for r in knn_exact(emb, q, k=10, extra_cols=()).collect()
    }
    got = {
        r["vec_id"]
        for r in ivf_search(
            spark, centroids, assigned, q, k=10, nprobe=10**9
        ).collect()
    }
    assert got == exact


def test_ivf_filtered_search_selectivity_aware_probe(spark, tables, qvec):
    """Filtered ANN: the predicate applies inside probed cells and the
    probe widens by ~1/selectivity, so a 10%-selective filter at tiny
    nprobe still recovers the exact filtered top-k here (width grows to
    ~all cells at this corpus size); an explicit selectivity=1.0 keeps
    the narrow probe."""
    import pyspark.sql.functions as F

    emb = tables["embeddings"]
    pred = F.col("label") == 3
    exact = {
        r["vec_id"]
        for r in knn_exact(emb, qvec, k=10, predicate=pred).collect()
    }
    centroids, assigned = ivf_build(emb, n_centroids=16)
    got = {
        r["vec_id"]
        for r in ivf_search(
            spark, centroids, assigned, qvec, k=10, nprobe=2, predicate=pred
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9
    # explicit selectivity=1.0 -> only the 2x floor applies (4 cells)
    narrow = ivf_search(
        spark, centroids, assigned, qvec, k=10, nprobe=2,
        predicate=pred, selectivity=1.0,
    )
    assert narrow.count() <= 10


def test_predicate_selectivity_is_one_aggregate_job(spark, spark_jobs):
    """The selectivity estimate counts the rows and the kept rows in one
    Spark job; a row the predicate maps to null is not kept, and an
    empty frame keeps everything."""
    import pyspark.sql.functions as F

    from distributed_vector_database_spark.operators.ann import predicate_selectivity

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else str(i % 2)) for i in range(40)], "id int, g string"
    )
    got = []
    assert spark_jobs(lambda: got.append(predicate_selectivity(df, F.col("g") == "1"))) == 1
    assert got == [16 / 40]
    assert predicate_selectivity(df.limit(0), F.col("g") == "1") == 1.0


def test_store_index_search_filtered(spark, tmp_path):
    """store.index_search(predicate=...) excludes non-matching and
    deleted keys, widening probes by measured selectivity."""
    import pyspark.sql.functions as F

    from distributed_vector_database_spark.store import VectorStore

    s = VectorStore(spark, str(tmp_path / "fstore"), dim=4)
    recs = [(f"k{i}", [float(i % 7), float(i % 5), 0.0, 0.0],
             {"grp": str(i % 3)}) for i in range(60)]
    s.put_batch(spark.createDataFrame(recs, "key string, vector array<double>, metadata map<string,string>"))
    s.rebuild_index(n_centroids=6)
    s.delete("k3")
    got = s.index_search(
        [0.0, 0.0, 0.0, 0.0], top_k=8, nprobe=1,
        predicate=F.col("metadata")["grp"] == "0",
    ).collect()
    keys = [r["key"] for r in got]
    assert keys and all(int(k[1:]) % 3 == 0 for k in keys)
    assert "k3" not in keys  # a deleted key is dropped by the live-state dispose


def test_ivf_knn_join_full_probe_equals_exact(tables):
    """nprobe = n_clusters -> every query meets every corpus row exactly
    once: the IVF join must reproduce knn_join bit-for-bit (ids, ranks,
    rounded scores)."""
    from distributed_vector_database_spark.operators.ann import ivf_knn_join
    from distributed_vector_database_spark.operators.knn import knn_join

    emb = tables["embeddings"]
    qs = _qset(tables)
    exact = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in knn_join(qs, emb, k=3).collect()
    }
    # target_cluster_rows=64 -> ~8 clusters on the 500-row fixture
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in ivf_knn_join(
            qs, emb, k=3, target_cluster_rows=64, nprobe=10**9
        ).collect()
    }
    assert got == exact


def test_ivf_knn_join_partial_probe_recall(tables):
    from distributed_vector_database_spark.operators.ann import ivf_knn_join
    from distributed_vector_database_spark.operators.knn import knn_join

    emb = tables["embeddings"]
    qs = _qset(tables)
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_join(qs, emb, k=3).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_knn_join(qs, emb, k=3, target_cluster_rows=64, nprobe=3).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"ivf_knn_join recall too low: {recall}"
    # every query still gets k results (clusters are never empty of corpus)
    from collections import Counter

    per_q = Counter(q for q, _ in got)
    assert all(v == 3 for v in per_q.values())


def test_ivf_knn_join_accepts_large_query_side(tables):
    """The whole point vs knn_join: no query-side collect, no budget
    guard — the full embeddings table can be the query set."""
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.ann import ivf_knn_join

    emb = tables["embeddings"]
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = ivf_knn_join(qs, emb, k=1, target_cluster_rows=64, nprobe=1)
    rows = res.collect()
    n = emb.count()
    assert len(rows) == n
    # rank-1 of each vector against the corpus is itself (distance 0,
    # min-id tie-break is the id itself on exact duplicates' lower id)
    self_hits = sum(1 for r in rows if r["query_id"] == r["vec_id"])
    assert self_hits >= n * 0.95


def test_ivf_knn_join_nprobe_exceeds_trained_centroids(spark, tables):
    """train_sample smaller than n_clusters -> k_eff < n_clusters; a
    large nprobe must clamp to the trained centroid count instead of
    crashing argpartition in the executors (ADVICE r2)."""
    from distributed_vector_database_spark.operators.ann import ivf_knn_join

    emb = tables["embeddings"]
    qs = _qset(tables, 5)
    # target_cluster_rows=16 -> ~32 requested clusters, but only <=4
    # sampled training rows -> k_eff <= 4 < nprobe
    res = ivf_knn_join(
        qs, emb, k=3, target_cluster_rows=16, nprobe=8, train_sample=4
    ).collect()
    assert {r["query_id"] for r in res} == {0, 1, 2, 3, 4}


def test_ivf_knn_join_all_null_corpus_returns_empty(spark):
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.ann import ivf_knn_join

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    assert ivf_knn_join(qs, emb, k=3).count() == 0


def test_embedding_near_dup_at_scale_degenerate_sample(spark):
    """Probe larger than trained centroids + all-null corpus: both must
    degrade gracefully (ADVICE r2)."""
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.dedup import (
        embedding_near_dup_at_scale,
    )

    nulls = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    assert embedding_near_dup_at_scale(nulls, 0.9).count() == 0

    v = [1.0, 0.0, 2.0]
    emb = spark.createDataFrame(
        [(i, v) for i in range(40)], "vec_id long, embedding array<double>"
    )
    # ~10 requested clusters but only <=3 training rows; probe=5 > k_eff
    pairs = embedding_near_dup_at_scale(
        emb, 0.9, target_cluster_rows=4, probe=5, train_sample=3
    ).collect()
    assert len(pairs) > 0 and all(r["cosine"] == 1.0 for r in pairs)


def test_centroid_assign_expr_argmin_and_tiebreak(spark):
    from distributed_vector_database_spark.operators.ann import (
        centroid_assign_expr,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    # centroids 1 and 2 are both at distance 0.5 from row 3 ->
    # tie breaks to the LOWER topic id
    cents = [[0.0, 0.0], [1.0, 1.0], [9.0, 9.0]]
    got = {
        r["vec_id"]: (r["topic"], r["dist"])
        for r in centroid_assign_expr(df, cents).collect()
    }
    assert got[1] == (0, 0.0)
    assert got[2] == (1, 0.0)
    assert got[3] == (0, 0.5)


def test_embedding_outliers_flags_degenerate_and_far(spark):
    from distributed_vector_database_spark.operators.ann import (
        embedding_outliers,
    )

    df = spark.createDataFrame(
        [
            (1, [0.1, 0.0]),          # near centroid 0 -> kept
            (2, [0.0, 0.0]),          # degenerate norm
            (3, [50.0, 50.0]),        # far from every centroid
            (4, [1.0, 1.1]),          # near centroid 1 -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [1.0, 1.0]]
    got = {
        r["vec_id"]: r["reason"]
        for r in embedding_outliers(df, cents, max_dist=5.0).collect()
    }
    assert got == {2: "degenerate_norm", 3: "far_from_centroid"}


def test_lsh_full_probe_matches_exact(tables, qvec):
    """VERDICT r7 #5: the LSH family's degenerate-to-exhaustive anchor
    must reproduce brute force bit-for-bit — including the corner the
    wide-bucket-only parameterization misses (the floor(g.x/L) sign
    split at the hyperplane, fixed by the constant-coordinate
    augmentation)."""
    from distributed_vector_database_spark.operators.ann import (
        lsh_full_probe_topk,
    )

    got = lsh_full_probe_topk(tables["embeddings"], qvec, k=10).collect()
    want = (
        knn_exact(tables["embeddings"], qvec, k=10, extra_cols=())
        .orderBy("score", "vec_id")
        .collect()
    )
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in want
    ]


def test_lsh_full_coverage_join_matches_exact_pairs(tables):
    """The similarity-join leg's degenerate anchor: single-bucket
    augmentation makes the candidate set all pairs, so the radius
    join equals brute force."""
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.ann import (
        lsh_full_coverage_join,
    )

    emb = tables["embeddings"]
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_full_coverage_join(emb, max_l2=1.2).collect()
    }
    rows = emb.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    import itertools

    import numpy as np

    vecs = {r[0]: np.asarray(r[1]) for r in rows}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if float(np.sqrt(((vecs[a] - vecs[b]) ** 2).sum())) < 1.2
    }
    assert got == want


def test_knn_classify_majority_ties_and_null_labels(spark):
    """Hand-built geometry: query at origin, 2 near 'A'(label 2) votes,
    2 near 'B'(label 1) votes -> 2-2 tie breaks to the SMALLER label;
    a null-labeled row sitting closest of all must not vote."""
    from distributed_vector_database_spark.operators.ann import knn_classify

    corpus = spark.createDataFrame(
        [
            (1, [0.01, 0.0], None),   # closest but unlabeled: excluded
            (2, [0.1, 0.0], 2),
            (3, [0.0, 0.1], 2),
            (4, [0.2, 0.0], 1),
            (5, [0.0, 0.2], 1),
            (6, [9.0, 9.0], 0),       # far: outside k=4
        ],
        "vec_id long, embedding array<double>, label int",
    )
    qs = spark.createDataFrame(
        [(100, [0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    got = knn_classify(qs, corpus, k=4).collect()
    assert len(got) == 1
    r = got[0]
    assert r["pred_label"] == 1  # tie 2-2 -> smaller label wins
    assert r["votes"] == 2 and abs(r["confidence"] - 0.5) < 1e-9


def test_knn_classify_ivf_path_matches_exact_at_full_probe(spark, tables):
    """use_ivf=True with nprobe == n_clusters degenerates to the exact
    join, so predictions must equal the broadcast path exactly."""
    from distributed_vector_database_spark.operators.ann import knn_classify

    emb = tables["embeddings"]
    from pyspark.sql import functions as F

    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    exact = [tuple(r) for r in knn_classify(qs, corpus, k=5).collect()]
    via_ivf = [
        tuple(r)
        for r in knn_classify(
            qs,
            corpus,
            k=5,
            use_ivf=True,
            target_cluster_rows=64,
            nprobe=10**9,
        ).collect()
    ]
    assert via_ivf == exact


def test_ivf_batch_search_serving_and_guard(spark, tables):
    """Partial-probe serving: one pruned scan answers Q queries; each
    query's candidates come only from ITS probed cells; recall at
    nprobe=2 of 4 stays useful; the query-side budget fails fast."""
    import pytest
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.ann import (
        ivf_batch_search,
        ivf_build,
    )
    from distributed_vector_database_spark.operators.knn import knn_exact

    emb = tables["embeddings"]
    centroids, assigned = ivf_build(emb, n_centroids=4)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = ivf_batch_search(
        spark, centroids, assigned, qs, k=5, nprobe=2
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == set(range(8))
    hits = 0
    for qid, ids in by_q.items():
        qv = list(
            emb.filter(F.col("vec_id") == qid).first()["embedding"]
        )
        exact = {
            r["vec_id"]
            for r in knn_exact(emb, qv, k=5, extra_cols=()).collect()
        }
        hits += len(set(ids) & exact)
    assert hits / (5 * 8) >= 0.7  # half the cells probed

    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_batch_search(
            spark, centroids, assigned, qs, k=5, nprobe=2, max_query_rows=3
        )
