"""k-NN semantics pinned from reference behavior (SURVEY §5.3)."""

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.knn import (
    knn_exact,
    knn_exact_local,
    knn_join,
    knn_sharded,
)


def _qvec(tables):
    return list(tables["embeddings"].filter("vec_id = 0").first()["embedding"])


def test_topk_default_when_nonpositive(tables):
    # top_k <= 0 treated as 5 (src/datanode/handler.py:346)
    q = _qvec(tables)
    assert knn_exact(tables["embeddings"], q, k=0).count() == 5
    assert knn_exact(tables["embeddings"], q, k=-7).count() == 5


def test_k_capped_by_corpus(tables):
    # k = min(top_k, count) may return fewer rows (src/datanode/handler.py:357)
    q = _qvec(tables)
    small = tables["embeddings"].limit(3)
    assert knn_exact(small, q, k=10).count() == 3


def test_scores_ascending_self_first(tables):
    # lower score = better; ascending sort (src/coordinator/handler.py:212)
    q = _qvec(tables)
    rows = knn_exact(tables["embeddings"], q, k=5).collect()
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores)
    assert rows[0]["vec_id"] == 0 and rows[0]["score"] == 0.0


def test_metadata_filter_prefilters(tables):
    # the declared-but-dead search filter (src/vector_db.thrift:26),
    # implemented as a pre-distance predicate
    q = _qvec(tables)
    rows = knn_exact(
        tables["embeddings"], q, k=5, predicate=F.col("label") == 3
    ).collect()
    assert rows and all(r["label"] == 3 for r in rows)


def test_threshold_cutoff(tables):
    # the declared-but-dead threshold (src/vector_db.thrift:27)
    q = _qvec(tables)
    rows = knn_exact(tables["embeddings"], q, k=50, threshold=1.5).collect()
    assert rows and all(r["score"] <= 1.5 for r in rows)


def test_sharded_matches_exact(tables):
    # the mapInPandas scatter-gather kernel must reproduce the
    # declarative plan exactly (SURVEY §7 Phase 2)
    q = _qvec(tables)
    exact = [tuple(r) for r in knn_exact(tables["embeddings"], q, k=7).collect()]
    sharded = [
        tuple(r) for r in knn_sharded(tables["embeddings"], q, k=7, num_shards=4).collect()
    ]
    assert exact == sharded


def test_sharded_filter_threshold_match_exact(tables):
    q = _qvec(tables)
    exact = [
        tuple(r)
        for r in knn_exact(
            tables["embeddings"], q, k=10,
            predicate=F.col("label") == 5, threshold=1.9,
        ).collect()
    ]
    sharded = [
        tuple(r)
        for r in knn_sharded(
            tables["embeddings"], q, k=10, num_shards=4,
            predicate=F.col("label") == 5, threshold=1.9,
        ).collect()
    ]
    assert exact == sharded and len(exact) > 0


def test_knn_join_per_query_k(tables):
    emb = tables["embeddings"]
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = knn_join(qs, emb, k=4)
    counts = {r["query_id"]: r["n"] for r in res.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4, 1: 4, 2: 4}
    # each query's own vector is its nearest neighbor
    own = res.filter("rank = 1").collect()
    assert all(r["query_id"] == r["vec_id"] and r["score"] == 0.0 for r in own)


def test_knn_join_query_budget_guard(tables):
    import pytest

    emb = tables["embeddings"]
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_join(qs, emb, k=2, max_query_rows=3)


def test_knn_join_warn_path_chunks_and_matches_unchunked(tables, monkeypatch):
    # the over-budget warn path must (a) produce exactly the
    # in-budget result and (b) never materialize more than
    # max_query_rows (+1 for the guard probe) Rows in one driver call
    # — chunked via toLocalIterator, not one big collect()
    import warnings

    from pyspark.sql import DataFrame

    emb = tables["embeddings"]
    qs = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    budget = 3
    seen: list[int] = []
    orig = DataFrame.collect

    def counting_collect(self):
        rows = orig(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = knn_join(
            qs, emb, k=2, max_query_rows=budget, on_exceed="warn"
        ).collect()
    assert any("CHUNKED" in str(x.message) for x in w)
    # every driver-side collect during plan build stayed within budget
    # (+1 = the fail-fast guard probe); the final result collect of 20
    # rows is ours, not the operator's
    assert all(n <= budget + 1 for n in seen[:-1])
    monkeypatch.undo()
    want = knn_join(qs, emb, k=2, max_query_rows=100).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_null_vectors_excluded_not_ranked(spark):
    """Spark orderBy asc is nulls-FIRST: without an explicit guard a
    corrupt null-embedding row would outrank every real neighbor (and
    crash the pandas kernels). Dirty rows must be dropped."""
    from distributed_vector_database_spark.operators.knn import knn_exact, knn_sharded

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0], 5), (2, [1.0, 1.0], 5), (3, None, 5)],
        "vec_id long, embedding array<double>, label int",
    )
    for fn in (knn_exact, knn_sharded):
        rows = fn(emb, [0.0, 0.0], k=2).collect()
        assert [r["vec_id"] for r in rows] == [1, 2]
        assert all(r["score"] is not None for r in rows)

    qs = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    res = knn_join(qs, emb, k=3).collect()
    assert [r["vec_id"] for r in res] == [1, 2]


def test_knn_exact_local_equals_knn_exact(spark):
    """The driver scorer gives knn_exact's (key, score) list exactly on
    1,200 random 64-d rows: duplicate vectors tie and break by key,
    squared distances whose 7th decimal is a rounding tie round as
    Spark's round does (numpy's round differs on some of them), and a
    null vector, a short vector and one with a null element are
    handled as in Spark (dropped; scored null, which sorts first)."""
    import random

    from distributed_vector_database_spark.functions.localrel import local_df

    rng = random.Random(13)
    rows = [(f"r{i:04d}", [rng.gauss(0, 1) for _ in range(64)]) for i in range(1000)]
    rows += [(f"dup{i:03d}", rows[i][1]) for i in range(150)]
    # 1-d rows at distance x**2 from the origin, x**2 ending in 5 at the 7th decimal
    ties = [2.5e-06, 0.0005, 1.0000005, 3.0000005, 12.3456785]
    rows += [(f"t{i}", [t ** 0.5] + [0.0] * 63) for i, t in enumerate(ties)]
    rows += [(f"u{i:02d}", [rng.uniform(0, 3)] + [0.0] * 63) for i in range(45)]
    odd = [("null_vec", None), ("short", [0.0] * 63), ("null_elem", [None] + [0.0] * 63)]
    schema = "vec_id string, embedding array<double>"
    df = local_df(spark, rows, schema).unionByName(spark.createDataFrame(odd, schema))
    dicts = [{"vec_id": k, "embedding": v} for k, v in rows + odd]
    for q in ([rng.gauss(0, 1) for _ in range(64)], [0.0] * 64):
        for k, threshold in ((len(dicts), None), (0, None), (40, 70.0)):
            want = [
                (r["vec_id"], r["score"])
                for r in knn_exact(df, q, k=k, threshold=threshold, extra_cols=()).collect()
            ]
            assert knn_exact_local(dicts, q, k=k, threshold=threshold) == want
    full = dict(knn_exact_local(dicts, [0.0] * 64, k=len(dicts)))
    assert full["short"] is None and "null_vec" not in full
    assert full["r0000"] == full["dup000"]


def test_maxsim_matches_numpy_and_stays_topk(spark):
    import numpy as np

    from distributed_vector_database_spark.operators.knn import maxsim_topk
    from distributed_vector_database_spark.plans.explain import (
        formatted_plan,
        has_operator,
    )

    rng = np.random.default_rng(11)
    docs_np = {i: rng.normal(size=(3 + i % 3, 8)) for i in range(20)}
    qs = rng.normal(size=(2, 8))
    rows = [(i, [[float(x) for x in v] for v in m]) for i, m in docs_np.items()]
    docs = spark.createDataFrame(rows, "doc long, vecs array<array<double>>")

    df = maxsim_topk(docs, [list(map(float, q)) for q in qs], k=5)
    assert has_operator(df, "TakeOrderedAndProject")
    # no Python eval stage (the createDataFrame source scan mentions
    # Python, which is the test harness, not the operator)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "PythonUDF" not in plan

    got = {r["doc"]: r["maxsim"] for r in df.collect()}
    exact = {
        i: round(sum((q @ m.T).max() for q in qs), 6) for i, m in docs_np.items()
    }
    top5 = dict(sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:5])
    assert got == {k: round(v, 6) for k, v in top5.items()}


def test_maxsim_pruned_full_pool_is_exact_and_recall_holds(spark):
    import numpy as np

    from distributed_vector_database_spark.operators.knn import (
        maxsim_topk,
        maxsim_topk_pruned,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(5, 8)) * 4.0
    rows = [
        (i, [[float(x) for x in centers[i % 5] + rng.normal(size=8) * 0.3]
             for _ in range(4)])
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc long, vecs array<array<double>>")
    qs = [[float(x) for x in centers[0] + rng.normal(size=8) * 0.1]]

    exact = [(r["doc"], r["maxsim"]) for r in maxsim_topk(docs, qs, k=5).collect()]
    # full candidate pool reproduces the exact operator bit-for-bit
    full = [
        (r["doc"], r["maxsim"])
        for r in maxsim_topk_pruned(docs, qs, k=5, candidates=60).collect()
    ]
    assert full == exact
    # a 4x-pruned pool keeps the true top-5 on clustered data
    pruned = {
        r["doc"] for r in maxsim_topk_pruned(docs, qs, k=5, candidates=15).collect()
    }
    assert pruned == {d for d, _ in exact}


def test_maxsim_join_matches_per_query_operator(spark):
    import numpy as np

    from distributed_vector_database_spark.operators.knn import (
        maxsim_join,
        maxsim_topk,
    )

    rng = np.random.default_rng(9)
    docs_rows = [
        (i, [[float(x) for x in rng.normal(size=6)] for _ in range(3)])
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        docs_rows, "doc long, vecs array<array<double>>"
    ).repartition(4)
    q_rows = [
        (7, [[float(x) for x in rng.normal(size=6)] for _ in range(2)]),
        (8, [[float(x) for x in rng.normal(size=6)] for _ in range(4)]),
    ]
    queries = spark.createDataFrame(q_rows, "query_id long, qvecs array<array<double>>")

    joined = maxsim_join(queries, docs, k=5)
    got = {
        (r["query_id"], r["rank"]): (r["doc"], r["maxsim"])
        for r in joined.collect()
    }
    for qid, qv in q_rows:
        solo = maxsim_topk(docs, qv, k=5).collect()
        for rank, r in enumerate(solo, start=1):
            assert got[(qid, rank)] == (r["doc"], r["maxsim"]), (qid, rank)


def test_maxsim_join_empty_query_side_keeps_key_dtypes(spark):
    # string-keyed inputs with an empty query side must return the
    # same schema as the non-empty path (ADVICE r6)
    from distributed_vector_database_spark.operators.knn import maxsim_join

    docs = spark.createDataFrame(
        [("d1", [[1.0, 0.0]])], "doc string, vecs array<array<double>>"
    )
    queries = spark.createDataFrame(
        [("q1", [[1.0, 0.0]])], "query_id string, qvecs array<array<double>>"
    )
    nonempty = maxsim_join(queries, docs, k=3)
    empty = maxsim_join(queries.limit(0), docs, k=3)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in nonempty.schema.fields
    ]
    assert empty.count() == 0
    assert [(r["query_id"], r["doc"]) for r in nonempty.collect()] == [("q1", "d1")]


def test_mmr_topk_diversifies_away_from_duplicates(spark):
    """MMR's second pick must skip a near-duplicate of the first even
    though it has the second-best relevance."""
    from distributed_vector_database_spark.operators.knn import mmr_topk

    rows = [
        (1, [0.98, 0.19899749, 0.0]),   # best relevance (ties with 2)
        (2, [1.96, 0.39799498, 0.0]),   # SAME direction as 1 (cos=1)
        (3, [0.5, 0.8660254, 0.0]),     # diverse
        (4, [0.5, 0.0, 0.8660254]),     # diverse
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = (
        mmr_topk(corpus, [1.0, 0.0, 0.0], k=3, pool=4, lam=0.5)
        .orderBy("rank")
        .collect()
    )
    picks = [r["vec_id"] for r in got]
    # pure relevance would give [1, 2, ...]; the exact duplicate of the
    # first pick scores 0.49 - 0.5 < any diverse candidate and is
    # demoted below 4 (mmr 0.25 - 0.245)
    assert picks == [1, 4, 2]
    assert [r["rank"] for r in got] == [1, 2, 3]


def test_mmr_topk_lambda_one_is_pure_relevance(spark):
    from distributed_vector_database_spark.operators.knn import mmr_topk

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.5, 0.5]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        r["vec_id"]
        for r in mmr_topk(corpus, [1.0, 0.0], k=3, pool=4, lam=1.0)
        .orderBy("rank")
        .collect()
    ]
    # lam=1: redundancy term vanishes -> relevance order
    assert got == [1, 2, 4]


def test_mmr_topk_string_key_and_null_zero_norm_rows(spark):
    """ADVICE r7: non-long keys must flow through the output schema,
    and null / zero-norm embeddings must be dropped before the pool."""
    from distributed_vector_database_spark.operators.knn import mmr_topk

    corpus = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", [0.8, 0.6]),
            ("c", [0.0, 1.0]),
            ("nullrow", None),
            ("zerorow", [0.0, 0.0]),
        ],
        "doc string, embedding array<double>",
    )
    res = mmr_topk(
        corpus, [1.0, 0.0], k=3, pool=10, lam=0.7, key_col="doc"
    ).collect()
    assert len(res) == 3
    assert dict(mmr_topk(
        corpus, [1.0, 0.0], k=3, pool=10, lam=0.7, key_col="doc"
    ).dtypes)["doc"] == "string"
    keys = {r["doc"] for r in res}
    assert "nullrow" not in keys and "zerorow" not in keys
    assert res[0]["doc"] == "a" and res[0]["rank"] == 1


def test_hard_negatives_excludes_same_label_structurally(spark):
    """The nearest same-label row must NEVER appear, even when it is
    closer than every different-label row — exclusion inside the
    kernel, not post-truncation filtering."""
    from distributed_vector_database_spark.operators.knn import hard_negatives

    rows = [
        (0, [0.0, 0.0], "A"),     # anchor
        (1, [0.1, 0.0], "A"),     # nearest overall but same label
        (2, [1.0, 0.0], "B"),
        (3, [2.0, 0.0], "B"),
        (4, [3.0, 0.0], "C"),
        (5, None, "B"),           # null vec: ignored
        (6, [0.2, 0.0], None),    # null label: ignored
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = hard_negatives(
        emb, emb.filter("vec_id = 0"), k=2
    ).collect()
    assert [(r["vec_id"], r["rank"]) for r in got] == [(2, 1), (3, 2)]
    assert all(r["anchor_id"] == 0 for r in got)

    # anchor guard fails fast
    import pytest as _pt

    with _pt.raises(ValueError):
        hard_negatives(emb, emb, k=1, max_anchor_rows=2)


def test_contrastive_triplets_positive_and_negatives(spark):
    """Positive = nearest SAME-label row excluding the anchor;
    negatives = ranked different-label rows; an anchor whose label has
    no other member emits nothing."""
    from distributed_vector_database_spark.operators.knn import (
        build_contrastive_triplets,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], "A"),   # anchor
            (1, [0.5, 0.0], "A"),   # the positive
            (2, [0.1, 0.0], "B"),   # neg rank 1 (closer than positive!)
            (3, [1.0, 0.0], "B"),   # neg rank 2
            (9, [9.0, 9.0], "C"),   # anchor with a singleton label
        ],
        "vec_id long, embedding array<double>, label string",
    )
    rows = build_contrastive_triplets(
        emb, emb.filter(F.col("vec_id").isin(0, 9)), n_negatives=2
    ).collect()
    assert all(r["anchor_id"] == 0 for r in rows)  # anchor 9: no positive
    assert all(r["positive_id"] == 1 for r in rows)
    assert [(r["negative_id"], r["neg_rank"]) for r in rows] == [(2, 1), (3, 2)]
    assert rows[0]["pos_score"] == 0.25 and rows[0]["neg_score"] == 0.01
