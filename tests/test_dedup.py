"""Dedup tiers: constructed duplicates must be found."""

from distributed_vector_database_spark.operators.dedup import (
    dedup_by_key,
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = "doc_id long, text string"


def test_exact_dedup_collapses(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after normalization
            (3, "something else"),
        ],
        DOCS,
    )
    res = {r["rep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert res == {1: 2, 3: 1}


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),          # near-duplicate
            (3, "completely different words about spark query engines"),
        ],
        DOCS,
    )


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(_near_dup_docs(spark), threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_minhash_candidates_include_near_dup(spark):
    pairs = minhash_lsh_pairs(_near_dup_docs(spark)).collect()
    assert (1, 2) in {(p["id_a"], p["id_b"]) for p in pairs}
    m = {(p["id_a"], p["id_b"]): p["sig_match"] for p in pairs}
    assert m[(1, 2)] > 0.5


def test_simhash_identical_docs_hamming_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z w")],
        DOCS,
    )
    pairs = {(p["id_a"], p["id_b"]): p["hamming"] for p in simhash_pairs(docs, 3).collect()}
    assert pairs.get((1, 2)) == 0


def test_embedding_near_dup_finds_duplicate_vector(spark):
    v = [1.0, 2.0, 3.0, 4.0]
    w = [-4.0, 3.0, -2.0, 1.0]
    emb = spark.createDataFrame(
        [(1, v), (2, list(v)), (3, w)], "vec_id long, embedding array<double>"
    )
    pairs = embedding_near_dup(emb, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"], p["cosine"]) for p in pairs] == [(1, 2, 1.0)]


def test_embedding_near_dup_cross_block_pair(spark):
    # block_rows=1 forces one row per block; ids 1 and 18 land in
    # different blocks and the blocked matmul must still surface the
    # pair exactly once (off-diagonal block-pair path)
    v = [1.0, 0.0, 2.0]
    emb = spark.createDataFrame(
        [(1, v), (18, list(v)), (5, [9.0, -1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_dup(emb, threshold=0.99, block_rows=1).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 18)]


def _planted_twin_corpus(spark, n_base=400, dim=16, twin_every=10, jitter=0.01):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(n_base, dim))
    rows = [(int(i), base[i].tolist()) for i in range(n_base)]
    rows += [
        (n_base + i, (base[i] + rng.normal(scale=jitter, size=dim)).tolist())
        for i in range(0, n_base, twin_every)
    ]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        n_base // twin_every,
    )


def test_embedding_near_dup_at_scale_single_cluster_is_exact(spark):
    """Below target_cluster_rows the scale path must delegate to the
    exact kernel — identical pairs AND cosines."""
    from distributed_vector_database_spark.operators.dedup import (
        embedding_near_dup_at_scale,
    )

    emb, _ = _planted_twin_corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.cosine for r in embedding_near_dup(emb, 0.9).collect()
    }
    scaled = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_at_scale(emb, 0.9).collect()
    }
    assert scaled == exact


def test_embedding_near_dup_at_scale_clustered_recall(spark):
    """Multi-cluster path: every planted twin pair is recovered (they
    co-cluster at near-dup similarity), cosines equal the exact
    kernel's, and there are zero false positives."""
    from distributed_vector_database_spark.operators.dedup import (
        embedding_near_dup_at_scale,
    )

    emb, n_twins = _planted_twin_corpus(spark)
    exact = {
        (r.id_a, r.id_b): r.cosine for r in embedding_near_dup(emb, 0.9).collect()
    }
    assert len(exact) >= n_twins
    scaled = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_at_scale(
            emb, 0.9, target_cluster_rows=64, probe=2
        ).collect()
    }
    assert set(scaled) <= set(exact), "scale path emitted a non-exact pair"
    assert all(scaled[p] == exact[p] for p in scaled)
    recall = len(scaled) / len(exact)
    assert recall == 1.0, f"planted twins must co-cluster, recall={recall}"


def test_dedup_by_key_first_wins(spark):
    df = spark.createDataFrame(
        [("k1", "first", 0), ("k1", "second", 1), ("k2", "only", 0)],
        "key string, val string, ord int",
    )
    res = {r["key"]: r["val"] for r in dedup_by_key(df, "key", "ord").collect()}
    assert res == {"k1": "first", "k2": "only"}


def test_minhash_bucket_cap_preserves_components(spark):
    """bucket_cap=1 forces EVERY bucket onto the star-edge path; the
    connected components of the resulting pairs must match the uncapped
    candidate graph (the skew escape hatch trades exhaustive pairs for
    O(B) edges, never connectivity)."""
    from distributed_vector_database_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),
            (3, base + " tonight!"),
            (4, "completely different words about spark query engines"),
            (5, "another unrelated document entirely about cooking pasta"),
        ],
        DOCS,
    )
    ids = docs.selectExpr("doc_id as id")

    full = minhash_lsh_pairs(docs)
    capped = minhash_lsh_pairs(docs, bucket_cap=1)

    comp_full = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, full).collect()}
    comp_capped = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, capped).collect()}
    assert comp_full == comp_capped
    # star edges always run min-id first
    for r in capped.collect():
        assert r["id_a"] < r["id_b"]


def test_simhash_bucket_cap_star_edges(spark):
    """bucket_cap=1 forces every block bucket onto the star-edge path;
    duplicate docs (hamming 0) must stay connected through the min-id
    rep, edges keep the id_a < id_b orientation, and every emitted edge
    is still Hamming-verified."""
    from distributed_vector_database_spark.operators.dedup import dedup_clusters

    t = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, t), (4, "totally different content here now")],
        DOCS,
    )
    ids = docs.selectExpr("doc_id as id")
    full = simhash_pairs(docs, 3)
    capped = simhash_pairs(docs, 3, bucket_cap=1)
    comp_full = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, full).collect()}
    comp_capped = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, capped).collect()}
    assert comp_full == comp_capped == {1: 1, 2: 1, 3: 1, 4: 4}
    rows = capped.collect()
    assert rows and all(r["id_a"] < r["id_b"] and r["hamming"] <= 3 for r in rows)


def test_minhash_incremental_matches_batch_recompute(spark):
    """Band-joining a new batch against the persisted corpus signature
    table must produce exactly the batch-recompute's pairs that touch a
    new doc — same ids, same sig_match values — without re-shingling
    the corpus."""
    from distributed_vector_database_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus_rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different words about spark query engines"),
    ]
    new_rows = [
        (10, base + " tonight!"),          # near-dup of 1/2
        (11, "fresh unrelated material"),  # no partner
        (12, base + " tonight!"),          # dup of 10 (within-batch pair)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    sigs = minhash_signatures(corpus)
    inc = {
        (r.id_a, r.id_b): r.sig_match
        for r in minhash_lsh_pairs_incremental(new, sigs).collect()
    }
    full = {
        (r.id_a, r.id_b): r.sig_match
        for r in minhash_lsh_pairs(
            spark.createDataFrame(corpus_rows + new_rows, "doc_id long, text string")
        ).collect()
    }
    new_ids = {10, 11, 12}
    want = {p: v for p, v in full.items() if p[0] in new_ids or p[1] in new_ids}
    assert inc == want and any(p == (10, 12) for p in inc)


def test_ngram_jaccard_scale_path_verifies_candidates(spark, tables):
    """Two-tier (MinHash candidates -> exact Jaccard verify) must agree
    with the brute-force oracle ON THE CANDIDATE SET, and find every
    exact duplicate (identical docs collide in all bands)."""
    from distributed_vector_database_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_scale,
    )

    docs = tables["documents"]
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs).select("id_a", "id_b").collect()
    }
    scale = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_scale(docs, threshold=0.2).collect()
    }
    # exactness on the proposed set: scale == brute restricted to candidates
    assert scale == {p: j for p, j in brute.items() if p in cand}

    # planted exact duplicates are always recalled
    import pyspark.sql.functions as F

    twin = docs.limit(50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    with_twins = docs.unionByName(twin)
    found = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs_scale(with_twins, threshold=0.99).collect()
    }
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.limit(50).collect()}
    assert expected <= found


# ---- duplicate-span (ExactSubstr-style) dedup -------------------------


def _span_docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta unique one"),
            (2, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
            (3, "totally different words here nothing shared at all right"),
            (4, "short doc"),
            (5, ""),
            (6, "alpha beta gamma delta epsilon zeta eta theta unique one"),
        ],
        DOCS,
    )


def test_duplicate_span_report(spark):
    from distributed_vector_database_spark.operators.dedup import (
        duplicate_span_report,
    )

    rep = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in duplicate_span_report(_span_docs(spark), k=8).collect()
    }
    # docs 1 and 6 are identical (all 3 windows duplicated); doc 2
    # shares exactly the 8-token run starting at 'alpha'; sub-k docs
    # have zero windows, never a phantom whole-doc shingle
    assert rep == {1: (3, 3), 2: (3, 1), 3: (2, 0), 4: (0, 0), 5: (0, 0), 6: (3, 3)}


def test_remove_duplicate_spans_keeps_canonical(spark):
    from distributed_vector_database_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_spans(_span_docs(spark), k=8).collect()
    }
    # global-first occurrence (doc 1) survives intact; the exact dup
    # (doc 6) is erased; doc 2 keeps only its novel prefix/suffix;
    # untouched docs round-trip through the tokenizer unchanged
    assert out[1] == ("alpha beta gamma delta epsilon zeta eta theta unique one", 0)
    assert out[6] == ("", 10)
    assert out[2] == ("prefix suffix", 8)
    assert out[3][1] == 0 and out[4][1] == 0 and out[5] == ("", 0)


def test_incremental_span_dedup_matches_full_recompute(spark):
    from distributed_vector_database_spark.operators.dedup import (
        remove_duplicate_spans,
        remove_duplicate_spans_incremental,
        span_gram_state,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta unique one"),
            (2, "totally different words here nothing shared at all right"),
        ],
        DOCS,
    )
    batch = spark.createDataFrame(
        [
            # repeats corpus doc 1's 8-token run -> fully flagged
            (10, "alpha beta gamma delta epsilon zeta eta theta fresh tail"),
            # within-batch duplicate pair: 11 canonical, 12 stripped
            (11, "brand new span aa bb cc dd ee ff gg hh"),
            (12, "brand new span aa bb cc dd ee ff gg hh"),
            (13, "nothing duplicated in this one at all whatsoever truly"),
        ],
        DOCS,
    )
    state = span_gram_state(corpus, k=8)
    cleaned, delta = remove_duplicate_spans_incremental(batch, state, k=8)
    inc = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in cleaned.collect()
    }
    full = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_spans(corpus.unionByName(batch), k=8).collect()
        if r["doc_id"] >= 10
    }
    assert inc == full
    assert inc[10][1] == 8 and inc[12] == ("", 11) and inc[13][1] == 0
    # merged state equals rebuilding from scratch
    merged = (
        state.unionByName(delta)
        .groupBy("gram")
        .agg({"n": "sum"})
        .withColumnRenamed("sum(n)", "n")
    )
    rebuilt = span_gram_state(corpus.unionByName(batch), k=8)
    assert (
        sorted((r["gram"], r["n"]) for r in merged.collect())
        == sorted((r["gram"], r["n"]) for r in rebuilt.collect())
    )


def test_embedding_near_dup_scale_jl_assignment(spark):
    """JL-projected coarse assignment: emitted pairs remain EXACT
    full-dimension cosines, and on clustered data with planted twins
    recall matches the unprojected path."""
    import numpy as np

    from distributed_vector_database_spark.operators.dedup import (
        embedding_near_dup_at_scale,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(6, 64)) * 5.0
    rows = []
    for i in range(600):
        v = centers[i % 6] + rng.normal(size=64) * 0.5
        rows.append((i, [float(x) for x in v]))
    # planted twins: tiny jitter on every 10th vector
    for i in range(0, 600, 10):
        v = np.asarray(rows[i][1]) + rng.normal(size=64) * 1e-3
        rows.append((1000 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kw = dict(threshold=0.999, target_cluster_rows=64, probe=2)
    base = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_at_scale(emb, **kw).collect()
    }
    jl = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_at_scale(emb, assign_dim=16, **kw).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 600, 10)}
    assert planted <= set(base)
    assert planted <= set(jl)  # JL assignment keeps the true twins
    # cosines for shared pairs are identical: verification is full-d
    for p in planted:
        assert jl[p] == base[p]


def test_bucketed_span_state_probe_prunes_and_matches(spark, tmp_path):
    from distributed_vector_database_spark.operators.dedup import (
        remove_duplicate_spans_incremental,
        span_gram_state,
        span_state_probe,
        span_state_write,
    )
    from distributed_vector_database_spark.plans.explain import formatted_plan

    corpus = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h w{i}i") for i in range(50)]
        + [(99, "alpha beta gamma delta epsilon zeta eta theta tail")],
        DOCS,
    )
    path = str(tmp_path / "grams")
    span_state_write(span_gram_state(corpus, k=8), path, n_buckets=32)

    batch = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta eta theta fresh")], DOCS
    )
    probe = span_state_probe(spark, path, batch, k=8)
    # partition pruning reached the scan: only the batch's bucket values
    plan = formatted_plan(probe)
    assert "bucket" in plan and "dynamicpruning" not in plan.lower()

    # cleaning against the pruned slice == cleaning against the full state
    full = span_gram_state(corpus, k=8)
    c_pruned, _ = remove_duplicate_spans_incremental(batch, probe, k=8)
    c_full, _ = remove_duplicate_spans_incremental(batch, full, k=8)
    assert sorted(map(tuple, c_pruned.collect())) == sorted(
        map(tuple, c_full.collect())
    )
    # the reposted 8-token run is flagged through the pruned probe
    assert c_pruned.first()["n_removed_tokens"] == 8


def test_embedding_near_dup_incremental_equals_union_recompute(spark):
    """Continual-ingest SemDeDup: batch-vs-corpus pairs under a frozen
    model must equal the at-scale recompute over corpus ∪ batch (same
    model) restricted to batch-touching pairs — the minhash
    incremental contract applied to embeddings."""
    import numpy as np

    from distributed_vector_database_spark.operators.dedup import (
        _triangle_pairs_kernel,
        embedding_cluster_assign,
        embedding_cluster_model,
        embedding_near_dup_incremental,
    )

    rng = np.random.default_rng(31)
    dim = 16
    base_rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(400)
    ]
    # batch: 30 fresh vectors, 10 near-twins of corpus rows, 5 in-batch
    # twin pairs
    batch_rows = [
        (1000 + i, [float(x) for x in rng.normal(size=dim)]) for i in range(30)
    ]
    for j in range(10):
        v = np.asarray(base_rows[j * 7][1]) + rng.normal(size=dim) * 1e-3
        batch_rows.append((1100 + j, [float(x) for x in v]))
    for j in range(5):
        v = np.asarray(batch_rows[j][1]) + rng.normal(size=dim) * 1e-3
        batch_rows.append((1200 + j, [float(x) for x in v]))

    corpus = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    model = embedding_cluster_model(corpus, target_cluster_rows=64)
    corpus_assigned = embedding_cluster_assign(corpus, model, probe=2)

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_incremental(
            batch, corpus_assigned, model, threshold=0.98, probe=2
        ).collect()
    }

    # union recompute under the SAME frozen model
    union_assigned = corpus_assigned.unionByName(
        embedding_cluster_assign(batch, model, probe=2)
    )
    all_pairs = union_assigned.groupBy("cluster").applyInPandas(
        _triangle_pairs_kernel(0.98),
        schema="id_a long, id_b long, cosine double",
    ).dropDuplicates(["id_a", "id_b"])
    batch_ids = {r[0] for r in batch_rows}
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in all_pairs.collect()
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    }
    assert got == want
    # every planted twin pair found (corpus-batch and batch-batch legs)
    planted_cb = {(j * 7, 1100 + j) for j in range(10)}
    planted_bb = {(1000 + j, 1200 + j) for j in range(5)}
    assert (planted_cb | planted_bb) <= set(got)
    # no corpus-corpus pairs leak into the incremental report
    assert all(a in batch_ids or b in batch_ids for a, b in got)


def test_select_canonical_keeps_best_quality_member(spark):
    """Canonical pick = highest quality in the cluster, tie -> smaller
    id; singletons are their own canonical."""
    from distributed_vector_database_spark.operators.dedup import (
        select_canonical,
    )

    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "id long, rep_id long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (9, 0.5)], "id long, quality double"
    )
    got = {
        r["id"]: (r["canonical_id"], r["is_canonical"])
        for r in select_canonical(members, scores).collect()
    }
    # 2 and 3 tie at 0.9 -> smaller id (2) wins; 1 is dropped
    assert got == {
        1: (2, False),
        2: (2, True),
        3: (2, False),
        9: (9, True),
    }


def test_select_canonical_missing_score_sorts_last(spark):
    from distributed_vector_database_spark.operators.dedup import (
        select_canonical,
    )

    members = spark.createDataFrame([(1, 1), (2, 1)], "id long, rep_id long")
    scores = spark.createDataFrame([(2, 0.1)], "id long, quality double")
    got = {
        r["id"]: r["canonical_id"]
        for r in select_canonical(members, scores).collect()
    }
    # id 1 has no score -> nulls last -> 2 is canonical despite id order
    assert got == {1: 2, 2: 2}


def test_record_link_best_match_and_same_id_pairs(spark):
    """Cross-catalog linkage: same-id pairs are legitimate matches
    (unlike intra-corpus dedup), each left record keeps only its best
    right match, and non-candidates never surface."""
    from distributed_vector_database_spark.operators.dedup import record_link

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    left = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about database engines"),
         (3, base + " today")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(1, base + " again"),             # near-dup of left 1 AND left 3
         (5, base),                        # exact text of left 1
         (9, "nothing in common here at all with anything else")],
        "doc_id long, text string",
    )
    rows = {r["id_a"]: r for r in record_link(
        left, right, threshold=0.3
    ).collect()}
    # left 1 matches right 5 exactly (jaccard 1.0) — beats right 1
    assert rows[1]["id_b"] == 5 and rows[1]["jaccard"] == 1.0
    # left 3 links to its best near-dup
    assert rows[3]["id_b"] in (1, 5) and rows[3]["jaccard"] >= 0.3
    # unrelated left 2 has no row
    assert 2 not in rows

    # best_only=False returns every verified pair, not just argmax
    all_pairs = record_link(left, right, threshold=0.3, best_only=False)
    assert all_pairs.count() >= len(rows)


def test_record_link_incremental_matches_full_recompute(spark):
    """Batch-vs-persisted-signatures linkage must agree with the full
    record_link over (batch, right catalog) — the right side is never
    re-shingled (it enters only as its persisted signature table plus
    candidate hydrations)."""
    from distributed_vector_database_spark.operators.dedup import (
        minhash_signatures,
        record_link,
        record_link_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    right = spark.createDataFrame(
        [(100, base), (101, "unrelated database engine text entirely"),
         (102, base + " delta")],
        "doc_id long, text string",
    )
    right_sigs = minhash_signatures(right)
    batch = spark.createDataFrame(
        [(1, base + " tonight"), (2, "nothing shared with anything")],
        "doc_id long, text string",
    )
    inc = sorted(
        map(tuple, record_link_incremental(
            batch, right_sigs, right, threshold=0.3
        ).collect())
    )
    full = sorted(
        map(tuple, record_link(batch, right, threshold=0.3).collect())
    )
    assert inc == full and len(inc) >= 1
    assert all(r[0] == 1 for r in inc)  # only the near-dup batch row links


def test_dedup_clusters_reliable_mode_parity(spark, tmp_path, cc_path):
    # the durable-checkpoint materialization mode (executor-loss
    # safety, functions/materialize.py) must not change the labeling
    from distributed_vector_database_spark.operators.dedup import (
        dedup_clusters,
    )

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    ids = spark.createDataFrame([(i,) for i in range(12)], "id long")
    # a chain (0..5) exercising pointer doubling + a pair + singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (7, 8)],
        "id_a long, id_b long",
    )
    local = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, pairs).collect()}
    durable = {
        r["id"]: r["rep_id"]
        for r in dedup_clusters(ids, pairs, reliable=True).collect()
    }
    assert local == durable
    assert durable[5] == 0 and durable[8] == 7 and durable[11] == 11


def test_embedding_near_dup_adaptive_probe_beats_fixed(spark, tables):
    """The scale-aware knobs (fractional probe cap + threshold-derived
    margin, r13): on the fixture corpus forced into many small
    clusters, adaptive probing recovers >= the fixed-probe recall and
    stays exact-only (no false positives). This is the configuration
    the sf1 gate certified flat (0.99+/0.98) across a 1000x range
    where fixed probe=3 decayed to 0.59."""
    from distributed_vector_database_spark.operators.dedup import (
        embedding_near_dup_at_scale,
    )

    emb = tables["embeddings"]
    exact = {
        (r.id_a, r.id_b) for r in embedding_near_dup(emb, 0.35).collect()
    }
    assert exact
    fixed = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_at_scale(
            emb, 0.35, target_cluster_rows=64, probe=3
        ).collect()
    }
    adaptive = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_at_scale(
            emb, 0.35, target_cluster_rows=64, probe=0.2,
            probe_margin="auto",
        ).collect()
    }
    assert adaptive <= exact  # still exact-verified, no false positives
    assert len(adaptive) >= len(fixed)
    assert len(adaptive) / len(exact) >= 0.95
