"""Cluster resolution (connected components) + sequence packing."""

import pytest

from distributed_vector_database_spark.operators.dedup import dedup_clusters
from distributed_vector_database_spark.operators.hnsw import hnsw_partition_topk
from distributed_vector_database_spark.operators.textops import pack_documents


def test_dedup_clusters_components(spark, cc_path):
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id long")
    # chain 1-2-3-4 (tests multi-hop propagation), pair 10-11, singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_long_chain_converges_logarithmically(spark, cc_path):
    """A 4096-node PATH graph (the boilerplate-corpus worst case) must
    resolve within ~log2(n) rounds, not O(diameter): pointer doubling
    makes 12 iterations enough where pure min-label propagation would
    need 4095. The one-task path has no rounds; it must agree."""
    n = 4096
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["rep_id"]
        for r in dedup_clusters(ids, pairs, max_iterations=12).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_dedup_clusters_no_pairs(spark, cc_path):
    ids = spark.createDataFrame([(i,) for i in range(5)], "id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["id"]: r["rep_id"] for r in dedup_clusters(ids, pairs).collect()}
    assert got == {i: i for i in range(5)}


def _union_find_reps(ids, pairs):
    """Pure-Python reference: {id: min id of its component} over every
    id and every non-null pair endpoint."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in ids:
        find(i)
    for a, b in pairs:
        if a is None or b is None:
            for x in (a, b):
                if x is not None:
                    find(x)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dedup_clusters_paths_match_union_find_reference(
    spark, cc_path, persisted_rdds
):
    """Both paths equal a union-find reference on a seeded random graph,
    and keep the label table's edge rules: a self-pair labels its id
    itself, a null endpoint yields exactly one (null, null) row, and
    endpoints missing from all_ids are labelled too. The loop path
    releases each superseded round: the result holds at most its two
    materialized frames (edge nodes, last labels), and the edge cache
    is gone."""
    import random

    rng = random.Random(10)
    ids = list(range(1, 7)) + list(range(100, 400))
    # subcritical random graph (mean degree ~0.9): many small trees
    pairs = [tuple(sorted(rng.sample(range(100, 400), 2))) for _ in range(140)]
    pairs += [(3, 3), (None, 5), (9, 10), (1, 2)]
    ids_df = spark.createDataFrame([(i,) for i in ids], "id long")
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    before = persisted_rdds()
    out = dedup_clusters(ids_df, pairs_df, max_iterations=64)
    assert len(persisted_rdds() - before) <= (1 if cc_path == "one_task" else 2)
    rows = out.collect()
    nulls = [r for r in rows if r["id"] is None]
    assert [tuple(r) for r in nulls] == [(None, None)]
    got = {r["id"]: r["rep_id"] for r in rows if r["id"] is not None}
    assert len(got) == len(rows) - 1
    assert got == _union_find_reps(ids, pairs)
    assert got[3] == 3 and got[5] == 5 and got[10] == 9 and got[2] == 1


def test_dedup_clusters_small_graph_runs_few_jobs(spark, spark_jobs, tmp_path):
    """A candidate graph at or below CC_ONE_TASK_MAX_EDGES resolves in
    one task: the whole call, read from a parquet pair file, runs at
    most 10 Spark jobs (the round loop ran ~40 on such a graph)."""
    path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(i, i + 1) for i in range(0, 600, 2)]
        + [(i, i + 3) for i in range(0, 600, 5)],
        "id_a long, id_b long",
    ).write.parquet(path)
    ids = spark.range(700).select("id")
    pairs = spark.read.parquet(path)
    assert spark_jobs(lambda: dedup_clusters(ids, pairs).collect()) <= 10


def test_pack_documents_budget_respected(tables):
    out = pack_documents(tables["documents"], token_budget=512)
    rows = out.collect()
    assert all(0 <= r["bin_offset"] < 512 for r in rows)
    # bins are contiguous from 0 within each stratum
    for lang in {r["lang"] for r in rows}:
        bins = sorted({r["bin_id"] for r in rows if r["lang"] == lang})
        assert bins[0] == 0 and bins == list(range(len(bins)))


def test_pack_documents_cumsum_consistency(spark):
    docs = spark.createDataFrame(
        [(i, "x", " ".join(["w"] * 100)) for i in range(10)],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in pack_documents(docs, token_budget=250).collect()}
    # 100-token docs, budget 250: docs 0,1,2 start before 250 ... pattern
    assert [rows[i]["bin_id"] for i in range(6)] == [0, 0, 0, 1, 1, 2]


def test_hnsw_partition_topk_runs_without_native_library(tables):
    """Per-partition HNSW needs no hnswlib — the numpy graph
    (operators/hnsw.py) serves it; results are (key, score) rows."""
    out = hnsw_partition_topk(tables["embeddings"], [0.0] * 64, k=5).collect()
    assert len(out) == 5
    assert [r["score"] for r in out] == sorted(r["score"] for r in out)


def test_materialize_bins_reconstructs_members_in_order(spark):
    from distributed_vector_database_spark.operators.textops import (
        materialize_bins,
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(i, "en", " ".join(f"t{i}w{j}" for j in range(10))) for i in range(10)],
        "doc_id long, lang string, text string",
    )
    bins = {r["bin_id"]: r for r in materialize_bins(docs, token_budget=25).collect()}
    assign = pack_documents(docs, token_budget=25).collect()
    # every doc's tokens appear in its assigned bin, in pack order
    by_bin = {}
    for r in sorted(assign, key=lambda r: (r["bin_id"], r["bin_offset"], r["doc_id"])):
        by_bin.setdefault(r["bin_id"], []).append(r["doc_id"])
    for b, members in by_bin.items():
        expect = " </s> ".join(
            " ".join(f"t{i}w{j}" for j in range(10)) for i in members
        )
        assert bins[b]["packed_text"] == expect
        assert bins[b]["n_docs"] == len(members)
        assert bins[b]["n_tokens"] == 10 * len(members)


def test_build_training_examples_slices_exactly(spark):
    """5 docs of known sizes, seq_len=7: every example has exactly 7
    tokens (incl. <eod> markers), concatenating examples reproduces
    the prefix of the global hash-ordered stream, the trailing partial
    is dropped, and n_docs counts every contributing doc."""
    import hashlib

    from distributed_vector_database_spark.operators.textops import (
        build_training_examples,
    )

    docs = [(i, " ".join(f"d{i}w{j}" for j in range(3 + i))) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    L = 7
    got = build_training_examples(df, seq_len=L, seed="s").collect()

    # reference computation in plain python
    order = sorted(
        docs, key=lambda d: (hashlib.md5(f"{d[0]}s".encode()).hexdigest(), d[0])
    )
    stream = []
    bounds = []
    for did, text in order:
        toks = text.split(" ") + ["<eod>"]
        bounds.append((len(stream), len(stream) + len(toks)))
        stream.extend(toks)
    n_examples = len(stream) // L
    assert len(got) == n_examples and n_examples >= 2

    rows = {r["example_id"]: r for r in got}
    for e in range(n_examples):
        toks = rows[e]["text"].split(" ")
        assert toks == stream[e * L : (e + 1) * L]
        want_docs = sum(
            1 for s, t in bounds if s < (e + 1) * L and t > e * L
        )
        assert rows[e]["n_docs"] == want_docs


def test_dedup_clusters_incremental_equals_batch_recompute(spark, cc_path):
    """fold(labels(P1), P2) == dedup_clusters(all, P1 ∪ P2) across the
    hard cases: a new edge MERGING two old components, a brand-new id
    that becomes its component's rep (smaller than the old min), a
    chain extended across the batch boundary, and untouched
    components / singletons passing through verbatim."""
    from distributed_vector_database_spark.operators.dedup import (
        dedup_clusters_incremental,
    )
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(2, 13)], ["id"])
    p1 = spark.createDataFrame(
        [(4, 5), (5, 6),        # component A: {4,5,6} rep 4
         (8, 9),                # component B: {8,9} rep 8
         (11, 12)],             # component C (never touched again)
        ["id_a", "id_b"],
    )  # 2, 3, 7, 10 singletons
    labels = dedup_clusters(ids, p1).localCheckpoint()

    p2 = spark.createDataFrame(
        [(6, 8),                # merges A and B -> rep 4
         (2, 9),                # chains singleton 2 in -> rep becomes 2
         (3, 14)],              # old singleton 3 + NEW id 14
        ["id_a", "id_b"],
    )
    all_ids = ids.unionByName(spark.createDataFrame([(14,)], ["id"]))
    want = {
        r["id"]: r["rep_id"]
        for r in dedup_clusters(all_ids, p1.unionByName(p2)).collect()
    }
    got = {
        r["id"]: r["rep_id"]
        for r in dedup_clusters_incremental(labels, p2).collect()
    }
    assert got == want
    assert got[8] == 2 and got[4] == 2      # merged through the chain
    assert got[14] == 3 and got[3] == 3     # new id joins old singleton
    assert got[11] == 11 and got[12] == 11  # untouched component intact
    assert got[7] == 7 and got[10] == 10    # singletons verbatim

    # an EMPTY batch with declared new ids just appends singletons
    extra = spark.createDataFrame([(99,)], ["id"])
    got2 = {
        r["id"]: r["rep_id"]
        for r in dedup_clusters_incremental(
            labels, p2.limit(0), new_ids=extra
        ).collect()
    }
    assert got2[99] == 99
    assert {k: v for k, v in got2.items() if k != 99} == {
        r["id"]: r["rep_id"] for r in labels.collect()
    }

    # new_ids OVERLAPPING the persisted labeling (r9 ADVICE): an
    # already-labeled id in an UNTOUCHED component must keep its old
    # rep and appear exactly once — not also re-emitted as rep=self
    # from the resolve scope (whose hydration never sees its stars)
    overlap = spark.createDataFrame([(12,), (99,)], ["id"])  # 12 ∈ C
    out3 = dedup_clusters_incremental(
        labels, p2.limit(0), new_ids=overlap
    ).collect()
    rows12 = [r for r in out3 if r["id"] == 12]
    assert rows12 == [(12, 11)] or (
        len(rows12) == 1 and rows12[0]["rep_id"] == 11
    )
    assert len(out3) == len({r["id"] for r in out3})  # no dup ids at all
    got3 = {r["id"]: r["rep_id"] for r in out3}
    assert got3[99] == 99

    # same overlap but with a non-empty batch touching OTHER
    # components: 12's old label still passes through exactly once
    out4 = dedup_clusters_incremental(labels, p2, new_ids=overlap).collect()
    assert len(out4) == len({r["id"] for r in out4})
    got4 = {r["id"]: r["rep_id"] for r in out4}
    assert got4[12] == 11 and got4[99] == 99
