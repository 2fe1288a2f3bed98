"""BM25 + reciprocal-rank-fusion operator tests (operators/lexical.py)."""

from __future__ import annotations

import math

import pytest

from distributed_vector_database_spark.operators.lexical import (
    _idf_py,
    bm25_search,
    hybrid_rrf,
)

K1, B = 1.2, 0.75


def _py_bm25(corpus: dict[int, str], terms: list[str]) -> dict[int, float]:
    """Reference implementation: plain-python Okapi BM25 over a dict of
    doc_id -> text, same tokenization (lowercase whitespace split)."""
    toks = {d: t.lower().split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out: dict[int, float] = {}
    for d, t in toks.items():
        s = 0.0
        for term in terms:
            tf = float(t.count(term))
            df = sum(1 for tt in toks.values() if term in tt)
            s += _idf_py(n, df) * tf / (tf + K1 * (1 - B + B * len(t) / avgdl))
        if any(term in t for term in terms):
            out[d] = round(s, 6)
    return out


CORPUS = {
    0: "spark runs a filter then a join on the table",
    1: "the join is a broadcast join over spark spark spark",
    2: "nothing relevant here at all just words and words",
    3: "filter filter filter",
}


def test_bm25_matches_reference_math(spark):
    docs = spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(docs, ["spark", "filter", "join"], k=10).collect()
    }
    want = _py_bm25(CORPUS, ["spark", "filter", "join"])
    assert set(got) == set(want)  # doc 2 (no query term) excluded
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-6)


def test_bm25_ordering_and_k(spark):
    docs = spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], ["doc_id", "text"]
    )
    rows = bm25_search(docs, ["filter"], k=2).collect()
    assert len(rows) == 2
    # doc 3 is a pure repetition of the term -> highest tf saturation
    assert rows[0]["doc_id"] == 3
    assert rows[0]["score"] >= rows[1]["score"]


def test_bm25_rejects_empty_query(spark):
    docs = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_search(docs, [])


def test_hybrid_rrf_math_and_missing_docs(spark):
    # lexical list: higher=better; vector list: lower=better
    lex = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)], ["doc_id", "score"])
    vec = spark.createDataFrame([(2, 0.1), (4, 0.2)], ["doc_id", "score"])
    got = {
        r["doc_id"]: r["rrf_score"]
        for r in hybrid_rrf(lex, vec, k=10, c=60).collect()
    }
    # ranks: lex 1->1, 2->2, 3->3 ; vec 2->1, 4->2
    want = {
        1: 1 / 61,
        2: 1 / 62 + 1 / 61,
        3: 1 / 63,
        4: 1 / 62,
    }
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(round(s, 6), abs=1e-6)
    # doc 2 appears in both lists -> fused to the top
    assert max(got, key=got.get) == 2


def test_bm25_on_fixture_is_jvm_only(spark, tables):
    """The scoring plan must stay codegen'd: no Python workers (the whole
    point of the expression formulation), and the top doc must actually
    contain a query term."""
    df = bm25_search(tables["documents"], ["spark", "filter", "join"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    top = df.collect()[0]
    text = (
        tables["documents"]
        .filter(f"doc_id = {top['doc_id']}")
        .collect()[0]["text"]
        .lower()
    )
    assert any(t in text.split() for t in ["spark", "filter", "join"])


# -- property-based invariants (hypothesis) ---------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
corpora = st.lists(
    st.lists(words, min_size=1, max_size=8).map(" ".join),
    min_size=2,
    max_size=6,
)


@given(corpora)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_agrees_with_python_reference_for_any_corpus(spark, texts):
    corpus = dict(enumerate(texts))
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(docs, ["alpha", "gamma"], k=100).collect()
    }
    want = _py_bm25(corpus, ["alpha", "gamma"])
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-6)


@given(corpora)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rrf_bounded_and_top_doc_in_some_list(spark, texts):
    # fuse two arbitrary "result lists" derived from the corpus: scores
    # are doc lengths — rrf must stay within (0, 2/(c+1)] and every
    # fused doc must come from one of the inputs
    rows = [(i, float(len(t))) for i, t in enumerate(texts)]
    a = spark.createDataFrame(rows[: max(1, len(rows) // 2)], ["doc_id", "score"])
    b = spark.createDataFrame(rows[len(rows) // 3 :], ["doc_id", "score"])
    fused = hybrid_rrf(a, b, k=100, c=60).collect()
    in_a = {r[0] for r in rows[: max(1, len(rows) // 2)]}
    in_b = {r[0] for r in rows[len(rows) // 3 :]}
    for r in fused:
        assert r["doc_id"] in in_a | in_b
        # rrf_score is rounded to 6 dp, which can overshoot the exact
        # 2/(c+1) bound by half an ulp of the rounding grid
        assert 0.0 < r["rrf_score"] <= 2.0 / 61.0 + 5e-7


# -- maintained term-stats path ---------------------------------------------

from distributed_vector_database_spark.operators.lexical import (
    merge_term_stats,
    term_stats,
)


def test_bm25_with_stats_table_equals_inline(spark):
    docs = spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], ["doc_id", "text"]
    )
    stats = term_stats(docs)
    inline = {
        (r["doc_id"], r["score"])
        for r in bm25_search(docs, ["spark", "filter", "join"], k=10).collect()
    }
    with_stats = {
        (r["doc_id"], r["score"])
        for r in bm25_search(
            docs, ["spark", "filter", "join"], k=10, stats=stats
        ).collect()
    }
    assert with_stats == inline


def test_bm25_stats_path_stale_stats_degrade_to_df0(spark):
    """If a query term is absent from the stats table (stats lag the
    corpus), the term must score with df=0 — not null out n_docs/avgdl
    for every matched doc (which an aggregate over the empty filtered
    slice would do)."""
    from distributed_vector_database_spark.operators.lexical import term_stats

    old = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    stats = term_stats(old)  # built BEFORE the new doc arrives
    newdoc = [(99, "freshterm freshterm arrives later")]
    docs = old.unionByName(spark.createDataFrame(newdoc, ["doc_id", "text"]))

    got = bm25_search(docs, ["freshterm"], k=5, stats=stats).collect()
    assert len(got) == 1
    assert got[0]["doc_id"] == 99
    assert got[0]["score"] is not None and got[0]["score"] > 0.0


def test_merge_term_stats_is_additive(spark):
    half1 = {k: v for k, v in CORPUS.items() if k < 2}
    half2 = {k: v for k, v in CORPUS.items() if k >= 2}
    d1 = spark.createDataFrame(list(half1.items()), ["doc_id", "text"])
    d2 = spark.createDataFrame(list(half2.items()), ["doc_id", "text"])
    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])

    def snap(df):
        return {
            r["term"]: (r["tf"], r["df"], r["n_docs"], r["total_tokens"])
            for r in df.collect()
        }

    merged = snap(merge_term_stats(term_stats(d1), term_stats(d2)))
    direct = snap(term_stats(dall))
    assert merged == direct


def test_bm25_with_merged_incremental_stats(spark):
    # the continual-ingest path: query with stats maintained across two
    # batches must equal query with stats over the full corpus
    half1 = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 2], ["doc_id", "text"]
    )
    half2 = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k >= 2], ["doc_id", "text"]
    )
    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    maintained = merge_term_stats(term_stats(half1), term_stats(half2))
    got = {
        (r["doc_id"], r["score"])
        for r in bm25_search(dall, ["spark", "join"], k=10, stats=maintained).collect()
    }
    want = {
        (r["doc_id"], r["score"])
        for r in bm25_search(dall, ["spark", "join"], k=10).collect()
    }
    assert got == want


# -- streaming stats maintenance --------------------------------------------


def test_streaming_term_stats_maintenance(spark, tmp_path):
    """Two micro-batches of arriving documents folded into the versioned
    stats snapshot must equal term_stats over the full corpus, and BM25
    served from the maintained snapshot must equal the inline path."""
    import json

    from distributed_vector_database_spark.streaming.lexical_stats import (
        read_latest_stats,
        run_term_stats_stream,
    )

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    (docs_dir / "batch1.json").write_text(
        "".join(json.dumps({"doc_id": k, "text": v}) + "\n"
                for k, v in CORPUS.items() if k < 2)
    )
    (docs_dir / "batch2.json").write_text(
        "".join(json.dumps({"doc_id": k, "text": v}) + "\n"
                for k, v in CORPUS.items() if k >= 2)
    )
    q = run_term_stats_stream(
        spark,
        str(docs_dir),
        str(tmp_path / "stats"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # force 2 micro-batches -> merge path
    )
    q.awaitTermination(120)

    maintained = read_latest_stats(spark, str(tmp_path / "stats"))
    # both micro-batches folded: v=0 (fresh) then v=1 (merged)
    from distributed_vector_database_spark.versioned import latest_version

    assert latest_version(str(tmp_path / "stats")) == 1
    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])

    def snap(df):
        return {
            r["term"]: (r["tf"], r["df"], r["n_docs"], r["total_tokens"])
            for r in df.collect()
        }

    assert snap(maintained) == snap(term_stats(dall))

    served = {
        (r["doc_id"], r["score"])
        for r in bm25_search(dall, ["spark", "join"], k=10, stats=maintained).collect()
    }
    inline = {
        (r["doc_id"], r["score"])
        for r in bm25_search(dall, ["spark", "join"], k=10).collect()
    }
    assert served == inline


def test_bm25_postings_search_equals_inline(spark, tmp_path):
    """Serving from the bucketed posting-list index must reproduce
    bm25_search bit-for-bit (same rounding, same tie-break), for single
    and multi-term queries, including a term absent from the corpus."""
    from distributed_vector_database_spark.operators.lexical import (
        bm25_postings_search,
        postings_write,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "lexidx")
    postings_write(docs, idx, n_buckets=8)
    for q in (["spark"], ["spark", "join"], ["filter", "zzznope"],
              ["spark", "join", "filter"]):
        inline = [(r["doc_id"], r["score"])
                  for r in bm25_search(docs, q, k=10).collect()]
        served = [(r["doc_id"], r["score"])
                  for r in bm25_postings_search(spark, idx, q, k=10).collect()]
        assert served == inline, f"query {q}"


def test_bm25_postings_append_equals_full_rebuild(spark, tmp_path):
    """Index half the corpus, postings_append the other half: serving
    must equal bm25_search over the full corpus (df increments ride the
    appended rows; the corpus summary folds the batch totals)."""
    from distributed_vector_database_spark.operators.lexical import (
        bm25_postings_search,
        postings_append,
        postings_write,
    )

    first = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 2], ["doc_id", "text"]
    )
    second = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k >= 2], ["doc_id", "text"]
    )
    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "incr_idx")
    postings_write(first, idx, n_buckets=8)
    assert postings_append(second, idx, batch_id=1) is True
    for q in (["spark", "join"], ["filter"]):
        inline = [(r["doc_id"], r["score"])
                  for r in bm25_search(dall, q, k=10).collect()]
        served = [(r["doc_id"], r["score"])
                  for r in bm25_postings_search(spark, idx, q, k=10).collect()]
        assert served == inline, f"query {q}"


def test_bm25_postings_append_replay_and_orphans_invisible(spark, tmp_path):
    """Write-audit-publish: a replayed batch_id is skipped; rows from a
    crashed (unpublished) attempt are never served."""
    from distributed_vector_database_spark.operators import lexical as lx

    first = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 2], ["doc_id", "text"]
    )
    second = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k >= 2], ["doc_id", "text"]
    )
    idx = str(tmp_path / "replay_idx")
    lx.postings_write(first, idx, n_buckets=8)
    assert lx.postings_append(second, idx, batch_id=7) is True
    baseline = [(r["doc_id"], r["score"]) for r in
                lx.bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    # replay of batch 7 (at-least-once delivery): no-op
    assert lx.postings_append(second, idx, batch_id=7) is False
    again = [(r["doc_id"], r["score"]) for r in
             lx.bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    assert again == baseline

    # crashed attempt: rows appended under an aid that never published
    toks = second.select("doc_id", lx.tokenize("text").alias("__toks"))
    toks = toks.withColumn("__dl", lx.F.size("__toks"))
    lx._postings_rows(toks, "doc_id", 8, "deadbeef").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{idx}/postings")
    after_orphans = [(r["doc_id"], r["score"]) for r in
                     lx.bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    assert after_orphans == baseline  # orphan rows invisible


def test_postings_compact_preserves_serving_and_drops_orphans(spark, tmp_path):
    """append* -> compact: serving identical, orphan rows physically
    gone, markers folded to one."""
    from distributed_vector_database_spark import versioned
    from distributed_vector_database_spark.operators import lexical as lx

    first = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 2], ["doc_id", "text"]
    )
    second = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k >= 2], ["doc_id", "text"]
    )
    idx = str(tmp_path / "cmp_idx")
    lx.postings_write(first, idx, n_buckets=8)
    lx.postings_append(second, idx, batch_id=1)
    # plant a crashed attempt
    toks = second.select("doc_id", lx.tokenize("text").alias("__toks"))
    toks = toks.withColumn("__dl", lx.F.size("__toks"))
    lx._postings_rows(toks, "doc_id", 8, "orphan1").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{idx}/postings")

    before = [(r["doc_id"], r["score"]) for r in
              lx.bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    kept = lx.postings_compact(spark, idx)
    after = [(r["doc_id"], r["score"]) for r in
             lx.bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    assert after == before
    # folded to one base marker
    assert len(versioned.published_attempts(idx)) == 1
    total_rows = spark.read.parquet(f"{idx}/postings").count()
    assert total_rows == kept  # orphan rows physically dropped


def test_streaming_postings_maintenance(spark, tmp_path):
    """Micro-batches folded through run_postings_stream must serve BM25
    identical to the inline corpus-scan path over the full corpus."""
    import json

    from distributed_vector_database_spark.operators.lexical import (
        bm25_postings_search,
        postings_write,
    )
    from distributed_vector_database_spark.streaming.lexical_postings import (
        run_postings_stream,
    )

    # base index over the first doc; docs 1.. arrive via the stream
    base = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 1], ["doc_id", "text"]
    )
    idx = str(tmp_path / "stream_idx")
    postings_write(base, idx, n_buckets=8)

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    (docs_dir / "b1.json").write_text(
        "".join(json.dumps({"doc_id": k, "text": v}) + "\n"
                for k, v in CORPUS.items() if 1 <= k < 3)
    )
    (docs_dir / "b2.json").write_text(
        "".join(json.dumps({"doc_id": k, "text": v}) + "\n"
                for k, v in CORPUS.items() if k >= 3)
    )
    q = run_postings_stream(
        spark, str(docs_dir), idx, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    inline = [(r["doc_id"], r["score"])
              for r in bm25_search(dall, ["spark", "join"], k=10).collect()]
    served = [(r["doc_id"], r["score"])
              for r in bm25_postings_search(spark, idx, ["spark", "join"], k=10).collect()]
    assert served == inline


def test_bm25_postings_bucket_pruning_in_plan(spark, tmp_path):
    """The serving scan must be partition-pruned to the query terms'
    buckets — the scan's partitionFilters must constrain `bucket`, and
    the number of scanned partitions must be < n_buckets."""
    from distributed_vector_database_spark.operators.lexical import (
        _term_bucket_py,
        bm25_postings_search,
        postings_write,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "lexidx2")
    postings_write(docs, idx, n_buckets=16)
    plan = bm25_postings_search(spark, idx, ["spark"], k=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "bucket" in plan
    # crc32 twin must agree with the JVM-side bucket assignment
    b = _term_bucket_py("spark", 16)
    rows = (
        spark.read.parquet(f"{idx}/postings")
        .filter(f"term = 'spark'")
        .select("bucket")
        .distinct()
        .collect()
    )
    assert [r["bucket"] for r in rows] == [b]


def test_streaming_term_stats_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a crash
    (same batch_id, snapshot already written) must NOT double-count the
    additive tf/df/n_docs/total_tokens merge, and a replay over an
    interrupted snapshot (parquet written, marker missing) must rebuild
    that version from the last complete one."""
    import os

    from distributed_vector_database_spark import versioned
    from distributed_vector_database_spark.streaming import lexical_stats as ls

    stats_dir = str(tmp_path / "stats")
    os.makedirs(stats_dir)
    d1 = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k < 2], ["doc_id", "text"]
    )
    d2 = spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items() if k >= 2], ["doc_id", "text"]
    )

    # drive the REAL fold (the one run_term_stats_stream registers)
    fold = ls.build_fold(stats_dir)

    def snap(df):
        return {
            r["term"]: (r["tf"], r["df"], r["n_docs"], r["total_tokens"])
            for r in df.collect()
        }

    fold(d1, 0)
    after_b0 = snap(ls.read_latest_stats(spark, stats_dir))
    # crash-replay of batch 0: snapshot + marker exist, checkpoint didn't
    # commit -> re-delivered with the same batch_id -> must be a no-op
    fold(d1, 0)
    assert versioned.latest_version(stats_dir) == 0
    assert snap(ls.read_latest_stats(spark, stats_dir)) == after_b0

    fold(d2, 1)
    dall = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    want = snap(term_stats(dall))
    assert snap(ls.read_latest_stats(spark, stats_dir)) == want

    # interrupted write: v=2 parquet exists but marker never landed ->
    # read_latest_stats must serve v=1; replaying batch 2 rebuilds v=2
    snapshot_v1 = snap(spark.read.parquet(f"{stats_dir}/v=1"))
    spark.createDataFrame([("garbage", 1, 1, 9, 9)],
                          ["term", "tf", "df", "n_docs", "total_tokens"]
                          ).write.mode("overwrite").parquet(f"{stats_dir}/v=2")
    assert snap(ls.read_latest_stats(spark, stats_dir)) == snapshot_v1
    fold(d2, 2)  # replayed delivery after the crash
    assert versioned.latest_version(stats_dir) == 2
    got = snap(ls.read_latest_stats(spark, stats_dir))
    # v=2 = v=1 + d2 again; relative to `want` every d2 term is counted
    # once more -- just assert the rebuild used v=1 as base, not garbage
    assert "garbage" not in got
    assert versioned.committed_batch(stats_dir, 2) == 2


def test_hybrid_linear_math(spark):
    from distributed_vector_database_spark.operators.lexical import hybrid_linear

    # lex: higher better (1 best); vec: lower better (2 best)
    lex = spark.createDataFrame([(1, 10.0), (2, 6.0), (3, 2.0)], ["doc_id", "score"])
    vec = spark.createDataFrame([(2, 0.2), (4, 0.6), (5, 1.0)], ["doc_id", "score"])
    got = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_linear(lex, vec, alpha=0.5, k=10).collect()
    }
    # lex norms: 1 -> 1.0, 2 -> 0.5, 3 -> 0.0; vec norms: 2 -> 1.0, 4 -> 0.5, 5 -> 0.0
    want = {1: 0.5, 2: 0.75, 3: 0.0, 4: 0.25, 5: 0.0}
    assert got == {d: round(s, 6) for d, s in want.items()}
    # doc 2 (present and strong in both lists) must win
    assert max(got, key=got.get) == 2


def test_hybrid_linear_constant_list_and_bad_alpha(spark):
    import pytest as _pytest

    from distributed_vector_database_spark.operators.lexical import hybrid_linear

    a = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["doc_id", "score"])
    b = spark.createDataFrame([(1, 0.1)], ["doc_id", "score"])
    got = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_linear(a, b, alpha=0.5, k=10).collect()
    }
    # constant-score list -> every member normalizes to 1.0 (either side)
    assert got == {1: 1.0, 2: 0.5}
    with _pytest.raises(ValueError):
        hybrid_linear(a, b, alpha=1.5)


def test_rerank_crossencoder_reorders_stage1(spark):
    """A candidate with stronger pair features (full query overlap)
    must overtake a higher-BM25 doc after reranking, and stage 2 only
    ever sees stage 1's shortlist."""
    from distributed_vector_database_spark.operators.lexical import (
        rerank_crossencoder,
    )

    docs = spark.createDataFrame(
        [
            # doc 1: many 'spark' repeats -> big bm25, but no overlap
            # with the other query terms (jaccard 1/3-ish)
            (1, "spark " * 30 + "filler " * 5),
            # doc 2: all three query terms once -> modest bm25, high
            # jaccard
            (2, "spark filter join alpha beta"),
            # doc 3: no query terms -> not retrieved at all
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    got = rerank_crossencoder(
        docs, ["spark", "filter", "join"], n_retrieve=5, k=3,
        weights=(-2.0, 0.1, 6.0, 0.5),
    ).orderBy(F.desc("ce_score"), "doc_id").collect()
    ids = [r["doc_id"] for r in got]
    assert 3 not in ids           # never retrieved by stage 1
    assert ids[0] == 2            # jaccard-heavy weights flip the order


def test_phrase_search_positions_and_overlaps(spark):
    """Exact positional semantics: overlapping matches count, phrase
    across a doc boundary never matches, case-insensitive, and the
    substring pre-filter cannot create false positives ('tab le part'
    contains the chars but not the token sequence)."""
    import pytest

    from distributed_vector_database_spark.operators.lexical import (
        phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # 'a b' at 1 and 3 (overlap-adjacent)
            (2, "x A B y"),          # case-insensitive at 2
            (3, "ab ba"),            # substring trap: no token match
            (4, "b a"),              # reversed: no match
            (5, None),               # null text survives
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in phrase_search(docs, "a b").collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_matches"] == 2 and got[1]["first_pos"] == 1
    assert got[2]["n_matches"] == 1 and got[2]["first_pos"] == 2

    # true overlapping occurrences ('a a a' for phrase 'a a')
    dd = spark.createDataFrame([(9, "a a a")], "doc_id long, text string")
    r = phrase_search(dd, "a a").collect()[0]
    assert r["n_matches"] == 2 and r["first_pos"] == 1

    with pytest.raises(ValueError):
        phrase_search(docs, "   ")


def test_phrase_search_whitespace_variants_and_regex_metachars(spark):
    """The pre-filter must be a strict SUPERSET of true positional
    matches: tokenize splits on \\s+, so 'new\\nyork', 'new\\tyork',
    and 'new   york' are all genuine phrase hits that a single-space
    substring contains() would silently prune (r8 ADVICE high).
    Regex metacharacters in the phrase must be escaped, not
    interpreted."""
    from distributed_vector_database_spark.operators.lexical import (
        phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "see new\nyork at dawn"),    # newline between tokens
            (2, "new\tyork"),                # tab
            (3, "a new   york b"),           # multi-space run
            (4, "new york"),                 # single space still works
            (5, "newyork"),                  # no split: not a match
            (6, "york new"),                 # reversed
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in phrase_search(docs, "new york").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["first_pos"] == 2 and got[1]["n_matches"] == 1

    # phrase tokens containing regex metachars must match literally
    meta = spark.createDataFrame(
        [(1, "cost is $5.00 total"), (2, "cost is $5x00 total")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in phrase_search(meta, "$5.00 total").collect()}
    assert set(got) == {1}  # '.' escaped: doc 2's '$5x00' must not match


def test_sparse_dot_search_weights_and_saturation(spark, tmp_path):
    """Hand-built postings: weighted sparse dot with tf saturation —
    a doc repeating a low-weight term cannot outscore a doc matching
    the high-weight term (tf/(tf+1) caps at 1), and unmatched terms
    contribute nothing."""
    from distributed_vector_database_spark.operators.lexical import (
        postings_write,
        sparse_dot_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat " * 50),             # tf(cat)=50 -> 0.5 * ~0.98
            (2, "dog"),                   # tf(dog)=1  -> 2.0 * 0.5
            (3, "cat dog"),               # both
            (4, "bird"),                  # no match: absent from output
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_write(docs, path, n_buckets=4)
    got = {
        r["doc_id"]: r["score"]
        for r in sparse_dot_search(
            spark, path, {"cat": 0.5, "dog": 2.0}, k=10
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[3] > got[2] > got[1]  # both > dog-only > saturated cat
    assert abs(got[2] - 2.0 * 0.5) < 1e-6
    assert abs(got[1] - 0.5 * (50 / 51)) < 1e-6


def test_prf_search_expansion_promotes_cooccurring_term(spark, tmp_path):
    """A document sharing NO original query term must surface once the
    feedback docs promote a co-occurring expansion term; original
    terms keep orig_weight, expansion weight scales by RM1 mass."""
    from distributed_vector_database_spark.operators.lexical import (
        postings_write,
        prf_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat feline cat feline"),   # feedback doc: cat + feline
            (2, "cat feline whiskers"),     # feedback doc
            (3, "feline feline feline"),    # no 'cat' -> only via expansion
            (4, "dog bone"),                # never matches
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_write(docs, path, n_buckets=4)
    got = {
        r["doc_id"]: r["score"]
        for r in prf_search(
            spark, path, docs, ["cat"],
            k=10, fb_docs=2, fb_terms=1, orig_weight=0.6,
        ).collect()
    }
    # doc 3 has no original term but must appear via 'feline'
    assert 3 in got and 4 not in got
    # expansion term got weight 0.4 (w/wmax = 1): doc3 score = 0.4*(3/4)
    assert abs(got[3] - 0.4 * 0.75) < 1e-6
    # doc1: cat tf=2 -> 0.6*(2/3) + feline tf=2 -> 0.4*(2/3)
    assert abs(got[1] - (0.6 * 2 / 3 + 0.4 * 2 / 3)) < 1e-6


def test_prf_search_no_expansion_candidates_falls_back_to_original(spark, tmp_path):
    """Feedback docs containing ONLY query terms produce no expansion;
    the serve degenerates to the weighted original query."""
    from distributed_vector_database_spark.operators.lexical import (
        postings_write,
        prf_search,
    )

    docs = spark.createDataFrame(
        [(1, "cat cat"), (2, "cat")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    postings_write(docs, path, n_buckets=4)
    got = {
        r["doc_id"]: r["score"]
        for r in prf_search(
            spark, path, docs, ["cat"], k=10, fb_docs=2, fb_terms=3
        ).collect()
    }
    assert set(got) == {1, 2}
    assert abs(got[1] - 0.6 * (2 / 3)) < 1e-6
    assert abs(got[2] - 0.6 * 0.5) < 1e-6


def test_snippet_extract_best_window_and_ties(spark):
    """The densest query-term window wins; equal-count ties take the
    earliest start; docs with no hit are absent; the plan is a pure
    map pass (zero exchanges)."""
    from distributed_vector_database_spark.operators.lexical import (
        snippet_extract,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b cat c d cat dog e f g h i j k"),
            (2, "nothing here"),
            (3, "dog x x x x x x x x x x x cat dog cat"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in snippet_extract(
        docs, ["cat", "dog"], window=5
    ).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_hits"] == 3 and rows[1]["snippet"] == "cat c d cat dog"
    assert rows[3]["start_pos"] == 13 and rows[3]["snippet"] == "cat dog cat"

    df = snippet_extract(docs, ["cat"], window=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # sort for output ordering is fine; no hash-partition exchange
    assert "Exchange hashpartitioning" not in plan

    import pytest as _pt

    with _pt.raises(ValueError):
        snippet_extract(docs, [])


def test_bm25_batch_search_equals_looped_single_queries(spark, tmp_path):
    """Batch semantics ≡ looping bm25_postings_search per query, and
    df(t) is unaffected by which other queries share the batch."""
    from distributed_vector_database_spark.operators.lexical import (
        bm25_batch_search,
        bm25_postings_search,
        postings_write,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    postings_write(docs, idx, n_buckets=8)
    batch = {
        "q1": ["spark", "join"],
        "q2": ["filter"],
        "q3": ["spark"],
    }
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in bm25_batch_search(spark, idx, batch, k=5).collect()
    }
    for qid, terms in batch.items():
        single = bm25_postings_search(spark, idx, terms, k=5).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, r["doc_id"])] == (r["score"], rank), (qid, r)
    assert len(got) == sum(
        bm25_postings_search(spark, idx, t, k=5).count()
        for t in batch.values()
    )

    import pytest as _pt

    with _pt.raises(ValueError):
        bm25_batch_search(spark, idx, {})
    with _pt.raises(ValueError):
        bm25_batch_search(spark, idx, {"q": []})
    with _pt.raises(ValueError):
        bm25_batch_search(spark, idx, batch, membership="nope")


def test_bm25_batch_membership_join_parity(spark, tmp_path):
    """The broadcast-join membership path (the plan-size-bounded form
    for 10³+-query batches) returns bit-identical rows to the literal
    create_map path, including df(t) — membership fan-out must not
    inflate a shared term's document frequency."""
    from distributed_vector_database_spark.operators.lexical import (
        bm25_batch_search,
        postings_write,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "idx_joinpath")
    postings_write(docs, idx, n_buckets=8)
    batch = {
        "q1": ["spark", "join"],
        "q2": ["filter"],
        "q3": ["spark"],          # shares 'spark' with q1: df trap
        "q4": ["spark", "filter", "join"],
    }
    lit = sorted(
        map(tuple, bm25_batch_search(
            spark, idx, batch, k=5, membership="literal").collect())
    )
    jn = sorted(
        map(tuple, bm25_batch_search(
            spark, idx, batch, k=5, membership="join").collect())
    )
    assert lit == jn and lit
    # auto picks literal below the knee (12 memberships << 512)
    auto = sorted(
        map(tuple, bm25_batch_search(spark, idx, batch, k=5).collect())
    )
    assert auto == lit


def test_hybrid_rrf_multi_three_legs_and_two_leg_parity(spark):
    """Three-leg fusion sums all legs' reciprocal ranks (a doc on all
    three beats a doc on one); with two legs the result equals
    hybrid_rrf exactly."""
    from distributed_vector_database_spark.operators.lexical import (
        hybrid_rrf,
        hybrid_rrf_multi,
    )

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(1, 0.1), (4, 0.2)], "doc_id long, score double"  # ascending
    )
    c = spark.createDataFrame(
        [(1, 7.0), (2, 6.0)], "doc_id long, score double"
    )
    rows = hybrid_rrf_multi(
        [(a, False), (b, True), (c, False)], k=10, c=60
    ).collect()
    got = {r["doc_id"]: r["rrf_score"] for r in rows}
    assert rows[0]["doc_id"] == 1  # present rank-1 in all three legs
    assert abs(got[1] - round(3 / 61, 6)) < 1e-9
    assert abs(got[2] - round(1 / 62 + 1 / 62, 6)) < 1e-9
    assert abs(got[4] - round(1 / 62, 6)) < 1e-9

    two = sorted(
        (r["doc_id"], r["rrf_score"])
        for r in hybrid_rrf_multi([(a, False), (b, True)], k=10).collect()
    )
    ref = sorted(
        (r["doc_id"], r["rrf_score"])
        for r in hybrid_rrf(a, b, k=10, ascending_a=False, ascending_b=True).collect()
    )
    assert two == ref

    import pytest as _pt

    with _pt.raises(ValueError):
        hybrid_rrf_multi([(a, False)])


def test_sparse_dot_batch_equals_looped_single_queries(spark, tmp_path):
    """Batched learned-sparse ≡ looping sparse_dot_search per query,
    including per-query WEIGHTS for a shared term and rank ties."""
    from distributed_vector_database_spark.operators.lexical import (
        postings_write,
        sparse_dot_batch_search,
        sparse_dot_search,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "idx_sparse_batch")
    postings_write(docs, idx, n_buckets=8)
    batch = {
        "q1": {"spark": 1.5, "join": 1.0},
        "q2": {"filter": 0.7},
        "q3": {"spark": 0.2},          # same term as q1, other weight
    }
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in sparse_dot_batch_search(spark, idx, batch, k=5).collect()
    }
    n = 0
    for qid, qw in batch.items():
        single = sparse_dot_search(spark, idx, qw, k=5).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, r["doc_id"])] == (r["score"], rank), (qid, r)
            n += 1
    assert len(got) == n

    import pytest as _pt

    with _pt.raises(ValueError):
        sparse_dot_batch_search(spark, idx, {})
    with _pt.raises(ValueError):
        sparse_dot_batch_search(spark, idx, {"q": {}})


def test_hybrid_rrf_batch_math_and_query_isolation(spark):
    """Fusion consumes the legs' own rank columns per query: missing
    docs contribute 0 from that leg, queries never cross-talk, and a
    doc ranked in two legs fuses above single-leg docs."""
    from distributed_vector_database_spark.operators.lexical import (
        hybrid_rrf_batch,
    )

    a = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q2", 20, 1)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q1", 11, 1), ("q2", 21, 1), ("q2", 20, 2)],
        "query_id string, doc_id long, rank int",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["rrf_score"]
        for r in hybrid_rrf_batch([a, b], k=10, c=60).collect()
    }
    import pytest as _pt

    assert got[("q1", 10)] == _pt.approx(round(1 / 61, 6), abs=1e-6)
    assert got[("q1", 11)] == _pt.approx(round(1 / 62 + 1 / 61, 6), abs=1e-6)
    assert got[("q2", 20)] == _pt.approx(round(1 / 61 + 1 / 62, 6), abs=1e-6)
    assert got[("q2", 21)] == _pt.approx(round(1 / 61, 6), abs=1e-6)
    assert set(got) == {("q1", 10), ("q1", 11), ("q2", 20), ("q2", 21)}

    with _pt.raises(ValueError):
        hybrid_rrf_batch([a])


def test_hybrid_rrf_batch_truncates_and_ranks_per_query(spark):
    """k-truncation and the emitted rank column are PER QUERY: with 3
    fused docs per query and k=2, each query keeps exactly its own
    top 2 with ranks [1, 2] (a global window would give one query
    ranks 4..6)."""
    from distributed_vector_database_spark.operators.lexical import (
        hybrid_rrf_batch,
    )

    a = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
         ("q2", 20, 1), ("q2", 21, 2), ("q2", 22, 3)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q1", 11, 1), ("q2", 22, 1)],
        "query_id string, doc_id long, rank int",
    )
    rows = hybrid_rrf_batch([a, b], k=2, c=60).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    assert set(by_q) == {"q1", "q2"}
    # q1: doc 11 fused from both legs wins, then doc 10; doc 12 cut
    assert sorted(by_q["q1"]) == [(1, 11), (2, 10)]
    # q2: doc 22 (both legs) wins, then doc 20; doc 21 cut
    assert sorted(by_q["q2"]) == [(1, 22), (2, 20)]


def test_bm25_postings_search_filtered(spark, tmp_path):
    """Filtered serving: top-k over the allowed set only, with
    CORPUS-level idf/avgdl — each admitted doc keeps the exact score
    it has in unfiltered serving (pre-filter semantics), and docs
    outside the allowed set never appear even when they dominate the
    unfiltered ranking."""
    from distributed_vector_database_spark.operators.lexical import (
        bm25_postings_search,
        postings_write,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "filt_idx")
    postings_write(docs, idx, n_buckets=8)

    q = ["spark", "join"]
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in bm25_postings_search(spark, idx, q, k=10).collect()
    }
    allowed_ids = sorted(unfiltered)[1:]  # drop one scoring doc
    allowed = spark.createDataFrame(
        [(i,) for i in allowed_ids], ["doc_id"]
    )
    got = bm25_postings_search(
        spark, idx, q, k=10, allowed=allowed
    ).collect()
    assert {r["doc_id"] for r in got} == set(allowed_ids)
    for r in got:  # scores unchanged by the filter
        assert r["score"] == unfiltered[r["doc_id"]]

    # an empty allowed set returns an empty (not erroring) result
    empty = spark.createDataFrame([], "doc_id long")
    assert bm25_postings_search(spark, idx, q, k=10, allowed=empty).count() == 0


def test_sparse_dot_search_filtered(spark, tmp_path):
    """sparse_dot_search's allowed set: same pre-filter semantics as
    the BM25 leg — scores invariant, excluded docs never rank."""
    from distributed_vector_database_spark.operators.lexical import (
        postings_write,
        sparse_dot_search,
    )

    docs = spark.createDataFrame(list(CORPUS.items()), ["doc_id", "text"])
    idx = str(tmp_path / "sp_idx")
    postings_write(docs, idx, n_buckets=8)
    qw = {"spark": 1.0, "join": 0.5}
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in sparse_dot_search(spark, idx, qw, k=10).collect()
    }
    keep = sorted(unfiltered)[:-1]
    allowed = spark.createDataFrame([(i,) for i in keep], ["doc_id"])
    got = sparse_dot_search(spark, idx, qw, k=10, allowed=allowed).collect()
    assert {r["doc_id"] for r in got} == set(keep)
    for r in got:
        assert r["score"] == unfiltered[r["doc_id"]]
