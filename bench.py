"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Headline set = the flagship vector path + the heaviest relational/agg/
window/dedup queries — the ones whose plans must survive a 100x scale-up.
Each query is collected (or counted) to force full execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from distributed_vector_database_spark.session import get_spark

HEADLINE = [
    "flagship_knn",
    "knn_exact",
    "knn_sharded",
    "knn_join",
    "pricing_summary",
    "top_orders_by_segment",
    "regional_revenue",
    "customer_order_ranks",
    "changelog_compact",
    "doc_stats",
    "lang_profile",
    "exact_dedup",
    "minhash_lsh_dedup",
    "simhash_dedup",
    "ngram_jaccard_dedup",
    "embedding_near_dup",
    "events_tumbling",
    "events_sliding",
    "events_sessions",
    "knn_filtered",
    "orders_rollup",
    "hash_sample",
    "asof_join",
    "event_range_join",
    "bm25_topk",
    "hybrid_rrf_topk",
    "hybrid_linear_topk",
    "pii_redaction",
    "top_terms",
    "chunk_documents",
    "ngram_jaccard_scale",
    "training_pipeline",
    "bm25_postings_topk",
    "ann_ivf_filtered",
    "ann_hnsw_topk",
    "decontam_filter",
    "token_budget_select",
    "remove_dup_spans",
    "training_pipeline_spans",
    "snapshot_diff",
    "temperature_sample",
    "maxsim_topk",
    "sample_negatives",
    "events_gapfill",
    "lm_perplexity",
    "funnel_report",
    "funnel_served",
    # round-7 additions: diversified/reranked retrieval, topic
    # labeling, and the widest TPC-H shapes
    "mmr_topk",
    "rerank_topk",
    "topic_assign",
    "volume_shipping",
    "customer_order_distribution",
    "large_volume_customers",
    # round-8: quality-aware canonical pick per near-dup cluster,
    # epoch-budgeted mixture, and the one-pass corpus profiler
    "canonical_selection",
    "epoch_mixture",
    "corpus_profile",
    # round-8 second batch: the two heaviest of the Q4/Q8/Q9/Q21
    # shapes (8-way join market share; Q21 agg-rewrite)
    "market_share",
    "waiting_suppliers",
    # round-8: exact radius search with triangle-inequality pruning
    "ann_ivf_range",
    # round-8: k-NN label propagation (classifier bootstrapping)
    "knn_classify",
    # round-8: retrieval metrics + exact radius join
    "retrieval_eval",
    "ann_ivf_range_join",
    # round-8: embedding-space decontamination
    "semantic_decontam",
    # round-8: GPT-style fixed-length example builder
    "training_examples",
    # round-8: positional phrase search, filtered radius search, and
    # learned-sparse serving from the shared postings layout
    "phrase_search",
    "ann_ivf_range_filtered",
    "sparse_dot_topk",
    # round-8: Q2/Q11/Q16/Q20 shapes — completes all 22 TPC-H forms
    "min_cost_supplier",
    "important_part_values",
    "supplier_part_counts",
    "excess_stock_suppliers",
    # round-8: RM3-shaped pseudo-relevance-feedback expansion
    "prf_expanded_topk",
    # round-8: per-dimension embedding drift monitor
    "embedding_drift",
    # round-8: co-located fact join through the bucketed layout
    "bucketed_revenue_join",
    # round-8: A-ES weighted without-replacement draw
    "weighted_sample",
    # round-8: padding-minimizing sorted batching
    "length_batches",
    # round-8: exact per-group percentile rollup
    "event_percentiles",
    # round-8: cross-catalog record linkage
    "record_link",
    # round-8: label-aware hard-negative mining
    "hard_negatives",
    # round-8: c-TF-IDF topic labels
    "topic_keywords",
    # round-8: result-page snippet extraction (zero-shuffle map pass)
    "snippet_extract",
    # round-8: contrastive (anchor, positive, negative) export
    "contrastive_triplets",
    # round-8: many BM25 queries through one pruned postings scan
    "bm25_batch_topk",
    # round-8: three-retriever RRF fusion
    "tri_hybrid_topk",
    # round-9: span-level decontamination (excise, don't drop)
    "decontam_spans",
    # round-9: per-source token caps (grouped distributed prefix-sum)
    "source_token_caps",
    # round-9: curriculum staging + intra-stage shuffle
    "curriculum_order",
    # round-9: batched learned-sparse serving (one pruned scan)
    "sparse_batch_topk",
    # round-9: the whole tri-hybrid stack batched + rank-faithful RRF
    "tri_hybrid_batch_topk",
    # round-9: continual-ingest clustering (star-graph fold)
    "near_dup_clusters_incremental",
    # round-10: two-pass exact heavy hitters (candidate bar + verify)
    "heavy_hitters",
    # round-10: Z-curve key computation (layout family, hash-oracled)
    "zorder_curve",
    # round-10: per-group A-ES draw (two-stage top-n)
    "weighted_sample_by_lang",
    # round-10: filtered lexical serving (pre-filter semantics)
    "bm25_filtered_topk",
    # round-10: time-travel state read (compact with until_ts)
    "state_as_of",
    # round-10: Gopher rule-based quality gate (per-rule audit)
    "gopher_rules",
    # round-10 second batch: apriori-pruned basket mining
    "frequent_pairs",
    # round-10: two-phase distributed skyline (Pareto front)
    "skyline_parts",
    # round-10: Markov transition matrix over event sequences
    "event_transitions",
    # round-10: broadcast bloom pre-filter + exact confirm semi join
    "bloom_join_revenue",
    # round-10: multi-arm MERGE INTO (update/delete/insert arms)
    "merge_customers",
    # round-10: fixed-iteration PageRank over the co-purchase graph
    "pagerank_parts",
    # round-10: blocked Levenshtein near-dup (two-bucket banding)
    "edit_distance_pairs",
    # round-10: directed market-basket rules (confidence/lift)
    "association_rules",
    # round-10: streaming transition-matrix snapshot serving
    "transitions_served",
    # round-10: clickstream path analysis (gap sessions, top paths)
    "session_paths",
    # round-10: hub-safe triangle counting (degree-ordered wedges)
    "part_triangles",
    # round-10: one-pass expectations + uniqueness + FK audit
    "dq_report",
    # round-10: trailing-window volume z-score monitor
    "volume_anomalies",
    # round-10: the monitor served from the maintained hourly rollup
    "volume_anomalies_served",
    # round-10: closed-form per-group trend lines (one agg pass)
    "event_trends",
    # round-10: PCA whitening (distributed moments -> codegen project)
    "pca_whiten",
    # round-10: maintained data-quality report (stateful uniqueness)
    "dq_served",
    # round-11: fixed-round k-core peel (per-round checkpointed)
    "kcore_parts",
    # round-11: synchronous min-label propagation (one shuffle/iter)
    "part_communities",
    # round-11: neighborhood-Jaccard link prediction (wedge-generated)
    "part_link_prediction",
    # round-11: trailing EWMA as an equi join (exploded lag sequence)
    "event_ewma",
    # round-11: median/MAD robust outlier summary (two exact-percentile
    # passes)
    "value_mad_outliers",
    # round-11: first-seen daily actives + running total
    "cumulative_new_users",
    # round-11: sweep-line peak concurrency (day-partitioned)
    "peak_concurrency",
    # round-11: explicit HLL registers (md5 bits, mergeable by MAX)
    "hll_user_registers",
    # round-11: the HLL estimate next to the exact count
    "hll_user_estimate",
    # round-11: asymmetric n-gram containment (sub/superset dedup)
    "containment_dup_pairs",
    # round-11: maintained HLL registers served from the MAX fold
    "hll_served",
    # round-11: personalized PageRank (random walk with restart)
    "ppr_parts",
    # round-12: SQL-checkable PCA invariants (trace preservation +
    # identity whitened covariance)
    "pca_invariants",
    # round-12: direct hash-check of the persisted graph layout
    "part_degree_toplist",
    # round-12: ingest-level graph maintenance served from the
    # accumulated pair/item support fold
    "graph_served_edges",
    # round-12: weighted walk over the fold-served graph
    "pagerank_weighted",
]


def _split_phase_rows(spark, sf_dir: str) -> dict[str, float]:
    """Index BUILD vs PROBE timed separately (VERDICT r6 item #3).

    The combined headline rows (ann_ivf_filtered, ann_hnsw_topk,
    bm25_postings_topk) time an in-query build + search; at 100x scale
    the index is prebuilt and only the probe cost recurs, so these
    rows surface the serving-side number: build once into a temp dir
    through the persisted layout (partitioned parquet -> partition-
    pruned probes), then best-of-2 the probe alone."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.ann import (
        ivf_build_auto,
        ivf_cell_stats,
        ivf_range_search,
        ivf_search,
        ivf_write,
    )
    from distributed_vector_database_spark.operators.hnsw import (
        hnsw_read_search,
        hnsw_write,
    )
    from distributed_vector_database_spark.operators.lexical import (
        bm25_postings_search,
        postings_write,
    )
    from distributed_vector_database_spark.sources.fixtures import load_table

    out: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="dvdb_bench_idx_")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]

    def probe_best_of_2(fn) -> float:
        best = None
        for _ in range(2):
            t0 = time.time()
            fn()
            el = time.time() - t0
            best = el if best is None else min(best, el)
        return round(best, 3)

    # IVF: auto-tuned build persisted partitioned-by-centroid; probe is
    # a partition-pruned read + exact rank inside probed cells
    t0 = time.time()
    # r13: offline build row uses the driver-side numpy quantizer —
    # probe row-counts are quantizer-independent (k and radius fix them)
    centroids, assigned, nprobe = ivf_build_auto(emb, trainer="numpy")
    ivf_write(assigned, f"{tmp}/ivf")
    out["ann_ivf_build"] = round(time.time() - t0, 3)
    stored = spark.read.parquet(f"{tmp}/ivf")
    out["ann_ivf_probe"] = probe_best_of_2(
        lambda: ivf_search(
            spark, centroids, stored, qvec, k=10, nprobe=nprobe
        ).count()
    )

    # range serving: cell bounding radii are a build-time artifact
    # (one agg pass, like the quantizer); the probe reads only cells
    # whose balls intersect the query ball. Persisted with the layout
    # so the changelog fold below maintains them (append widens,
    # delete stays conservative) — the served range probe after the
    # fold exercises that whole lifecycle.
    from distributed_vector_database_spark.operators.ann import (
        _write_cell_stats,
        ivf_read_cell_stats,
    )

    t0 = time.time()
    cell_stats = ivf_cell_stats(stored, centroids)
    _write_cell_stats(f"{tmp}/ivf", cell_stats)
    out["ann_ivf_range_stats"] = round(time.time() - t0, 3)
    out["ann_ivf_range_probe"] = probe_best_of_2(
        lambda: ivf_range_search(
            spark, centroids, stored, qvec, radius=1.2, cell_radii=cell_stats
        ).count()
    )

    # HNSW: per-shard graphs persisted; probe reloads graphs and beam-
    # searches (the reference's load_index + knn_query restart path)
    t0 = time.time()
    hnsw_write(emb, f"{tmp}/hnsw", num_shards=8)
    out["ann_hnsw_build"] = round(time.time() - t0, 3)
    out["ann_hnsw_probe"] = probe_best_of_2(
        lambda: hnsw_read_search(spark, f"{tmp}/hnsw", qvec, k=10).count()
    )

    # Served-after-maintenance probes (VERDICT r7 #7): replay a mixed
    # put/delete changelog (2% re-put, 2% new, 2% delete) through the
    # SAME fold bodies foreachBatch uses, then probe the maintained
    # layout — regressions in the maintenance path (extra files per
    # cell, tombstone filter cost, stale-node dedup) show up as probe
    # drift that the fresh-build probes above can't see
    from distributed_vector_database_spark.streaming.hnsw_maintenance import (
        build_hnsw_changelog_fold,
    )
    from distributed_vector_database_spark.streaming.ivf_maintenance import (
        build_ivf_changelog_fold,
    )

    n = emb.count()
    slice_n = max(n // 50, 10)
    reputs = (
        emb.filter(F.col("vec_id") < slice_n)
        .select(
            "vec_id",
            F.reverse(F.col("embedding")).alias("embedding"),
            F.lit("put").alias("op"),
        )
    )
    news = (
        emb.filter(F.col("vec_id") < slice_n)
        .select(
            (F.col("vec_id") + F.lit(10 * n)).alias("vec_id"),
            "embedding",
            F.lit("put").alias("op"),
        )
    )
    dels = (
        emb.filter(
            (F.col("vec_id") >= slice_n) & (F.col("vec_id") < 2 * slice_n)
        )
        .select(
            "vec_id",
            F.lit(None).cast("array<double>").alias("embedding"),
            F.lit("delete").alias("op"),
        )
    )
    changelog = (
        reputs.unionByName(news).unionByName(dels)
        .withColumn("seq", F.col("vec_id"))
    )

    _reset_session(spark)  # fold rows degrade under session garbage (r14)
    t0 = time.time()
    build_ivf_changelog_fold(f"{tmp}/ivf", centroids)(changelog, 1)
    out["ann_ivf_fold"] = round(time.time() - t0, 3)
    served = spark.read.parquet(f"{tmp}/ivf")
    out["ann_ivf_served_probe"] = probe_best_of_2(
        lambda: ivf_search(
            spark, centroids, served, qvec, k=10, nprobe=nprobe
        ).count()
    )
    # range probe over the MAINTAINED layout: radii widened by the
    # fold's appends, conservative after its deletes — still exact
    out["ann_ivf_range_served_probe"] = probe_best_of_2(
        lambda: ivf_range_search(
            spark,
            centroids,
            served,
            qvec,
            radius=1.2,
            cell_radii=ivf_read_cell_stats(f"{tmp}/ivf"),
        ).count()
    )
    # batched serving: 16 queries through ONE scan pruned to the union
    # of their probe cells — the row to compare against 16x the
    # single-query ann_ivf_probe cost
    from distributed_vector_database_spark.operators.ann import (
        ivf_batch_search,
    )

    batch_q = (
        emb.filter(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .localCheckpoint()
    )
    out["ann_ivf_batch16_probe"] = probe_best_of_2(
        lambda: ivf_batch_search(
            spark, centroids, served, batch_q, k=10, nprobe=nprobe
        ).count()
    )

    _reset_session(spark)
    t0 = time.time()
    build_hnsw_changelog_fold(f"{tmp}/hnsw")(changelog, 1)
    out["ann_hnsw_fold"] = round(time.time() - t0, 3)
    out["ann_hnsw_served_probe"] = probe_best_of_2(
        lambda: hnsw_read_search(spark, f"{tmp}/hnsw", qvec, k=10).count()
    )

    # Matryoshka layout: prefix column materialized for ReadSchema
    # pruning; probe = coarse prefix scan + key-filtered exact refine
    from distributed_vector_database_spark.operators.quantization import (
        mrl_read_search,
        mrl_write,
    )

    t0 = time.time()
    mrl_write(emb, f"{tmp}/mrl", prefix_dim=16)
    out["ann_mrl_build"] = round(time.time() - t0, 3)
    out["ann_mrl_probe"] = probe_best_of_2(
        lambda: mrl_read_search(spark, f"{tmp}/mrl", qvec, k=10, rerank=10).count()
    )
    # MRL maintenance fold (run_codec_stream's body): append-only layout
    # growth + a probe over the maintained layout — the row that
    # surfaces publish-marker / attempt-file regressions (VERDICT r8
    # #6: every persisted layout's fold should bench like IVF/HNSW's)
    from distributed_vector_database_spark.operators.quantization import (
        mrl_append,
    )

    t0 = time.time()
    mrl_append(
        news.select("vec_id", "embedding"), f"{tmp}/mrl", batch_id=1
    )
    out["ann_mrl_fold"] = round(time.time() - t0, 3)
    out["ann_mrl_served_probe"] = probe_best_of_2(
        lambda: mrl_read_search(
            spark, f"{tmp}/mrl", qvec, k=10, rerank=10
        ).count()
    )

    # PQ layout (r10): train+encode+persist build; probe = ADC code
    # scan + exact refine of the rerank*k pool; fold = frozen-codebook
    # encode of the batch + append (FAISS `add` semantics — the
    # codebooks NEVER retrain on append)
    from distributed_vector_database_spark.operators.quantization import (
        pq_append,
        pq_read_search,
        pq_write,
    )

    t0 = time.time()
    pq_write(emb, f"{tmp}/pq", m=8, k_codebook=32)
    out["ann_pq_build"] = round(time.time() - t0, 3)
    out["ann_pq_probe"] = probe_best_of_2(
        lambda: pq_read_search(spark, f"{tmp}/pq", qvec, k=10, rerank=4).count()
    )
    t0 = time.time()
    pq_append(news.select("vec_id", "embedding"), f"{tmp}/pq", batch_id=1)
    out["ann_pq_fold"] = round(time.time() - t0, 3)
    out["ann_pq_served_probe"] = probe_best_of_2(
        lambda: pq_read_search(spark, f"{tmp}/pq", qvec, k=10, rerank=4).count()
    )

    # drift-monitor fold (run_drift_stream's body): one micro-batch's
    # moments folded + a versioned report emitted against the frozen
    # reference — dim-sized state, so this row should stay flat
    from distributed_vector_database_spark.streaming.drift import (
        build_drift_fold,
        drift_state_init,
    )

    drift_state_init(emb, f"{tmp}/drift")
    t0 = time.time()
    build_drift_fold(f"{tmp}/drift")(
        news.select("vec_id", "embedding"), 1
    )
    out["drift_fold"] = round(time.time() - t0, 3)

    # BM25 postings: term-bucketed index build; probe prunes to the
    # query terms' buckets
    t0 = time.time()
    postings_write(load_table(spark, sf_dir, "documents"), f"{tmp}/postings",
                   n_buckets=32)
    out["bm25_postings_build"] = round(time.time() - t0, 3)
    out["bm25_postings_probe"] = probe_best_of_2(
        lambda: bm25_postings_search(
            spark, f"{tmp}/postings", ["data", "model", "system"], k=10
        ).count()
    )
    # batched serving: 16 queries through ONE pruned postings scan —
    # the row to compare against 16x the single-query probe above
    # (the lexical analog of ann_ivf_batch16_probe)
    from distributed_vector_database_spark.operators.lexical import (
        bm25_batch_search,
    )

    vocab16 = ["data", "model", "system", "learn", "train", "test",
               "query", "index", "join", "filter", "sample", "token",
               "spark", "search", "vector", "text"]
    batch16 = {f"q{i}": [vocab16[i], vocab16[(i + 1) % 16]] for i in range(16)}
    out["bm25_batch16_probe"] = probe_best_of_2(
        lambda: bm25_batch_search(
            spark, f"{tmp}/postings", batch16, k=10
        ).count()
    )

    # duplicate-span streaming fold (run_span_dedup_stream's body):
    # one micro-batch cleaned against the gram state + state version
    # folded — the ExactSubstr maintenance row
    from distributed_vector_database_spark.streaming.span_state import (
        build_span_fold,
    )

    docs = load_table(spark, sf_dir, "documents")
    _reset_session(spark)
    t0 = time.time()
    build_span_fold(f"{tmp}/span_state", f"{tmp}/span_out")(docs, 1)
    out["span_fold"] = round(time.time() - t0, 3)

    # tri-hybrid SERVED probe (VERDICT r8 #4): all three legs answered
    # from persisted layouts — BM25 and learned-sparse from the SAME
    # postings index (one layout, two scoring families), dense from
    # the maintained IVF layout — fused with one N-way RRF. The
    # corpus is never scanned at query time.
    from distributed_vector_database_spark.operators.lexical import (
        hybrid_rrf_multi,
        sparse_dot_search,
    )

    sparse_qw = {"data": 1.0, "model": 0.7, "system": 0.4}

    def _tri_served():
        lex = bm25_postings_search(
            spark, f"{tmp}/postings", ["data", "model", "system"], k=30
        )
        sp = sparse_dot_search(spark, f"{tmp}/postings", sparse_qw, k=30)
        vec = (
            ivf_search(spark, centroids, served, qvec, k=30, nprobe=nprobe)
            .withColumnRenamed("vec_id", "doc_id")
        )
        return hybrid_rrf_multi(
            [(lex, False), (vec, True), (sp, False)], k=10
        ).count()

    out["tri_hybrid_served_probe"] = probe_best_of_2(_tri_served)

    # tri-hybrid BATCH probe (VERDICT r9 #7): 16 queries through the
    # fused batch stack — three pruned scans + one fusion plan total,
    # the row to compare against 16x tri_hybrid_served_probe (its 2M
    # smoke is tools/tri_hybrid_batch_smoke.py: 213 ms/query at Q=64)
    from distributed_vector_database_spark.operators.ann import (
        ivf_batch_search,
    )
    from distributed_vector_database_spark.operators.lexical import (
        hybrid_rrf_batch,
        sparse_dot_batch_search,
    )

    tri16_terms = batch16  # the bm25_batch16 query set, reused
    tri16_sparse = {
        qid: {t: w for t, w in zip(ts, (1.0, 0.7))}
        for qid, ts in tri16_terms.items()
    }
    emb16 = load_table(spark, sf_dir, "embeddings")
    q16 = (
        emb16.filter(F.col("vec_id") < 16)
        .select(
            F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias(
                "query_id"
            ),
            F.col("embedding").alias("query_vec"),
        )
        .localCheckpoint(eager=True)
    )

    def _tri_batch():
        lex = bm25_batch_search(spark, f"{tmp}/postings", tri16_terms, k=30)
        sp = sparse_dot_batch_search(
            spark, f"{tmp}/postings", tri16_sparse, k=30
        )
        dense = ivf_batch_search(
            spark, centroids, served, q16, k=30, nprobe=nprobe
        ).withColumnRenamed("vec_id", "doc_id")
        return hybrid_rrf_batch([lex, dense, sp], k=10).count()

    out["tri_hybrid_batch16_probe"] = probe_best_of_2(_tri_batch)

    # graph layout: the co-purchase graph's derive-once cost (basket
    # self-join + audit + publish) surfaced as a build row, with the
    # iterative serve cost timed over the persisted (src, dst, deg)
    # layout — the r12 shape where all six graph contract queries
    # read the layout instead of re-deriving the graph
    from distributed_vector_database_spark.operators.graph import (
        cooccurrence_edges,
        graph_read,
        graph_write,
        pagerank,
    )

    _reset_session(spark)
    t0 = time.time()
    g_edges = cooccurrence_edges(
        load_table(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=2,
        max_basket=256,
        max_broadcast_items=None,  # parts: bounded catalog
    )
    graph_write(g_edges, f"{tmp}/graph")
    out["graph_build"] = round(time.time() - t0, 3)
    out["pagerank_served_probe"] = probe_best_of_2(
        lambda: pagerank(
            graph_read(spark, f"{tmp}/graph"), iterations=5, use_deg_col=True
        ).count()
    )

    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _reset_session(spark) -> None:
    """Between-measurement hygiene (r14, guide §1: measure steady-state
    plan cost). clearCache drops NAMED cache entries, but the orphaned
    localCheckpoint / shuffle blocks of everything the previous queries
    materialized survive until a JVM GC lets the ContextCleaner release
    them — and this harness runs ~129 warmups before the first timed
    query. Measured on span_fold at sf0.1: 3.1 s warm -> 7.2 s after 16
    queries of accumulated session garbage -> 4.3 s after an explicit
    GC. The Python collect runs first so py4j frees its JVM handles and
    the JVM GC can actually reclaim them. Runs OUTSIDE every timed
    region; queries, timing methodology and best-of-2 are unchanged."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001 - hygiene must never fail the bench
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="dvds-bench")
    qs = entrymod.queries()

    # Warm-up: run every headline query once at the smallest sf so the
    # measured numbers reflect steady-state plan cost, not whole-stage
    # codegen compilation / Python-worker spin-up / JIT (first-run
    # overhead is 3-6x for the codegen-heavy sketch aggregates and is a
    # per-JVM cost, not a per-data cost — at 100 TB it vanishes).
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            qs[name](spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001 - the timed run reports it
            msg = (str(e).splitlines() or [""])[0]
            print(f"# warm-up {name} FAILED: {type(e).__name__}: {msg}", file=sys.stderr)
    # several operators cache intermediates (LSH models, signatures,
    # postings) and queries never unpersist — after 35 warmups the
    # session carries ~100 cached RDDs whose storage-pool pressure
    # steals execution memory from every measured query. Reset so each
    # measurement starts from a clean unified-memory state.
    _reset_session(spark)

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        # best-of-2: single-run numbers on a shared box carry multi-second
        # GC/scheduler noise; the min is the plan's actual cost
        best, n = None, 0
        try:
            for _ in range(2):
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                elapsed = time.time() - t0
                best = elapsed if best is None else min(best, elapsed)
        except Exception as exc:  # noqa: BLE001 - one broken query must
            # never abort the whole bench (r4: a single AnalysisException
            # produced an empty BENCH artifact); record it and move on.
            failures[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: FAILED {failures[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        _reset_session(spark)  # this query's state must not tax the next

    # index build vs probe split (serving cost surfaced separately).
    # These rows stay OUT of the headline total: offline build wall
    # time inside `value` would read as a uniform regression against
    # rounds whose totals never contained it.
    phases: dict[str, float] = {}
    try:
        phases = _split_phase_rows(spark, sf_dir)
        for name, sec in phases.items():
            print(f"# {name}: {sec:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()
    except Exception as exc:  # noqa: BLE001
        failures["_split_phases"] = f"{type(exc).__name__}: {exc}"[:500]
        print(f"# split phases FAILED: {failures['_split_phases']}",
              file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "phase_split": phases,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # drift vs the pinned per-query baseline (VERDICT r6 item #2):
    # a >1.5x ratio on this box is co-tenant noise until reproduced on
    # a quiet rerun; a uniform shift across untouched queries is load,
    # a single-query spike is a plan regression
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_BASELINE.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            baseline = json.load(f)
        # ratios only make sense at the baseline's own scale factor
        pinned = (
            baseline.get("queries", {})
            if baseline.get("sf") == out["sf"]
            else {}
        )
        measured = {**timings, **phases}
        ratios = {
            name: round(sec / pinned[name]["sec"], 2)
            for name, sec in measured.items()
            if name in pinned and pinned[name]["sec"] > 0
        }
        if ratios:
            out["ratio_vs_pinned"] = ratios
            # the headline max_ratio considers only substantial pins:
            # a 1.5x ratio on a 0.2 s pin is tens of milliseconds of
            # co-tenant noise, not a regression (VERDICT r10 #6) —
            # BUT a fast-pin query whose ABSOLUTE slowdown is large
            # (0.3 s -> 3 s) is a real regression the pin-size filter
            # must not hide (ADVICE r11): any query slowed by more
            # than 1 s of wall-clock joins the headline regardless of
            # its pin. Sub-threshold small pins stay in the full dict.
            substantial = {
                n: r
                for n, r in ratios.items()
                if pinned[n]["sec"] >= 0.5
                or (measured[n] - pinned[n]["sec"]) > 1.0
            }
            headline = substantial or ratios
            worst = max(headline, key=headline.get)
            out["max_ratio"] = headline[worst]
            out["max_ratio_query"] = worst
            # record the ACTUAL admission rule (a sub-0.5s-pin query
            # can enter via the absolute-slowdown clause)
            out["max_ratio_admission"] = (
                "pin>=0.5s or abs_slowdown>1s" if substantial else "all"
            )
            worst_any = max(ratios, key=ratios.get)
            out["max_ratio_any"] = ratios[worst_any]
            out["max_ratio_any_query"] = worst_any
            out["unpinned_queries"] = sorted(
                n for n in measured if n not in pinned
            )

    if failures:
        out["failures"] = failures
    # the driver artifact truncates stdout; persist the complete JSON
    # beside the script so every per-query ratio stays auditable
    # (VERDICT r10 #7)
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    try:
        with open(local_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:
        print(f"# BENCH_LOCAL.json write failed: {exc}", file=sys.stderr)
    # The driver captures stdout through a tail window; r12's one-line
    # JSON grew past it and truncated mid-object, breaking the
    # round-over-round chain (PERF_r13 n_common=0). Keep the stdout
    # line LAST and small: drop the per-query ratio_vs_pinned dict
    # (derivable from `queries` x BENCH_BASELINE.json, and persisted
    # complete in BENCH_LOCAL.json); keep the scalar drift summary.
    slim = {k: v for k, v in out.items() if k != "ratio_vs_pinned"}
    print(json.dumps(slim))
    spark.stop()


if __name__ == "__main__":
    main()
