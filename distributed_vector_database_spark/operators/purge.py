"""Deletion propagation — right-to-be-forgotten across maintained
artifacts.

A 100 TB pipeline's derived state (posting lists, gram states,
signature tables) must forget deleted documents WITHOUT rebuilding
from scratch: rebuild cost is proportional to the corpus, purge cost
must be proportional to the deletion. Every purge here is
equivalence-tested against rebuild-on-the-remaining-corpus.

The store itself already forgets via changelog tombstones +
compaction (operators/changelog.py); this module covers the derived
artifacts that index the corpus:

- posting lists: rewrite ONLY the buckets containing the purged docs
  (dynamic partition overwrite), publish a negative-delta marker so
  corpus totals (n_docs / total_tokens -> idf / avgdl) stay exact.
- span gram state: subtract the purged docs' gram counts; grams at
  zero vanish.
- signature tables (MinHash & co.): a plain anti-join — documented
  here, not wrapped, because one join needs no helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.dedup import _window_grams


def purge_from_postings(
    spark: SparkSession, path: str, doc_ids: list, doc_col: str = "doc_id"
) -> int:
    """Remove documents from a bucketed posting-list index in place.
    Cost follows the DELETION: one pruned scan finds the affected
    buckets (pushed doc-id filter), and only those bucket partitions
    are rewritten (dynamic partition overwrite) — untouched buckets
    keep their files. The corpus totals correct themselves through a
    negative-delta publish marker (marker summing is exact under
    negatives), so BM25's n_docs/avgdl match a from-scratch rebuild
    over the remaining corpus. Returns the number of posting rows
    removed."""
    aids = versioned.published_aids(path)
    # compare in the column's native type — no int() coercion, so
    # string doc ids work exactly as the configurable doc_col implies
    ids = list(doc_ids)
    live = spark.read.parquet(f"{path}/postings").filter(F.col("aid").isin(aids))
    victim = live.filter(F.col(doc_col).isin(ids)).cache()
    try:
        buckets = [r["bucket"] for r in victim.select("bucket").distinct().collect()]
        if not buckets:
            return 0
        removed = victim.count()
        docs_hit = victim.select(doc_col, "dl").distinct()
        agg = docs_hit.agg(
            F.count(F.lit(1)).alias("nd"), F.sum("dl").alias("tok")
        ).first()
        keep = (
            spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(buckets))
            .filter(~F.col(doc_col).isin(ids))
        )
        # dynamic overwrite only rewrites partitions PRESENT in the
        # written data: a bucket whose every row belonged to purged
        # docs would emit nothing and keep its files — delete those
        # fully-victim partitions explicitly after the write
        live_buckets = {
            r["bucket"] for r in keep.select("bucket").distinct().collect()
        }
        (
            keep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{path}/postings")
        )
        import shutil

        for b in set(buckets) - live_buckets:
            shutil.rmtree(f"{path}/postings/bucket={b}", ignore_errors=True)
        import uuid

        versioned.publish_attempt(
            path,
            "purge-" + uuid.uuid4().hex[:8],
            n_docs=-int(agg["nd"]),
            total_tokens=-int(agg["tok"] or 0),
        )
        return int(removed)
    finally:
        victim.unpersist()


def span_state_purge(
    state: DataFrame,
    purged_docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Forget documents in a span gram state: recompute the purged
    docs' gram counts (O(purged), the docs' text is required — exact
    substring forgetting cannot be done from the aggregate alone) and
    subtract; grams that reach zero disappear. Result is
    value-identical to span_gram_state over the remaining corpus
    (tested), so incremental cleaning continues seamlessly after the
    deletion."""
    minus = (
        _window_grams(purged_docs, k, None, text_col)
        .groupBy("gram")
        .agg((-F.count(F.lit(1))).alias("n"))
    )
    return (
        state.unionByName(minus)
        .groupBy("gram")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
    )
