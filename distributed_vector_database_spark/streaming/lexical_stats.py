"""Streaming maintenance of the BM25 term-stats table.

The batch half lives in operators/lexical.py: term_stats is additive and
merge_term_stats folds a batch into the stored table at O(vocabulary).
This module is the live leg: readStream over an arriving-documents
directory, and foreachBatch merges each micro-batch's stats into a
versioned snapshot. The merge is additive (NOT last-write-wins), so
exactly-once needs more than the checkpointLocation: the versioned
fold (versioned.py) records each batch_id and skips replays.

After (or during) ingest, bm25_search(stats=read_latest_stats(...))
serves queries with ONE corpus scan and a tiny stats read — the
index-maintenance story a lexical engine needs at 100 TB: stats stay
current without ever rescanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.lexical import (
    merge_term_stats,
    term_stats,
)

DOCS_SCHEMA = "doc_id long, text string"


def read_latest_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
    """Newest committed maintained term-stats snapshot."""
    return versioned.read_latest(spark, stats_dir)


def build_fold(stats_dir: str, text_col: str = "text"):
    """The foreachBatch fold: merge one micro-batch's term stats into a
    new versioned snapshot, replay-safe under at-least-once delivery.
    Exposed so tests can drive crash/replay sequences directly."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return

        def step(v: int, new_v: int) -> None:
            fresh = term_stats(batch, text_col=text_col)
            if v >= 0:
                base = batch.sparkSession.read.parquet(f"{stats_dir}/v={v}")
                fresh = merge_term_stats(base, fresh)
            fresh.write.mode("overwrite").parquet(f"{stats_dir}/v={new_v}")

        versioned.fold(stats_dir, batch_id, step)

    return fold


def run_term_stats_stream(
    spark: SparkSession,
    docs_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving documents' term statistics into a
    versioned stats snapshot. Returns the StreamingQuery.

    `max_files_per_trigger` bounds micro-batch size (and lets tests force
    the multi-batch merge path); default lets availableNow drain freely."""
    fold = build_fold(stats_dir, text_col=text_col)
    return versioned.run_file_stream(
        spark, docs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
