"""Streaming span-level dedup — the online ExactSubstr gate.

Each arriving micro-batch of documents is cleaned against the
accumulated gram state (operators/dedup.py::
remove_duplicate_spans_incremental: corpus never re-windowed), the
cleaned batch lands under out_dir/batch=<id>/, and the batch's own
gram counts fold into a versioned state snapshot. The gram merge is
additive, so the versioned fold (versioned.py) skips a replayed batch
whole (its cleaned output was already written with overwrite
semantics, so re-skipping is idempotent end-to-end).

At 100 TB/day the state is the full gram multiset (16-byte md5 + a
count — proportional to token mass, the irreducible cost of EXACT
substring dedup; the sketch tiers in operators/dedup.py are the
lossy alternative). Bucket the state by gram at scale so the batch
probe prunes."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.dedup import (
    remove_duplicate_spans_incremental,
    span_gram_state,
)

DOCS_SCHEMA = "doc_id long, text string"


def read_latest_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Newest committed gram-state snapshot."""
    return versioned.read_latest(spark, state_dir)


def build_span_fold(state_dir: str, out_dir: str, k: int = 8):
    """foreachBatch body: clean the batch against the current state,
    write the cleaned rows, fold the batch's grams into a new state
    version. Exposed directly so tests can drive crash/replay."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession

        def step(v: int, new_v: int) -> None:
            if v >= 0:
                state = spark_.read.parquet(f"{state_dir}/v={v}")
                cleaned, delta = remove_duplicate_spans_incremental(
                    batch, state, k=k, materialize_windows=True
                )
                merged = (
                    state.unionByName(delta)
                    .groupBy("gram")
                    .agg({"n": "sum"})
                    .withColumnRenamed("sum(n)", "n")
                )
            else:
                # first batch: only within-batch duplicates exist
                empty = spark_.createDataFrame([], "gram string, n long")
                cleaned, delta = remove_duplicate_spans_incremental(
                    batch, empty, k=k, materialize_windows=True
                )
                merged = delta
            cleaned.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )
            merged.write.mode("overwrite").parquet(f"{state_dir}/v={new_v}")

        versioned.fold(state_dir, batch_id, step)

    return fold


def run_span_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Continuously span-dedup arriving JSON documents against the
    growing gram state. Returns the StreamingQuery."""
    fold = build_span_fold(state_dir, out_dir, k=k)
    return versioned.run_file_stream(
        spark, docs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
