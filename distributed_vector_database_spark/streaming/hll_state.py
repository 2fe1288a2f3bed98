"""Maintained HyperLogLog registers over continuous ingest — the
streaming leg of operators/sketch.py.

The register table IS the state: m rows of (bucket, register), and the
sketch union is register-wise MAX (operators/sketch.hll_merge). MAX is
associative, commutative, and IDEMPOTENT — unlike the additive folds
(streaming/lexical_stats.py term counts, streaming/expectations.py
violation counts), replaying a micro-batch cannot corrupt this state.
It still uses the versioned fold (versioned.py): replays skip a wasted
re-merge and readers never see a half-written snapshot.

At 100 TB this is the distinct-count story: per-batch register tables
are m-bounded regardless of batch size, the fold is O(m) per batch,
and the served estimate never rescans history. Folding N batches then
reading the snapshot is row-equal to the one-shot hll_registers over
the union — pinned by the `hll_served` contract query (oracle: the
same register SQL over all events) and tests/test_hll_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.sketch import (
    hll_merge,
    hll_registers,
)

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def build_hll_fold(state_dir: str, key_col: str, p: int = 6):
    """foreachBatch body maintaining {state_dir}/v=N register
    snapshots. Exposed so tests can drive crash/replay sequences."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return

        def step(v: int, new_v: int) -> None:
            fresh = hll_registers(batch, key_col, p)
            if v >= 0:
                base = batch.sparkSession.read.parquet(f"{state_dir}/v={v}")
                fresh = hll_merge(base, fresh)
            fresh.write.mode("overwrite").parquet(f"{state_dir}/v={new_v}")

        versioned.fold(state_dir, batch_id, step)

    return fold


def read_latest_registers(spark: SparkSession, state_dir: str) -> DataFrame:
    """Newest committed maintained register snapshot, (bucket, register)
    sorted by bucket."""
    return versioned.read_latest(spark, state_dir).orderBy("bucket")


def run_hll_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    p: int = 6,
    schema: str = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving events' keys into the maintained
    register snapshot. Returns the StreamingQuery."""
    fold = build_hll_fold(state_dir, key_col, p)
    return versioned.run_file_stream(
        spark, events_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
