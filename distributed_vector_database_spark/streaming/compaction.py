"""Streaming change-log compaction: the reference's WAL→checkpoint state
machine (O10-O13) as a live Structured Streaming pipeline.

Reference flow: every put/delete appends a JSON line to the WAL
(src/utils/wal_manager.py:80-113); recovery loads the newest checkpoint
then incrementally replays last-op-per-key (src/datanode/handler.py:181-219,
src/utils/wal_manager.py:185-246).

Spark flow: readStream over the change-log directory (the WAL), and
foreachBatch applies each micro-batch onto the compacted snapshot via
the SAME `apply_changelog` used in batch — exactly-once via the
streaming checkpointLocation (the WAL-position file, wal_pos.txt at
src/datanode/handler.py:170, for free) plus the versioned fold
(versioned.py).

Scale: the snapshot rewrite per micro-batch is the simple-and-correct
form; at 100 TB you swap the sink for a merge-on-read table format —
the change-log semantics (this module) stay identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.changelog import apply_changelog

CHANGELOG_SCHEMA = "op string, key string, value double, ts long, seq long"


def read_latest_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Load the newest committed compacted snapshot."""
    return versioned.read_latest(spark, snapshot_dir)


def read_changelog_stream(
    spark: SparkSession, log_dir: str, schema: str = CHANGELOG_SCHEMA
) -> DataFrame:
    """The WAL as a streaming source: JSON-lines files, one op per line
    (src/utils/wal_manager.py:90-98)."""
    return spark.readStream.schema(schema).json(log_dir)


def run_compaction_stream(
    spark: SparkSession,
    log_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: str = CHANGELOG_SCHEMA,
):
    """Continuously fold the change-log into a compacted parquet
    snapshot. Returns the StreamingQuery (caller awaits/stops)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        # versioned snapshots (the reference's checkpoint_<ts> dirs,
        # src/datanode/handler.py:156-179): write v=N+1 from v=N + batch,
        # never read and overwrite the same files. Fully distributed —
        # nothing is collected to the driver.
        def step(v: int, new_v: int) -> None:
            if v >= 0:
                base = batch.sparkSession.read.parquet(f"{snapshot_dir}/v={v}")
            else:
                base = batch.sparkSession.createDataFrame(
                    [], "key string, value double, ts long, seq long"
                )
            apply_changelog(
                base, batch, key_col="key", ts_col="ts", op_col="op", seq_col="seq"
            ).write.mode("overwrite").parquet(f"{snapshot_dir}/v={new_v}")

        versioned.fold(snapshot_dir, batch_id, step)

    return versioned.run_file_stream(spark, log_dir, schema, fold, checkpoint_dir)
