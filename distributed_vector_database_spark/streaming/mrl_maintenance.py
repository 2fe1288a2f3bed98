"""Streaming maintenance of the Matryoshka prefix layout.

readStream over an arriving-vectors directory; foreachBatch appends
each micro-batch via `mrl_append` — O(batch), prefix width inherited
from the layout itself. Exactly-once serving under foreachBatch's
at-least-once delivery comes from the layout's write-audit-publish
protocol (operators/quantization.py): rows land under a fresh attempt
id and serve only once the marker publishes; a replayed batch_id is
detected and skipped. No marker bookkeeping here — mrl_append owns it.

Caller contract (same as mrl_append): arriving keys must be new;
route re-ingests through dedup upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.quantization import mrl_append

VECS_SCHEMA = "vec_id long, embedding array<double>"


def run_mrl_stream(
    spark: SparkSession,
    vecs_dir: str,
    layout_dir: str,
    checkpoint_dir: str,
    schema: str = VECS_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving vectors into an existing mrl_write
    layout. Returns the StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        mrl_append(
            batch, layout_dir, key_col=key_col, vec_col=vec_col,
            batch_id=batch_id,
        )

    return versioned.run_file_stream(
        spark, vecs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
