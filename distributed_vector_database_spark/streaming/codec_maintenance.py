"""Streaming maintenance of a quantized codec layout (SQ, PQ, BQ or MRL,
flat or IVF-partitioned; operators/quantization.py): readStream over an
arriving-vectors directory, foreachBatch appends each micro-batch via
`codec_append` — O(batch), with the layout's frozen codec. Exactly-once
serving under at-least-once delivery comes from the layout's
write-audit-publish protocol (a replayed batch_id is skipped). Caller
contract (same as codec_append): arriving keys must be new.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.quantization import codec_append

VECS_SCHEMA = "vec_id long, embedding array<double>"


def run_codec_stream(
    spark: SparkSession,
    vecs_dir: str,
    layout_dir: str,
    checkpoint_dir: str,
    schema: str = VECS_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Continuously fold arriving vectors into an existing codec_write
    layout. Returns the StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        codec_append(
            batch, layout_dir, key_col=key_col, vec_col=vec_col, batch_id=batch_id
        )

    return versioned.run_file_stream(
        spark, vecs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
