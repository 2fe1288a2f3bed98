"""Streaming maintenance of the persisted IVF layout — the put/delete
changelog replay hnsw_maintenance.py provides for the graph index,
for the partition-pruned IVF one (the reference's WAL-to-index path,
src/datanode/handler.py:253-261, applied to a quantizer layout the
reference doesn't have).

Semantics per micro-batch: newest op per key wins (changelog
compaction); then ONE ivf_delete rewrite removes every batch key
(delete keys and put keys alike — the upsert pre-clear), and one
ivf_append(assume_absent=True) lands the put rows into their cells.
Deletion is physical (partition-local rewrite; no tombstones, no
serve-time filtering, no compaction debt — IVF's advantage over the
graph index).

Replay safety: the batch_id marker guards the whole fold; across the
crash window (rows appended, marker unwritten) the replay's delete
pass removes the crashed attempt's rows — they are put keys, hence
victims — before re-appending. The quantizer is FROZEN at build time — the standard
IVF practice; drift in the data distribution degrades cell balance,
not correctness (every vector still lands in exactly one cell), and
the repair path is an ivf_build_auto rebuild."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.functions.materialize import release
from distributed_vector_database_spark.operators.ann import (
    ivf_append,
    ivf_delete,
)

CHANGELOG_SCHEMA = "seq long, op string, vec_id long, embedding array<double>"


def build_ivf_changelog_fold(
    index_dir: str,
    centroids: list,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    seq_col: str = "seq",
    split_cap_factor: float | None = None,
):
    """foreachBatch body replaying a put/delete changelog into the
    persisted IVF layout.

    When the layout persists its quantizer (ivf_write(centroids=)),
    each batch assigns against THAT copy, not the closure's — cell
    splits (ivf_split_fat_cells) update the persisted quantizer, and
    an append against the stale closure copy would route rows into
    removed cell ids that no probe ever reads. `split_cap_factor`
    turns on auto-split after each batch (the incremental analog of
    the reference's rebuild-every-200k-puts trigger,
    src/datanode/handler.py:240-251) — requires a persisted quantizer."""
    import os as _os2

    from pyspark.sql.window import Window

    from distributed_vector_database_spark.operators.ann import (
        ivf_read_quantizer,
        ivf_split_fat_cells,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # the marker now guards the WHOLE fold, not just the append:
        # the single-rewrite delete pass removes put keys too, so a
        # clean replay that skipped only the append would delete
        # applied rows without restoring them
        if versioned.batch_applied(index_dir, batch_id):
            return
        spark_ = batch.sparkSession
        w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
        # r13: materialize the newest-op-per-key view once — the fold
        # actions it three times (victim delete, put-presence probe,
        # append scan); batch-sized, so the checkpoint respects the
        # O(batch) fold contract
        last = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        try:
            # a malformed put carrying a null vector would crash
            # ivf_assign's np.stack executor-side and kill the stream —
            # drop it here (the HNSW twin filters inside hnsw_append)
            puts = (
                last.filter(F.col(op_col) == "put")
                .filter(F.col(vec_col).isNotNull())
                .drop(op_col, seq_col)
            )
            # ONE rewrite per batch: the victim set is every batch key —
            # delete keys AND put keys (covers re-put upserts, and makes
            # the whole fold replay-idempotent: a crashed append's rows
            # are themselves put keys, so the replay's delete pass removes
            # them before re-appending). Keys stay a DataFrame end-to-end —
            # ivf_delete turns them into a broadcast anti join, never a
            # collected literal list (O(batch) keys would otherwise
            # round-trip the driver and explode the Catalyst predicate).
            # Splitting this into upsert-pre-delete + delete-leg (the r7
            # shape) rewrote the affected cells twice per batch; at 1M/100k
            # ops the single-rewrite fold halves the dominant cost.
            victims = last.select(key_col)
            ivf_delete(spark_, index_dir, victims, key_col=key_col)
            has_quantizer = _os2.path.exists(
                _os2.path.join(index_dir, "_quantizer.json")
            )
            cents = (
                ivf_read_quantizer(index_dir) if has_quantizer else centroids
            )
            if puts.limit(1).count() > 0:
                ivf_append(
                    spark_, index_dir, puts, cents,
                    key_col=key_col, vec_col=vec_col, batch_id=batch_id,
                    assume_absent=True,
                )
        finally:
            # the newest-op view's last reader is the append
            release(last)
        if split_cap_factor is not None and has_quantizer:
            ivf_split_fat_cells(
                spark_, index_dir, cap_factor=split_cap_factor,
                key_col=key_col, vec_col=vec_col,
            )

    return fold


def run_ivf_changelog_stream(
    spark: SparkSession,
    changelog_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list,
    schema: str = CHANGELOG_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Continuously replay an arriving put/delete changelog into an
    existing ivf_write layout. Returns the StreamingQuery."""
    fold = build_ivf_changelog_fold(
        index_dir, centroids, key_col=key_col, vec_col=vec_col
    )
    return versioned.run_file_stream(
        spark, changelog_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
