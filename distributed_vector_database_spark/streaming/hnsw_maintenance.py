"""Streaming maintenance of the persisted HNSW graph index.

The reference inserts every put into its live hnswlib graph
(src/datanode/handler.py:253-261); the streaming analog folds each
arriving micro-batch of vectors into the hnsw_write layout via
hnsw_append: readStream over an arriving-vectors directory →
foreachBatch → per-shard graph insert. Only the shards a batch's keys
hash to are rewritten.

Replay safety under foreachBatch's at-least-once delivery: hnsw_append
records each applied batch_id as a marker and skips replays; the one
crash window (shards rewritten, marker unwritten) can duplicate a
batch's nodes in storage, but serving dedups to the best row per key —
duplicate nodes carry identical vectors, so results are unchanged and
the next rebuild drops the extra rows.

Two entry points:
- run_hnsw_stream: put-only vector stream (deletes flow through the
  store's changelog; the live-state semi-join in store.hnsw_search
  drops them at serve time).
- run_hnsw_changelog_stream: full put/delete changelog replay into
  the index — the reference's WAL-to-index path (its WAL carries both
  ops; replay applies puts via add_items and deletes via the
  deleted_ids tombstone set, src/datanode/handler.py:253-261 and
  :43,99), with the reference's periodic reclaim generalized to a
  tombstone-FRACTION trigger: when tombstones exceed
  `compact_threshold` of the stored rows, hnsw_compact rebuilds just
  the affected shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.hnsw import (
    _read_tombstones,
    hnsw_append,
    hnsw_compact,
    hnsw_delete,
)

VECS_SCHEMA = "vec_id long, embedding array<double>"
CHANGELOG_SCHEMA = "seq long, op string, vec_id long, embedding array<double>"


def run_hnsw_stream(
    spark: SparkSession,
    vecs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = VECS_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
):
    """Continuously insert arriving vectors into an existing hnsw_write
    layout. Returns the StreamingQuery."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        hnsw_append(
            spark, index_dir, batch, key_col=key_col, vec_col=vec_col,
            batch_id=batch_id,
        )

    return versioned.run_file_stream(
        spark, vecs_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )


def build_hnsw_changelog_fold(
    index_dir: str,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    seq_col: str = "seq",
    compact_threshold: float | None = 0.2,
):
    """foreachBatch body replaying a put/delete changelog into the
    persisted HNSW layout. Within a batch the NEWEST op per key wins
    (changelog-compaction semantics, same as the store's fold): keys
    whose last op is `put` append into their shard graphs, keys whose
    last op is `delete` join the tombstone set. Replay safety: appends
    skip via hnsw_append's batch_id marker; tombstone union is
    naturally idempotent; the two key sets are disjoint by
    construction, so a replayed batch can't resurrect its own deletes.

    After applying, if tombstones exceed `compact_threshold` of the
    stored rows, hnsw_compact reclaims them (the reference's periodic
    _rebuild_hnsw_index, scoped to affected shards). Pass None to
    never auto-compact."""
    from pyspark.sql.window import Window

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession
        w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
        # r13: materialize the newest-op-per-key view once — the fold
        # actions it for the delete collect, the put-presence probe and
        # the append scan; batch-sized (O(batch) fold contract holds)
        last = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        puts = last.filter(F.col(op_col) == "put").select(key_col, vec_col)
        dels = [
            r[key_col]
            for r in last.filter(F.col(op_col) == "delete")
            .select(key_col)
            .collect()
        ]
        if puts.limit(1).count() > 0:
            hnsw_append(
                spark_, index_dir, puts, key_col=key_col, vec_col=vec_col,
                batch_id=batch_id,
            )
        if dels:
            hnsw_delete(index_dir, dels)
        if compact_threshold is not None:
            n_tomb = len(_read_tombstones(index_dir))
            if n_tomb:
                n_rows = spark_.read.parquet(index_dir).count()
                if n_rows and n_tomb >= compact_threshold * n_rows:
                    hnsw_compact(spark_, index_dir, key_col=key_col,
                                 vec_col=vec_col)

    return fold


def run_hnsw_changelog_stream(
    spark: SparkSession,
    changelog_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = CHANGELOG_SCHEMA,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_threshold: float | None = 0.2,
    max_files_per_trigger: int | None = None,
):
    """Continuously replay an arriving put/delete changelog into an
    existing hnsw_write layout. Returns the StreamingQuery."""
    fold = build_hnsw_changelog_fold(
        index_dir, key_col=key_col, vec_col=vec_col,
        compact_threshold=compact_threshold,
    )
    return versioned.run_file_stream(
        spark, changelog_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
