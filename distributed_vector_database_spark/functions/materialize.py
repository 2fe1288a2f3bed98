"""Lineage truncation for iterative per-round state, with a
durability switch.

Iterative operators (pagerank, k-core, label propagation, the dedup
connected-component loop) re-read their previous round's state several
times per round; left lazy, the plan doubles or triples per round, so
each round's state must be materialized. Two modes:

- localCheckpoint(eager=True) — executor-local, GC-managed blocks.
  The right trade on a single JVM and for short-lived state: no
  CacheManager pin, released when unreachable. BUT lineage is
  truncated, so a lost executor makes its blocks unrecoverable
  mid-job.
- checkpoint(eager=True) — durable files under the checkpoint dir,
  recomputable after executor loss. The right trade on clusters where
  executors come and go (dynamic allocation, spot instances).

`reliable=None` auto-selects durable when
spark.dynamicAllocation.enabled is set — the configuration under
which executor loss is routine, not exceptional. Production clusters
MUST setCheckpointDir to shared storage (HDFS/object store) first:
reliable checkpoints are written BY EXECUTORS, so a driver-local path
only works when driver and executors share a filesystem. The temp-dir
fallback is therefore installed only on local[*] masters; on a
cluster master with no checkpoint dir, explicit reliable=True raises
(a silently-broken path beats nothing only until the first stage
re-read fails on another executor), and auto mode degrades to
localCheckpoint with a warning rather than failing jobs that ran
fine before.

Checkpoint files are cleaned by Spark's ContextCleaner only when
spark.cleaner.referenceTracking.cleanCheckpoints=true (a session
conf, default false) — long-lived sessions running iterative
operators in reliable mode should set it at session build, or GC the
checkpoint dir on their own cadence; each call leaves one node-sized
file set per materialized round otherwise.

`release(df)` drops a materialized frame's cached blocks as soon as
its last reader is done, instead of leaving them in the session until
the JVM's garbage collector lets the ContextCleaner find them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    spark = df.sparkSession
    auto = reliable is None
    if auto:
        reliable = (
            spark.conf.get("spark.dynamicAllocation.enabled", "false")
            == "true"
        )
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        if sc.master.startswith("local"):
            # single-JVM: driver and "executors" share the filesystem,
            # a driver-local dir is genuinely durable across task
            # retries
            import tempfile

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="dvdb_ckpt_"))
        elif auto:
            import warnings

            warnings.warn(
                "materialize: dynamic allocation is on but no Spark "
                "checkpoint dir is configured; falling back to "
                "localCheckpoint (unrecoverable under executor loss). "
                "setCheckpointDir to shared storage to get durable "
                "iterative state.",
                stacklevel=2,
            )
            return df.localCheckpoint(eager=True)
        else:
            raise ValueError(
                "materialize(reliable=True) on a cluster master needs "
                "spark.sparkContext.setCheckpointDir pointing at "
                "SHARED storage (executors write the checkpoint; a "
                "driver-local temp dir would not be readable across "
                "nodes)"
            )
    return df.checkpoint(eager=True)


def release(df: DataFrame) -> None:
    """Unpersist the blocks behind `df`, a frame returned by
    `materialize` or `localCheckpoint` (its analyzed plan is the
    checkpointed RDD). Nothing may read `df` afterwards: a
    localCheckpoint's lineage is cut, so its blocks cannot be rebuilt."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)
