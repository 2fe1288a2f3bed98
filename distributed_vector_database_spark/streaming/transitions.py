"""Maintained Markov transition matrix — the streaming form of
operators/mining.event_transitions.

A 100 TB event store cannot re-window all history per question; it
maintains (prev_type, next_type, transitions) additively. Counts are
mergeable; probabilities are derived at READ time from the snapshot
(a ratio is not additive). Cross-batch boundaries need one extra
piece of state: the LAST event per user (a |users|-sized ledger), so
the first event of a new batch pairs with the previous batch's tail
instead of being dropped.

Contract: batches must arrive per-user time-ordered (each batch's
events for a user are all >= the ledger's last event for that user) —
the natural property of an append-only event log split on time. The
fold is then hash-equal to the one-shot event_transitions over the
union, pinned by tests/test_transitions_stream.py.

Replay safety: the versioned fold (versioned.py) makes at-least-once
foreachBatch delivery exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributed_vector_database_spark import versioned

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def _batch_steps(
    batch: DataFrame, ledger: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(transition counts for this batch incl. ledger boundary,
    updated ledger). Ledger schema: user_id, ts, event_id, event_type."""
    ev = batch.select("user_id", "ts", "event_id", "event_type")
    if ledger is not None:
        # the ledger rows act as a virtual 0th event per user: one
        # union, then the same lag window — boundary transitions fall
        # out of the ordinary path instead of a special-cased join
        ev = ev.unionByName(ledger)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    last = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    new_ledger = (
        ev.withColumn("__rn", F.row_number().over(last))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return counts, new_ledger


def merge_transitions(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Additive merge per (prev_type, next_type)."""
    return (
        base.unionByName(delta)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("transitions").alias("transitions"))
    )


def build_transitions_fold(state_dir: str):
    """foreachBatch body: fold one micro-batch into a new version of
    {state_dir}/counts/v=N and {state_dir}/ledger/v=N, skipping
    at-least-once replays via the batch_id marker (the ledger is
    published under the counts directory's marker)."""
    cdir, ldir = f"{state_dir}/counts", f"{state_dir}/ledger"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession

        def step(v: int, new_v: int) -> None:
            ledger = spark_.read.parquet(f"{ldir}/v={v}") if v >= 0 else None
            counts, new_ledger = _batch_steps(batch, ledger)
            if v >= 0:
                counts = merge_transitions(
                    spark_.read.parquet(f"{cdir}/v={v}"), counts
                )
            # materialize the ledger BEFORE overwriting anything it reads
            new_ledger.write.mode("overwrite").parquet(f"{ldir}/v={new_v}")
            counts.write.mode("overwrite").parquet(f"{cdir}/v={new_v}")

        versioned.fold(cdir, batch_id, step)

    return fold


def read_transition_matrix(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serve (prev_type, next_type, transitions, prob) from the newest
    committed snapshot — probabilities derived at read time."""
    counts = versioned.read_latest(spark, f"{state_dir}/counts")
    row_tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "transitions",
        F.round(
            F.col("transitions") / F.sum("transitions").over(row_tot), 6
        ).alias("prob"),
    )


def run_transitions_stream(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
):
    """Continuously maintain the transition matrix over arriving JSON
    events. Returns the StreamingQuery."""
    fold = build_transitions_fold(state_dir)
    return versioned.run_file_stream(
        spark, events_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
