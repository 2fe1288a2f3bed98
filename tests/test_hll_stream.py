"""Maintained-HLL fold: batch/stream equivalence, crash recovery, and
the idempotent-replay property that distinguishes a MAX fold from the
additive family."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.sketch import hll_registers
from distributed_vector_database_spark.streaming.hll_state import (
    build_hll_fold,
    read_latest_registers,
    run_hll_stream,
)


def _rows(df):
    return sorted((r.bucket, r.register) for r in df.collect())


def _users(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 97) for i in range(lo, hi)], "event_id long, user_id long"
    )


def test_fold_matches_one_shot_registers(spark, tmp_path):
    state = str(tmp_path / "hll")
    fold = build_hll_fold(state, "user_id")
    fold(_users(spark, 0, 300), 0)
    fold(_users(spark, 200, 700), 1)
    fold(_users(spark, 650, 1000), 2)
    served = read_latest_registers(spark, state)
    oneshot = hll_registers(_users(spark, 0, 1000), "user_id")
    assert _rows(served) == _rows(oneshot)


def test_replay_of_same_batch_is_skipped_and_harmless(spark, tmp_path):
    state = str(tmp_path / "hll")
    fold = build_hll_fold(state, "user_id")
    fold(_users(spark, 0, 300), 0)
    before = _rows(read_latest_registers(spark, state))
    # at-least-once: the same batch_id arrives again
    fold(_users(spark, 0, 300), 0)
    after = _rows(read_latest_registers(spark, state))
    assert before == after
    # and even a FORCED duplicate merge (different batch_id, same data)
    # is a no-op because MAX is idempotent
    fold(_users(spark, 0, 300), 1)
    assert _rows(read_latest_registers(spark, state)) == before


def test_interrupted_write_recovers_from_last_complete_version(
    spark, tmp_path
):
    state = str(tmp_path / "hll")
    fold = build_hll_fold(state, "user_id")
    fold(_users(spark, 0, 300), 0)
    # simulate a crash mid-write of v=1: parquet lands, marker does not
    broken = _users(spark, 300, 400)
    hll_registers(broken, "user_id").write.mode("overwrite").parquet(
        f"{state}/v=1"
    )
    assert not os.path.exists(f"{state}/v=1/{versioned.MARKER}")
    # the read skips the incomplete version...
    served = read_latest_registers(spark, state)
    assert _rows(served) == _rows(hll_registers(_users(spark, 0, 300), "user_id"))
    # ...and the restarted batch rebuilds it from v=0
    fold(broken, 1)
    assert _rows(read_latest_registers(spark, state)) == _rows(
        hll_registers(_users(spark, 0, 400), "user_id")
    )


def test_live_stream_folds_registers(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    a = _users(spark, 0, 200).withColumn(
        "ts", F.timestamp_seconds(F.col("event_id"))
    ).withColumn("event_type", F.lit("x"))
    b = _users(spark, 150, 500).withColumn(
        "ts", F.timestamp_seconds(F.col("event_id"))
    ).withColumn("event_type", F.lit("x"))
    a.coalesce(1).write.mode("append").json(src)
    b.coalesce(1).write.mode("append").json(src)
    state = str(tmp_path / "state")
    q = run_hll_stream(
        spark, src, state, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(120)
    served = read_latest_registers(spark, state)
    oneshot = hll_registers(_users(spark, 0, 500), "user_id")
    assert _rows(served) == _rows(oneshot)
