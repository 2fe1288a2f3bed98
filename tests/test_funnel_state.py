"""Maintained funnel state: fold parity with the batch operator,
replay idempotence, and interrupted-write (crash) recovery."""

import datetime

from pyspark.sql import functions as F

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)

B = datetime.datetime(2024, 1, 1)


def _ev(i, u, t, minutes):
    return (i, B + datetime.timedelta(minutes=minutes), u, t, 0.0)


ROWS = [
    # user 1: full ordered funnel, split across the batch boundary
    _ev(1, 1, "view", 0), _ev(2, 1, "click", 5), _ev(3, 1, "purchase", 70),
    # user 2: purchase first -> 2 ordered steps, all in batch 1
    _ev(4, 2, "purchase", 1), _ev(5, 2, "view", 2), _ev(6, 2, "click", 3),
    # user 3: view in batch 1, never progresses
    _ev(7, 3, "view", 10),
    # user 4: appears only in batch 2
    _ev(8, 4, "view", 61), _ev(9, 4, "click", 62),
    # user 5: non-funnel events only -> no state row at all
    _ev(10, 5, "refund", 0), _ev(11, 5, "refund", 65),
]
CUT = 60  # minutes: batch 1 = ts <= +60min, batch 2 = rest


def _batches(spark):
    ev = spark.createDataFrame(ROWS, EV_SCHEMA)
    cut = B + datetime.timedelta(minutes=CUT)
    return ev, ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)


def _state_rows(spark, path):
    from distributed_vector_database_spark.streaming.funnel_state import (
        read_latest_funnel_state,
    )

    return sorted(
        (r["user"], r["s"], r["lt"])
        for r in read_latest_funnel_state(spark, path).collect()
    )


STEPS = ["view", "click", "purchase"]


def test_fold_parity_with_batch_funnel(spark, tmp_path):
    from distributed_vector_database_spark.operators.relational import (
        funnel,
        funnel_report,
    )
    from distributed_vector_database_spark.streaming.funnel_state import (
        build_funnel_fold,
        serve_funnel_report,
    )

    ev, b1, b2 = _batches(spark)
    path = str(tmp_path / "fs")
    fold = build_funnel_fold(path, STEPS)
    fold(b1, 0)
    fold(b2, 1)

    got = {u: s for u, s, _ in _state_rows(spark, path)}
    want = {
        r["user_id"]: r["steps_completed"] for r in funnel(ev, STEPS).collect()
    }
    assert got == want == {1: 3, 2: 2, 3: 1, 4: 2}

    served = sorted(
        (r["step"], r["step_name"], r["n_users"])
        for r in serve_funnel_report(spark, path, STEPS).collect()
    )
    batch = sorted(
        (r["step"], r["step_name"], r["n_users"])
        for r in funnel_report(ev, STEPS).collect()
    )
    assert served == batch


def test_fold_replay_same_batch_id_is_noop(spark, tmp_path):
    from distributed_vector_database_spark.streaming.funnel_state import (
        build_funnel_fold,
    )

    _, b1, b2 = _batches(spark)
    path = str(tmp_path / "fs")
    fold = build_funnel_fold(path, STEPS)
    fold(b1, 0)
    fold(b2, 1)
    once = _state_rows(spark, path)
    fold(b2, 1)  # at-least-once redelivery
    fold(b2, 1)
    assert _state_rows(spark, path) == once


def test_fold_recovers_from_crash_between_write_and_marker(
    spark, tmp_path, monkeypatch
):
    # kill the fold after the state parquet lands but BEFORE the
    # batch_id marker: the replayed batch must rebuild on the last
    # GOOD base and end bit-identical to the clean two-fold run
    from distributed_vector_database_spark import versioned
    from distributed_vector_database_spark.streaming import funnel_state as fs

    _, b1, b2 = _batches(spark)
    clean = str(tmp_path / "clean")
    fold_clean = fs.build_funnel_fold(clean, STEPS)
    fold_clean(b1, 0)
    fold_clean(b2, 1)

    crashy = str(tmp_path / "crashy")
    fold = fs.build_funnel_fold(crashy, STEPS)
    fold(b1, 0)
    after_b1 = _state_rows(spark, crashy)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before marker")

    with monkeypatch.context() as m:
        m.setattr(versioned, "commit", boom)
        try:
            fold(b2, 1)
        except RuntimeError:
            pass
    # v=1 parquet exists but carries no marker -> readers still serve
    # the last published version (the b1 state)
    assert _state_rows(spark, crashy) == after_b1

    fold(b2, 1)  # stream replay after restart
    assert _state_rows(spark, crashy) == _state_rows(spark, clean)


def test_live_stream_maintains_state(spark, tmp_path):
    import json

    from distributed_vector_database_spark.streaming.funnel_state import (
        run_funnel_stream,
        serve_funnel_report,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i, ts, u, t, v in ROWS:
            f.write(
                json.dumps(
                    {
                        "event_id": i,
                        "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                        "user_id": u,
                        "event_type": t,
                        "value": v,
                    }
                )
                + "\n"
            )
    state = str(tmp_path / "state")
    q = run_funnel_stream(
        spark, str(src), state, str(tmp_path / "ckpt"), STEPS
    )
    q.awaitTermination(120)
    rep = {
        r["step_name"]: r["n_users"]
        for r in serve_funnel_report(spark, state, STEPS).collect()
    }
    assert rep == {"view": 4, "click": 3, "purchase": 1}


def test_serve_funnel_report_zero_events(spark, tmp_path):
    """No state versions (the stream consumed nothing) serves the same
    all-zero report the batch operator yields on an empty event set."""
    from distributed_vector_database_spark.streaming.funnel_state import (
        serve_funnel_report,
    )

    got = serve_funnel_report(
        spark, str(tmp_path / "never_written"), ["view", "click", "buy"]
    ).orderBy("step").collect()
    assert [(r["step"], r["step_name"], r["n_users"]) for r in got] == [
        (1, "view", 0), (2, "click", 0), (3, "buy", 0),
    ]
