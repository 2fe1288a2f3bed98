"""Streaming span dedup: fold semantics, replay safety, and live-path
equivalence with the batch operator."""

import json
import os

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.dedup import (
    remove_duplicate_spans,
)
from distributed_vector_database_spark.streaming.span_state import (
    build_span_fold,
    read_latest_state,
    run_span_dedup_stream,
)

DOCS = "doc_id long, text string"

B1 = [
    (1, "alpha beta gamma delta epsilon zeta eta theta unique one"),
    (2, "totally different words here nothing shared at all right"),
]
B2 = [
    (10, "alpha beta gamma delta epsilon zeta eta theta fresh tail"),
    (11, "brand new span aa bb cc dd ee ff gg hh"),
    (12, "brand new span aa bb cc dd ee ff gg hh"),
]


def _cleaned(spark, out_dir):
    rows = spark.read.parquet(out_dir + "/batch=*").collect()
    return {r["doc_id"]: (r["clean_text"], r["n_removed_tokens"]) for r in rows}


def test_fold_matches_batch_operator_and_survives_replay(spark, tmp_path):
    state_dir, out_dir = str(tmp_path / "st"), str(tmp_path / "out")
    os.makedirs(state_dir)
    fold = build_span_fold(state_dir, out_dir, k=8)

    fold(spark.createDataFrame(B1, DOCS), 0)
    fold(spark.createDataFrame(B2, DOCS), 1)

    got = _cleaned(spark, out_dir)
    full = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_spans(
            spark.createDataFrame(B1 + B2, DOCS), k=8
        ).collect()
    }
    assert got == full  # streaming fold == one-shot batch recompute

    # at-least-once replay of batch 1 must not double-count the state
    before = sorted(
        (r["gram"], r["n"]) for r in read_latest_state(spark, state_dir).collect()
    )
    fold(spark.createDataFrame(B2, DOCS), 1)
    after = sorted(
        (r["gram"], r["n"]) for r in read_latest_state(spark, state_dir).collect()
    )
    assert before == after


def test_fold_recovers_from_crash_between_write_and_marker(
    spark, tmp_path, monkeypatch
):
    # kill the fold after the state parquet (and cleaned output) land
    # but BEFORE the batch_id marker: replaying the batch after
    # restart must rebuild on the last GOOD base and end identical to
    # the clean two-fold run (VERDICT r6 item #4 — the lexical_stats
    # recovery shape applied to span state)
    from distributed_vector_database_spark import versioned

    def state_rows(d):
        return sorted(
            (r["gram"], r["n"]) for r in read_latest_state(spark, d).collect()
        )

    clean_st, clean_out = str(tmp_path / "cst"), str(tmp_path / "cout")
    os.makedirs(clean_st)
    fold_clean = build_span_fold(clean_st, clean_out, k=8)
    fold_clean(spark.createDataFrame(B1, DOCS), 0)
    fold_clean(spark.createDataFrame(B2, DOCS), 1)

    st, out = str(tmp_path / "st"), str(tmp_path / "out")
    os.makedirs(st)
    fold = build_span_fold(st, out, k=8)
    fold(spark.createDataFrame(B1, DOCS), 0)
    after_b1 = state_rows(st)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before marker")

    with monkeypatch.context() as m:
        m.setattr(versioned, "commit", boom)
        try:
            fold(spark.createDataFrame(B2, DOCS), 1)
        except RuntimeError:
            pass
    # marker-less v=1 is invisible: readers still serve the b1 state
    assert state_rows(st) == after_b1

    fold(spark.createDataFrame(B2, DOCS), 1)  # stream replay
    assert state_rows(st) == state_rows(clean_st)
    assert _cleaned(spark, out) == _cleaned(spark, clean_out)


def test_live_stream_end_to_end(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    for name, rows in (("a.json", B1), ("b.json", B2)):
        with open(os.path.join(docs_dir, name), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    q = run_span_dedup_stream(
        spark,
        docs_dir,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        k=8,
        max_files_per_trigger=1,  # force the multi-batch fold path
    )
    q.awaitTermination(120)
    got = _cleaned(spark, str(tmp_path / "out"))
    # file order = batch order (a.json then b.json): doc 1 canonical
    assert got[1][1] == 0 and got[10][1] == 8
    assert got[12] == ("", 11) and got[11][1] == 0
    n = read_latest_state(spark, str(tmp_path / "state")).agg(F.sum("n")).first()[0]
    # every strict window of every doc is in the state
    assert n == sum(max(len(t.split()) - 7, 0) for _, t in B1 + B2)
