"""Crash injection for every user of the versioned-publish protocol
(versioned.py): a writer killed before its commit leaves a partial
v=N+1 that readers ignore and the next writer overwrites."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

import pytest

from distributed_vector_database_spark import store as store_mod
from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.store import VectorStore

DIM = 4


def _crash(*a, **k):
    raise RuntimeError("simulated crash")


@dataclass
class Case:
    vdir: str  # the versioned directory whose commit the crash skips
    publish: Callable[[], object]  # writes (and commits) the next version
    read: Callable[[], object]  # what readers serve
    expect: Callable[[], object]  # what they serve after the next publish
    crash_at: tuple = (versioned, "commit")
    after_crash: Callable[[], None] = lambda: None


def _vec_rows(df):
    return sorted((r["key"], tuple(r["vector"])) for r in df.collect())


def _scored(df):
    return [(r["key"], round(r["score"], 9)) for r in df.collect()]


def _store_compact(spark, root):
    s = VectorStore(spark, root, dim=DIM)
    s.put("a", [1.0, 0.0, 0.0, 0.0])
    s.compact()
    s.put("b", [0.0, 1.0, 0.0, 0.0])
    s.delete("a")
    want = [("b", (0.0, 1.0, 0.0, 0.0))]
    return Case(
        s._snap_dir, s.compact, lambda: _vec_rows(s.scan()), lambda: want
    )


def _store_rebuild_index(spark, root):
    # the crash lands after the layout's data and quantizer are written
    # and before its build meta: put_batch(auto_index=True) and
    # index_search must keep using the committed v=0
    s = VectorStore(spark, root, dim=DIM)
    s.put_batch(
        spark.createDataFrame(
            [(f"k{i}", [float(i), 1.0, 0.0, 0.0]) for i in range(8)],
            "key string, vector array<double>",
        )
    )
    s.rebuild_index(n_centroids=2)
    s.put("k1", [2.5, 1.0, 0.0, 0.0])  # served from v=0's vector until rebuilt
    q = [2.4, 1.0, 0.0, 0.0]

    def after_crash():
        s.put_batch(
            spark.createDataFrame(
                [("z", [2.4, 1.0, 0.0, 0.0])], "key string, vector array<double>"
            ),
            auto_index=True,
        )
        assert _scored(s.index_search(q, top_k=1)) == [("z", 0.0)]
        assert s.maybe_rebuild_index(threshold=10**9) is None

    return Case(
        os.path.join(root, "index", "data"),
        lambda: s.rebuild_index(n_centroids=2),
        lambda: _scored(s.index_search(q, top_k=3)),
        lambda: _scored(s.search(q, top_k=3)),
        crash_at=(store_mod, "local_df"),
        after_crash=after_crash,
    )


def _store_rebuild_hnsw(spark, root):
    s = VectorStore(spark, root, dim=DIM)
    for i in range(6):
        s.put(f"k{i}", [float(i), 1.0, 0.0, 0.0])
    s.rebuild_hnsw_index(num_shards=2)
    q = [9.0, 1.0, 0.0, 0.0]
    s.put("far", q)  # not in the v=0 graph, so v=0 cannot propose it
    return Case(
        os.path.join(root, "hnsw_index"),
        lambda: s.rebuild_hnsw_index(num_shards=2),
        lambda: _scored(s.hnsw_search(q, top_k=2, ef=1000)),
        lambda: _scored(s.search(q, top_k=2)),
    )


def _compaction_stream(spark, root):
    from distributed_vector_database_spark.streaming.compaction import (
        read_latest_snapshot,
        run_compaction_stream,
    )

    log, snap, ckpt = (os.path.join(root, d) for d in ("log", "snap", "ckpt"))
    os.makedirs(log)

    def log_file(ts, ops):
        with open(os.path.join(log, f"{ts}.json"), "w") as f:
            for i, (op, key, value) in enumerate(ops):
                f.write(json.dumps(
                    {"op": op, "key": key, "value": value, "ts": ts, "seq": i}
                ) + "\n")

    def run():
        run_compaction_stream(spark, log, snap, ckpt).awaitTermination(120)

    log_file(1, [("PUT", "a", 1.0), ("PUT", "b", 2.0)])
    run()
    log_file(2, [("DELETE", "a", None), ("PUT", "c", 3.0)])

    def read():
        return sorted(
            (r["key"], r["value"]) for r in read_latest_snapshot(spark, snap).collect()
        )

    return Case(snap, run, read, lambda: [("b", 2.0), ("c", 3.0)])


def _rollup(spark, root):
    from distributed_vector_database_spark.streaming.rollup import (
        build_rollup_fold,
        read_latest_rollup,
        window_rollup,
    )

    def events(lo, hi):
        return spark.sql(
            f"SELECT id AS event_id, timestamp_seconds(id * 600) AS ts, "
            f"id % 3 AS user_id, IF(id % 2 = 0, 'view', 'click') AS event_type, "
            f"CAST(id AS DOUBLE) AS value FROM range({lo}, {hi})"
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    d = os.path.join(root, "rollup")
    fold = build_rollup_fold(d)
    fold(events(0, 20), 0)
    return Case(
        d,
        lambda: fold(events(20, 40), 1),
        lambda: rows(read_latest_rollup(spark, d)),
        lambda: rows(window_rollup(events(0, 40))),
    )


@pytest.mark.parametrize(
    "make",
    [_store_compact, _store_rebuild_index, _store_rebuild_hnsw,
     _compaction_stream, _rollup],
    ids=lambda f: f.__name__.strip("_"),
)
def test_partial_version_is_ignored_then_overwritten(
    spark, tmp_path, monkeypatch, make
):
    case = make(spark, str(tmp_path))
    v = versioned.latest_version(case.vdir)
    assert v >= 0
    served = case.read()
    with monkeypatch.context() as m:
        m.setattr(*case.crash_at, _crash)
        with pytest.raises(Exception, match="simulated crash"):
            case.publish()
    assert os.path.isdir(os.path.join(case.vdir, f"v={v + 1}"))
    assert versioned.latest_version(case.vdir) == v
    assert case.read() == served
    case.after_crash()

    case.publish()
    assert versioned.latest_version(case.vdir) == v + 1
    assert case.read() == case.expect()


def test_crashed_compact_keeps_store_readable_and_vacuum_keeps_it(
    spark, tmp_path
):
    """A compact() that died after Spark created snapshot/v=1/_temporary/
    must not hide the committed v=0 from readers, and vacuum(keep_last=1)
    must keep v=0 (the only complete snapshot), not the partial v=1."""
    s = VectorStore(spark, str(tmp_path / "s"), dim=DIM)
    s.put("a", [1.0, 0.0, 0.0, 0.0])
    s.put("b", [0.0, 1.0, 0.0, 0.0])
    s.compact()
    os.makedirs(os.path.join(s._snap_dir, "v=1", "_temporary", "0"))

    assert s.vacuum(keep_last=1) == 0
    assert s.count() == 2
    assert s.get("a")["vector"] == [1.0, 0.0, 0.0, 0.0]
    assert s.stats()["snapshot_version"] == 0
    assert s.state_as_of(2**62).count() == 2

    s.put("c", [0.0, 0.0, 1.0, 0.0])
    assert s.compact() == 1  # the next writer overwrites the partial v=1
    assert not os.path.exists(os.path.join(s._snap_dir, "v=1", "_temporary"))
    assert s.count() == 3
    assert s.vacuum(keep_last=1) == 1
    assert sorted(os.listdir(s._snap_dir)) == ["v=1"]


def test_fold_skips_a_replayed_batch(tmp_path):
    d = str(tmp_path)
    calls = []

    def step(v, new_v):
        calls.append((v, new_v))
        os.makedirs(os.path.join(d, f"v={new_v}"))

    versioned.fold(d, 7, step)
    versioned.fold(d, 7, step)  # at-least-once redelivery
    versioned.fold(d, 8, step)
    assert calls == [(-1, 0), (0, 1)]
    assert versioned.committed_batch(d, 1) == 8
    assert versioned.committed_versions(d) == [0, 1]
