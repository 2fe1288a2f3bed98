"""VectorStore facade: the reference's CLI/RPC verb set end-to-end
(put/get/delete/search/compact over a directory-backed store)."""

import pytest

from distributed_vector_database_spark.store import DimensionMismatch, VectorStore

DIM = 4


@pytest.fixture()
def store(spark, tmp_path):
    return VectorStore(spark, str(tmp_path / "store"), dim=DIM)


def test_put_get_roundtrip(store):
    store.put("a", [1.0, 0.0, 0.0, 0.0], {"type": "unit"})
    got = store.get("a")
    assert got == {
        "key": "a",
        "vector": [1.0, 0.0, 0.0, 0.0],
        "metadata": {"type": "unit"},
    }


def test_put_overwrites(store):
    # upsert replaces (src/datanode/handler.py:253-261)
    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.put("a", [0.0, 1.0, 0.0, 0.0], {"v": "2"})
    assert store.count() == 1
    assert store.get("a")["vector"] == [0.0, 1.0, 0.0, 0.0]


def test_get_after_delete_none(store):
    # (src/datanode/handler.py:418-421)
    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.delete("a")
    assert store.get("a") is None
    assert store.count() == 0


def test_dim_mismatch_rejected(store):
    # (src/datanode/handler.py:228-232)
    with pytest.raises(DimensionMismatch):
        store.put("bad", [1.0, 2.0])


def test_search_excludes_deleted_and_ranks(store):
    # search skips deleted ids (src/datanode/handler.py:378-380);
    # ascending distance (src/coordinator/handler.py:212)
    store.put("near", [1.0, 0.0, 0.0, 0.0])
    store.put("far", [0.0, 5.0, 0.0, 0.0])
    store.put("dead", [1.0, 0.1, 0.0, 0.0])
    store.delete("dead")
    rows = store.search([1.0, 0.0, 0.0, 0.0], top_k=10).collect()
    assert [r["key"] for r in rows] == ["near", "far"]
    assert rows[0]["score"] == 0.0


def test_search_metadata_filter_and_threshold(store):
    store.put("img1", [1.0, 0.0, 0.0, 0.0], {"type": "image"})
    store.put("txt1", [1.0, 0.1, 0.0, 0.0], {"type": "text"})
    store.put("img2", [0.0, 9.0, 0.0, 0.0], {"type": "image"})
    rows = store.search([1.0, 0.0, 0.0, 0.0], top_k=10, filter={"type": "image"}).collect()
    assert [r["key"] for r in rows] == ["img1", "img2"]
    rows = store.search(
        [1.0, 0.0, 0.0, 0.0], top_k=10, filter={"type": "image"}, threshold=1.0
    ).collect()
    assert [r["key"] for r in rows] == ["img1"]


def test_search_include_payload(store):
    store.put("a", [1.0, 0.0, 0.0, 0.0], {"tag": "x"})
    store.put("b", [0.0, 2.0, 0.0, 0.0], {"tag": "y"})
    rows = store.search([1.0, 0.0, 0.0, 0.0], top_k=2, include_payload=True).collect()
    assert [r["key"] for r in rows] == ["a", "b"]
    assert rows[0]["vector"] == [1.0, 0.0, 0.0, 0.0]
    assert dict(rows[0]["metadata"]) == {"tag": "x"}


def test_search_topk_default(store):
    for i in range(8):
        store.put(f"k{i}", [float(i), 0.0, 0.0, 0.0])
    # top_k <= 0 → 5 (src/datanode/handler.py:346)
    assert store.search([0.0] * DIM, top_k=0).count() == 5


def test_put_batch(store, spark):
    df = spark.createDataFrame(
        [(f"b{i}", [float(i), 1.0, 0.0, 0.0]) for i in range(10)],
        "key string, vector array<double>",
    )
    store.put_batch(df)
    assert store.count() == 10


def test_put_batch_dim_checked(store, spark):
    df = spark.createDataFrame([("x", [1.0, 2.0])], "key string, vector array<double>")
    with pytest.raises(DimensionMismatch):
        store.put_batch(df)


def test_compact_then_incremental(store):
    # checkpoint + incremental replay (src/datanode/handler.py:181-219):
    # state after compact + new writes == state from one continuous log
    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.put("b", [0.0, 1.0, 0.0, 0.0])
    v = store.compact()
    assert v == 0
    store.put("a", [9.0, 0.0, 0.0, 0.0])   # overwrite post-checkpoint
    store.delete("b")
    store.put("c", [0.0, 0.0, 1.0, 0.0])
    state = {r["key"]: list(r["vector"]) for r in store.scan().collect()}
    assert state == {"a": [9.0, 0.0, 0.0, 0.0], "c": [0.0, 0.0, 1.0, 0.0]}
    # second compact folds the tail; results stable
    store.compact()
    state2 = {r["key"]: list(r["vector"]) for r in store.scan().collect()}
    assert state2 == state


def test_unreadable_changelog_raises_instead_of_serving_stale_state(store):
    """A changelog that exists but cannot be read must fail the read:
    serving the snapshot alone would return an overwritten value, and
    the next compact() would fold that stale state and delete the log,
    losing the unread writes for good."""
    import os

    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.compact()
    store.put("a", [0.0, 1.0, 0.0, 0.0])
    log_dir = store._log_dir
    (data,) = [f for f in os.listdir(log_dir) if not f.startswith(("_", "."))]
    with open(os.path.join(log_dir, data), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        store.get("a")
    with pytest.raises(Exception):
        store.compact()
    assert os.path.exists(os.path.join(log_dir, data))


def test_buffered_put_coalesces_files(spark, tmp_path):
    """buffer_rows=N writes one log file per N single-record ops (the
    small-files fix); reads flush pending ops so read-your-writes
    holds mid-buffer."""
    import glob

    root = str(tmp_path / "buffered")
    s = VectorStore(spark, root, dim=DIM, buffer_rows=3)
    s.put("a", [1.0] * DIM)
    s.put("b", [2.0] * DIM)
    # still buffered: no parquet files yet
    assert glob.glob(f"{root}/changelog/*.parquet") == []
    # read flushes the pending buffer — both records visible
    assert s.get("a") is not None and s.get("b") is not None
    files_after_read = glob.glob(f"{root}/changelog/*.parquet")
    assert len(files_after_read) == 1
    s.put("c", [3.0] * DIM)
    s.put("d", [4.0] * DIM)
    s.put("e", [5.0] * DIM)  # hits buffer_rows=3 -> auto-flush
    assert len(glob.glob(f"{root}/changelog/*.parquet")) == 2
    assert s.count() == 5


def test_auto_compaction_bounds_log_files(spark, tmp_path):
    """A high single-record put rate at buffer_rows=1 must not accrue an
    unbounded tail of one-row log files: once the changelog hits
    auto_compact_files, the next write folds it into a snapshot (the
    reference's checkpoint-every-2k-puts cadence,
    src/datanode/handler.py:313-317). Put count >> threshold -> file
    count stays below the threshold and the resolved state is
    unchanged. (The invariant is count-based; a 500-put run at the
    default threshold 64 passes identically but costs ~9 min of
    single-record Spark jobs, so CI drives 100 puts at threshold 16.)"""
    import glob

    from distributed_vector_database_spark.versioned import latest_version

    root = str(tmp_path / "auto")
    s = VectorStore(spark, root, dim=DIM, auto_compact_files=16)
    for i in range(100):
        s.put(f"k{i % 20}", [float(i)] * DIM)
    n_files = len(glob.glob(f"{root}/changelog/*.parquet"))
    assert n_files < 16
    assert latest_version(f"{root}/snapshot") >= 0  # compaction really ran
    assert s.count() == 20
    assert s.get("k19")["vector"] == [99.0] * DIM  # newest write wins
    assert s.get("k0")["vector"] == [80.0] * DIM


def test_store_stats(store):
    s0 = store.stats()
    assert s0 == {
        "n_keys": 0, "log_files": 0, "buffered_ops": 0,
        "snapshot_version": -1, "index_version": -1, "dim": DIM,
    }
    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.put("b", [0.0, 1.0, 0.0, 0.0])
    s1 = store.stats()
    assert s1["n_keys"] == 2 and s1["log_files"] == 2
    store.compact()
    s2 = store.stats()
    assert s2["log_files"] == 0 and s2["snapshot_version"] == 0
    assert s2["n_keys"] == 2


def test_auto_compaction_disabled_with_zero(spark, tmp_path):
    root = str(tmp_path / "noauto")
    s = VectorStore(spark, root, dim=DIM, auto_compact_files=0)
    for i in range(5):
        s.put(f"k{i}", [float(i)] * DIM)
    import glob

    from distributed_vector_database_spark.versioned import latest_version

    assert len(glob.glob(f"{root}/changelog/*.parquet")) == 5
    assert latest_version(f"{root}/snapshot") < 0


def test_compacted_point_lookup_filter_reaches_scan(store):
    """The compacted snapshot is key-ordered; a point lookup's key
    predicate must be PUSHED into the parquet scan so row-group
    min/max stats can prune (the columnar analog of a LevelDB get)."""
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.plans.explain import pushed_filters

    for i in range(8):
        store.put(f"k{i}", [float(i), 0.0, 0.0, 0.0])
    store.compact()
    lookup = store.state().filter(F.col("key") == "k3")
    pushed = " ".join(pushed_filters(lookup))
    assert "key" in pushed, f"key predicate not pushed: {pushed!r}"


def test_put_batch_rejects_null_vectors(spark, store):
    """F.size(NULL) is NULL — a bare size-mismatch predicate would let
    null vectors through the dim check."""
    df = spark.createDataFrame(
        [("ok", [1.0, 2.0, 3.0, 4.0]), ("bad", None)],
        "key string, vector array<double>",
    )
    with pytest.raises(DimensionMismatch):
        store.put_batch(df)


def test_index_rebuild_search_excludes_deleted(store, spark):
    """put_batch -> rebuild_index -> index_search round-trip: probes run
    over the centroid-partitioned layout and a key deleted AFTER the
    rebuild never surfaces (src/datanode/handler.py:378-380 semantics)."""
    df = spark.createDataFrame(
        [(f"k{i}", [float(i), float(i % 3), 0.0, 1.0]) for i in range(40)],
        "key string, vector array<double>",
    )
    store.put_batch(df)
    v = store.rebuild_index(n_centroids=4)
    assert v == 0
    hits = store.index_search([5.0, 2.0, 0.0, 1.0], top_k=5, nprobe=4).collect()
    assert len(hits) == 5 and hits[0]["key"] == "k5" and hits[0]["score"] == 0.0
    # delete the top hit; the index still holds the row, search must drop it
    store.delete("k5")
    hits = store.index_search([5.0, 2.0, 0.0, 1.0], top_k=5, nprobe=4).collect()
    assert "k5" not in {r["key"] for r in hits}


def test_index_append_makes_batch_searchable(store, spark):
    """Incremental path: a batch routed to existing centroids (no
    retrain) is searchable immediately; full-probe results match what a
    rebuild would give for that query."""
    df = spark.createDataFrame(
        [(f"a{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(20)],
        "key string, vector array<double>",
    )
    store.put_batch(df)
    store.rebuild_index(n_centroids=4)
    new = spark.createDataFrame(
        [("new0", [100.0, 0.0, 0.0, 1.0]), ("new1", [101.0, 0.0, 0.0, 1.0])],
        "key string, vector array<double>",
    )
    store.put_batch(new)
    store.index_append(new)
    hits = store.index_search([100.4, 0.0, 0.0, 1.0], top_k=2, nprobe=4).collect()
    assert [r["key"] for r in hits] == ["new0", "new1"]


def test_put_batch_auto_indexes_when_index_exists(store, spark):
    """With an index built, put_batch routes the batch into it (the
    reference's index-on-put path): new keys are index-searchable
    without a rebuild."""
    base = [(f"k{i}", [float(i), 0.0, 0.0, 0.0]) for i in range(20)]
    store.put_batch(spark.createDataFrame(base, "key string, vector array<double>"))
    store.rebuild_index(n_centroids=4)
    fresh = [("new0", [100.0, 0.0, 0.0, 0.0])]
    store.put_batch(spark.createDataFrame(fresh, "key string, vector array<double>"))
    got = store.index_search([100.0, 0.0, 0.0, 0.0], top_k=1, nprobe=10**9).collect()
    assert [r["key"] for r in got] == ["new0"]
    # auto_index=False defers: a second new key is NOT in the index
    store.put_batch(
        spark.createDataFrame([("new1", [200.0, 0.0, 0.0, 0.0])],
                              "key string, vector array<double>"),
        auto_index=False,
    )
    got2 = store.index_search([200.0, 0.0, 0.0, 0.0], top_k=1, nprobe=10**9).collect()
    assert [r["key"] for r in got2] != ["new1"]


def test_rebuild_index_auto_sizing(store, spark):
    """n_centroids='auto' sizes the quantizer from the corpus and the
    index still serves exact results under full probing."""
    recs = [(f"k{i}", [float(i % 9), float(i % 4), 1.0, 0.0]) for i in range(120)]
    store.put_batch(spark.createDataFrame(recs, "key string, vector array<double>"))
    v = store.rebuild_index(n_centroids="auto")
    assert v == 0
    got = store.index_search([0.0, 0.0, 1.0, 0.0], top_k=5, nprobe=10**9).collect()
    assert len(got) == 5
    brute = store.search([0.0, 0.0, 1.0, 0.0], top_k=5)
    assert [r["key"] for r in got] == [r["key"] for r in brute.collect()]


def test_store_index_is_an_ann_layout(store, spark):
    """rebuild_index writes the operators/ann IVF layout with its
    quantizer, and no separate centroid table: ann.ivf_read_search
    serves it from the directory alone, and a full probe equals the
    store's exact search."""
    import os

    from distributed_vector_database_spark.operators import ann

    recs = [(f"k{i}", [float(i % 7), float(i % 5), float(i % 3), 1.0]) for i in range(60)]
    store.put_batch(spark.createDataFrame(recs, "key string, vector array<double>"))
    v = store.rebuild_index(n_centroids=4)
    layout = os.path.join(store.root, "index", "data", f"v={v}")
    assert os.path.exists(os.path.join(layout, "_quantizer.json"))
    assert not os.path.exists(os.path.join(store.root, "index", "centroids"))
    q = [3.0, 2.0, 1.0, 1.0]
    got = ann.ivf_read_search(
        spark, layout, q, k=5, nprobe=10**9, key_col="key", vec_col="embedding"
    )
    want = store.search(q, top_k=5)
    assert [(r["key"], r["score"]) for r in got.collect()] == [
        (r["key"], r["score"]) for r in want.collect()
    ]


def test_index_search_requires_build(store):
    with pytest.raises(ValueError, match="no index built"):
        store.index_search([0.0] * 4, top_k=3)


def test_maybe_rebuild_index_cadence(store, spark):
    """The reference's rebuild-at-N-ops trigger: below threshold no
    rebuild happens; crossing it (counted from the LAST build, not from
    zero) produces a new index version."""
    df = spark.createDataFrame(
        [(f"c{i}", [float(i), 0.0, 0.0, 1.0]) for i in range(30)],
        "key string, vector array<double>",
    )
    store.put_batch(df)
    assert store.maybe_rebuild_index(threshold=100) is None  # 30 ops < 100
    assert store.maybe_rebuild_index(threshold=10) == 0      # 30 >= 10
    # baseline recorded: the same log no longer counts as pending
    assert store.maybe_rebuild_index(threshold=10) is None
    more = spark.createDataFrame(
        [(f"d{i}", [float(i), 1.0, 0.0, 1.0]) for i in range(12)],
        "key string, vector array<double>",
    )
    store.put_batch(more)
    assert store.maybe_rebuild_index(threshold=10) == 1      # 12 new >= 10


def test_hnsw_index_lifecycle(store, spark):
    """The reference's native index kind: rebuild_hnsw_index persists
    the graph; hnsw_search proposes from it and re-scores against live
    state (exhaustive ef => exact parity with store.search); deletes
    after the build drop out; re-puts score on the current vector."""
    df = spark.createDataFrame(
        [(f"k{i}", [float(i), float(i % 3), 0.0, 1.0]) for i in range(40)],
        "key string, vector array<double>",
    )
    store.put_batch(df, auto_index=False)
    v = store.rebuild_hnsw_index(num_shards=2)
    assert v == 0
    q = [2.0, 1.0, 0.0, 1.0]
    got = store.hnsw_search(q, top_k=5, ef=10**9).collect()
    want = store.search(q, top_k=5).collect()
    assert [(r["key"], r["score"]) for r in got] == [
        (r["key"], r["score"]) for r in want
    ]
    # delete after build: the graph still holds the key, live state wins
    top_key = got[0]["key"]
    store.delete(top_key)
    got2 = store.hnsw_search(q, top_k=5, ef=10**9).collect()
    assert top_key not in {r["key"] for r in got2}
    # re-put with a far vector: re-scoring uses the CURRENT vector
    store.put("k2", [100.0, 100.0, 100.0, 100.0])
    got3 = store.hnsw_search(q, top_k=39, ef=10**9).collect()
    scores = {r["key"]: r["score"] for r in got3}
    assert scores["k2"] > 1000.0


def test_hnsw_search_requires_build(store):
    with pytest.raises(ValueError, match="no HNSW index"):
        store.hnsw_search([0.0] * 4, top_k=3)


def test_diff_versions_classifies_snapshot_changes(spark, tmp_path):
    from distributed_vector_database_spark.store import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs"), dim=4)
    store.put("keep", [1.0, 0.0, 0.0, 0.0])
    store.put("upd", [0.0, 1.0, 0.0, 0.0])
    store.put("gone", [0.0, 0.0, 1.0, 0.0])
    store.flush()
    v1 = store.compact()
    store.put("upd", [0.0, 9.0, 0.0, 0.0])   # rewrite -> newer ts/seq
    store.delete("gone")
    store.put("fresh", [0.0, 0.0, 0.0, 1.0])
    store.flush()
    v2 = store.compact()
    diff = {
        r["key"]: r["change_type"]
        for r in store.diff_versions(v1, v2).collect()
    }
    assert diff == {"upd": "updated", "gone": "deleted", "fresh": "added"}


def test_export_wal_round_trips_through_import(spark, tmp_path):
    """Interop OUT: export the store's state as a reference-format WAL,
    import it into a fresh store — states must match (the reference
    replay is dict-overwrite over these same lines)."""
    from distributed_vector_database_spark.store import VectorStore

    a = VectorStore(spark, str(tmp_path / "a"), dim=4)
    a.put("x", [1.0, 2.0, 3.0, 4.0], {"m": "1"})
    a.put("y", [0.0, 1.0, 0.0, 1.0])
    a.put("gone", [9.0, 9.0, 9.0, 9.0])
    a.delete("gone")
    a.flush()
    n = a.export_wal(str(tmp_path / "wal"))
    assert n == 2  # tombstoned key not exported

    b = VectorStore(spark, str(tmp_path / "b"), dim=4)
    assert b.import_wal(str(tmp_path / "wal")) == 2
    sa = {r["key"]: (list(r["vector"]), dict(r["metadata"] or {}))
          for r in a.state().collect()}
    sb = {r["key"]: (list(r["vector"]), dict(r["metadata"] or {}))
          for r in b.state().collect()}
    assert sa == sb
    # the exported lines carry the reference's exact field names
    import glob
    import json

    first = next(
        ln
        for f in sorted(glob.glob(str(tmp_path / "wal" / "part-*")))
        for ln in open(f)
        if ln.strip()
    )
    line = json.loads(first)
    assert set(line) >= {"op_type", "key", "vector", "timestamp", "node_id"}
    assert line["op_type"] == "PUT"


def test_hnsw_search_with_metadata_predicate(spark, tmp_path):
    """Filtered ANN through the store's HNSW path: exhaustive ef makes
    the proposal exact, so the filtered result must equal brute-force
    filtered k-NN over live state."""
    from pyspark.sql import functions as F

    from distributed_vector_database_spark.operators.knn import knn_exact
    from distributed_vector_database_spark.store import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs"), dim=4)
    rows = [
        (f"k{i}", [float(i), float(i % 7), 1.0, 0.0], {"tag": str(i % 2)})
        for i in range(40)
    ]
    for k, v, m in rows:
        store.put(k, v, m)
    store.flush()
    store.compact()
    store.rebuild_hnsw_index()

    q = [3.0, 3.0, 1.0, 0.0]
    pred = F.col("metadata")["tag"] == "1"
    got = [
        (r["key"], r["score"])
        for r in store.hnsw_search(q, top_k=5, ef=1000, predicate=pred).collect()
    ]
    want_src = store.state().filter(pred).select("key", "vector")
    want = [
        (r["key"], r["score"])
        for r in knn_exact(
            want_src, q, k=5, key_col="key", vec_col="vector", extra_cols=()
        ).collect()
    ]
    assert got == want
    assert all(int(k[1:]) % 2 == 1 for k, _ in got)


def test_vacuum_drops_old_versions_keeps_serving(store, tmp_path):
    """Retention GC (the reference keeps ONE checkpoint, handler.py:
    160-176; vacuum generalizes to a bounded history): old snapshot
    versions disappear, serving and recent time travel are untouched."""
    import os

    store.put("a", [1.0, 0.0, 0.0, 0.0])
    store.compact()                         # v0
    store.put("b", [0.0, 1.0, 0.0, 0.0])
    store.compact()                         # v1
    store.put("a", [9.0, 0.0, 0.0, 0.0])
    store.delete("b")
    store.compact()                         # v2
    snap_dir = store._snap_dir
    assert sorted(os.listdir(snap_dir)) == ["v=0", "v=1", "v=2"]

    removed = store.vacuum(keep_last=2)
    assert removed == 1
    assert sorted(os.listdir(snap_dir)) == ["v=1", "v=2"]
    # serving unchanged
    assert store.get("a")["vector"] == [9.0, 0.0, 0.0, 0.0]
    assert store.get("b") is None
    # time travel over RETAINED versions still works
    diff = {r["key"]: r["change_type"]
            for r in store.diff_versions(1, 2).collect()}
    assert diff == {"a": "updated", "b": "deleted"}

    # keep_last=1 keeps only the newest; serving still fine
    assert store.vacuum(keep_last=1) == 1
    assert sorted(os.listdir(snap_dir)) == ["v=2"]
    assert store.count() == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        store.vacuum(keep_last=0)


def test_vacuum_trims_hnsw_index_versions(store):
    """Each rebuild_hnsw_index writes a full graph copy under
    hnsw_index/v=N — the largest artifact at scale; vacuum must bound
    that history too, and serving (newest version) stays intact."""
    import os

    for i in range(3):
        store.put(f"k{i}", [float(i), 1.0, 0.0, 0.0])
    store.rebuild_hnsw_index(num_shards=2)  # v0
    store.put("k3", [3.0, 1.0, 0.0, 0.0])
    store.rebuild_hnsw_index(num_shards=2)  # v1
    store.put("k4", [4.0, 1.0, 0.0, 0.0])
    store.rebuild_hnsw_index(num_shards=2)  # v2
    hnsw_dir = os.path.join(store.root, "hnsw_index")
    assert sorted(os.listdir(hnsw_dir)) == ["v=0", "v=1", "v=2"]

    store.vacuum(keep_last=1)
    assert sorted(os.listdir(hnsw_dir)) == ["v=2"]
    got = [r["key"] for r in store.hnsw_search([4.0, 1.0, 0.0, 0.0], top_k=1, ef=1000).collect()]
    assert got == ["k4"]


def test_state_as_of_time_travel(store):
    """state_as_of: exact replay up to any cutoff in the live tail,
    inclusive boundary, pre-delete visibility; cutoffs before the last
    compact resolve to the newest retained snapshot that fits."""
    import time as _t

    store.put("a", [1.0, 0.0, 0.0, 0.0])
    _t.sleep(0.002)
    store.put("b", [0.0, 1.0, 0.0, 0.0])
    store.flush()
    ts_by_seq = {
        r["seq"]: r["ts"] for r in store._log().select("seq", "ts").collect()
    }
    _t.sleep(0.002)
    store.put("a", [9.0, 0.0, 0.0, 0.0])
    store.delete("b")
    store.flush()
    all_ts = {
        r["seq"]: r["ts"] for r in store._log().select("seq", "ts").collect()
    }

    cut = ts_by_seq[2]  # after b's first put, before a's update
    asof = {
        r["key"]: list(r["vector"])
        for r in store.state_as_of(cut).collect()
    }
    assert asof == {"a": [1.0, 0.0, 0.0, 0.0], "b": [0.0, 1.0, 0.0, 0.0]}

    now = {r["key"]: list(r["vector"]) for r in store.state_as_of(
        max(all_ts.values())
    ).collect()}
    assert now == {"a": [9.0, 0.0, 0.0, 0.0]}  # b deleted

    # cutoff before everything -> empty state
    assert store.state_as_of(min(all_ts.values()) - 1).count() == 0

    # after compact, a cutoff >= the fold is exact over the new tail;
    # a cutoff BEFORE the earliest retained snapshot yields empty
    store.compact()
    store.put("c", [0.0, 0.0, 1.0, 0.0])
    store.flush()
    tail_ts = max(
        r["ts"] for r in store._log().select("ts").collect()
    )
    with_c = {r["key"] for r in store.state_as_of(tail_ts).collect()}
    assert with_c == {"a", "c"}
    assert {r["key"] for r in store.state_as_of(min(all_ts.values()) - 1).collect()} == set()
