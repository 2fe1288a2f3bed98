"""Focused tests for the r14 optimization round's internal changes:
scale-adaptive iteration partitioning, the graph audit's null-endpoint
check, and local_df's restored type strictness on the Arrow fast path."""

import os

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.localrel import local_df
from distributed_vector_database_spark.operators.graph import (
    _iter_partitions,
    graph_write,
    label_propagation,
    pagerank,
)


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_iter_partitions_coalesces_small_graphs(spark, tmp_path):
    # the serving layout is a parquet scan — a real (small) size
    # estimate must coalesce the iteration exchanges below the default
    _sym(spark, [(1, 2), (2, 3), (3, 4)]).write.parquet(str(tmp_path / "e"))
    edges = spark.read.parquet(str(tmp_path / "e"))
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = _iter_partitions(edges, None)
    assert derived == 1
    assert derived <= default
    # explicit always wins
    assert _iter_partitions(edges, 7) == 7
    # an unknown estimate (RDD-backed local relation: the 8-EB
    # sentinel) must keep the session default — never fewer partitions
    # for an input that might be huge
    unknown = _sym(spark, [(1, 2)])
    assert _iter_partitions(unknown, None) == default


def test_iterative_ops_same_result_any_partitioning(spark):
    edges = _sym(spark, [(1, 2), (2, 3), (4, 5)])
    pr_a = {
        r["node"]: r["rank_rel"]
        for r in pagerank(edges, iterations=3, partitions=1).collect()
    }
    pr_b = {
        r["node"]: r["rank_rel"]
        for r in pagerank(edges, iterations=3, partitions=8).collect()
    }
    assert pr_a == pr_b
    lp_a = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3, partitions=1).collect()
    }
    lp_b = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3, partitions=8).collect()
    }
    assert lp_a == lp_b == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_graph_audit_rejects_null_endpoint(spark, tmp_path):
    good = _sym(spark, [(1, 2)])
    nulled = good.union(
        spark.createDataFrame([(7, None), (None, 7)], "src long, dst long")
    )
    with pytest.raises(ValueError, match="null"):
        graph_write(nulled, str(tmp_path / "nullg"))


def test_local_df_arrow_path_keeps_type_strictness(spark):
    # the Arrow fast path must not silently truncate where the plain
    # createDataFrame path raises (ADVICE r13): 1.7 into a long column
    with pytest.raises(Exception):
        local_df(spark, [(1.7,)], "x long")
    # valid rows still go through (and NULLs survive)
    rows = local_df(spark, [(1, None), (2, 3.5)], "a long, b double").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, None), (2, 3.5)]


def test_write_local_parquet_keeps_type_strictness(spark, tmp_path):
    # the driver-side writer raises where createDataFrame would, before
    # any file exists: Arrow alone truncates 1.7 into a long column
    from distributed_vector_database_spark.functions.localrel import (
        write_local_parquet,
    )

    out = str(tmp_path / "out")
    for bad in [(1.7, None), (1, "x")]:
        with pytest.raises((TypeError, ValueError)):
            write_local_parquet([bad], "a long, b double", out)
    assert not os.path.exists(out) or os.listdir(out) == []
    write_local_parquet([(1, None), (2, 3.5)], "a long, b double", out)
    rows = spark.read.schema("a long, b double").parquet(out).collect()
    assert sorted((r["a"], r["b"]) for r in rows) == [(1, None), (2, 3.5)]


def test_read_local_parquet_reads_only_row_groups_holding_a_key(spark, tmp_path):
    """On a key-sorted directory (4 files x 4 row groups) one key reads
    exactly one row group, and two keys at its ends read two (a min/max
    range filter would keep the 15 between them); `.`/`_`-prefixed
    files are never read, like Spark's reader; map columns come back as
    dicts and nulls as None."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from distributed_vector_database_spark.functions.localrel import (
        _row_groups_for_keys,
        read_local_parquet,
    )

    schema = "key string, n long, metadata map<string,string>"
    arrow = pa.schema([("key", pa.string()), ("n", pa.int64()),
                       ("metadata", pa.map_(pa.string(), pa.string()))])
    d = tmp_path / "sorted"
    d.mkdir()
    for f in range(4):
        keys = [f"k{i:04d}" for i in range(f * 100, (f + 1) * 100)]
        meta = [None if i % 2 else [("i", str(i))] for i in range(f * 100, (f + 1) * 100)]
        pq.write_table(pa.table([keys, list(range(f * 100, (f + 1) * 100)), meta], schema=arrow),
                       str(d / f"part-{f}.parquet"), row_group_size=25)
    # a hidden temp file holding a stale copy of a key, and a non-parquet
    # underscore file: reading either would change or fail the answer
    pq.write_table(pa.table([["k0042"], [-1], [None]], schema=arrow), str(d / ".part-9.parquet"))
    (d / "_SUCCESS").write_bytes(b"not a parquet file")

    dataset = ds.dataset(str(d), format="parquet")
    frags = list(dataset.get_fragments())
    assert len(frags) == 4 and sum(f.num_row_groups for f in frags) == 16

    def kept(keys):
        return sum(f.num_row_groups for f in _row_groups_for_keys(dataset, "key", sorted(keys)))

    assert kept(["k0042"]) == 1 and kept(["k0042", "k0043"]) == 1
    assert kept(["k0042", "k0399"]) == 2 and kept(["k0024a", "zz"]) == 0
    rows = read_local_parquet(str(d), schema, "key", ["k0043", "k0042", "k0399", "nope"])
    assert sorted(rows, key=lambda r: r["key"]) == [
        {"key": "k0042", "n": 42, "metadata": {"i": "42"}},
        {"key": "k0043", "n": 43, "metadata": None},
        {"key": "k0399", "n": 399, "metadata": None},
    ]
    assert read_local_parquet(str(d), schema, "key", []) == []
    assert len(read_local_parquet(str(d), schema)) == 400


def test_local_df_fast_path_fallback_logs_once(spark, monkeypatch, caplog):
    # a degraded fast path must show in the log (once per process, not
    # per call) and still return the rows through the plain path
    import logging
    from types import SimpleNamespace

    from distributed_vector_database_spark.functions import localrel

    def broken(*a, **k):
        raise RuntimeError("arrow conversion unavailable")

    # only local_df's own pandas breaks; createDataFrame keeps the real one
    monkeypatch.setattr(localrel, "pd", SimpleNamespace(DataFrame=broken, Series=broken))
    monkeypatch.setattr(localrel, "_fallback_logged", False)
    with caplog.at_level(logging.WARNING, logger=localrel.__name__):
        a = local_df(spark, [(1, "a")], "x long, y string")
        b = local_df(spark, [(2, "b")], "x long, y string")
    monkeypatch.undo()
    assert [tuple(r) for r in a.union(b).collect()] == [(1, "a"), (2, "b")]
    logged = [r for r in caplog.records if r.name == localrel.__name__]
    assert len(logged) == 1
    assert "arrow conversion unavailable" in logged[0].getMessage()
