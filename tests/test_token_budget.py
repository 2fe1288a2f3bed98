"""Budgeted corpus selection tests (operators/sampling.py::
select_by_token_budget)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.sampling import (
    select_by_token_budget,
)
from distributed_vector_database_spark.operators.textops import doc_stats


def _annotated(spark):
    rows = [
        # (doc_id, quality, n_tokens)
        (0, 0.9, 10),
        (1, 0.8, 20),
        (2, 0.8, 5),  # ties with 1 -> id order: 1 before 2
        (3, 0.7, 50),
        (4, 0.1, 100),
    ]
    return spark.createDataFrame(rows, ["doc_id", "quality", "n_tokens"])


def test_prefix_by_quality_then_id(spark):
    got = select_by_token_budget(_annotated(spark), 36, partitions=3)
    rows = {r["doc_id"]: r["cum_tokens"] for r in got.collect()}
    # order: 0(10) 1(30) 2(35) | 3 would hit 85 > 36
    assert rows == {0: 10, 1: 30, 2: 35}


def test_boundary_inclusive(spark):
    got = select_by_token_budget(_annotated(spark), 35, partitions=2)
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 1, 2]
    got2 = select_by_token_budget(_annotated(spark), 34, partitions=2)
    assert sorted(r["doc_id"] for r in got2.collect()) == [0, 1]


def test_zero_and_tiny_budget(spark):
    assert select_by_token_budget(_annotated(spark), 0).count() == 0
    # budget smaller than the best doc -> nothing qualifies
    assert select_by_token_budget(_annotated(spark), 9).count() == 0


def test_deterministic_shuffle_is_a_seeded_permutation(spark, tables):
    from distributed_vector_database_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = tables["documents"].select("doc_id")
    n = docs.count()
    a = deterministic_shuffle(docs, "doc_id", seed="7", partitions=4)
    rows = a.collect()
    # bijection onto 1..n
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(1, n + 1))
    # matches the naive single-partition global window
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("7")))
    w = Window.orderBy(h, F.asc("doc_id"))
    want = {
        (r["doc_id"], r["pos"])
        for r in docs.withColumn(
            "pos", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert {(r["doc_id"], r["shuffle_pos"]) for r in rows} == want
    # a different seed is a different permutation (content-stable, not
    # positionally similar)
    b = {
        r["doc_id"]: r["shuffle_pos"]
        for r in deterministic_shuffle(
            docs, "doc_id", seed="8", partitions=4
        ).collect()
    }
    a_map = {r["doc_id"]: r["shuffle_pos"] for r in rows}
    assert a_map != b
    # re-running the same seed reproduces bit-identically
    again = {
        r["doc_id"]: r["shuffle_pos"]
        for r in deterministic_shuffle(
            docs, "doc_id", seed="7", partitions=2
        ).collect()
    }
    assert again == a_map


def test_matches_single_partition_window(spark, tables):
    # the distributed prefix-sum must equal the naive global window
    ann = doc_stats(tables["documents"]).select(
        "doc_id", "quality", "n_tokens"
    )
    budget = 4000
    got = {
        (r["doc_id"], r["cum_tokens"])
        for r in select_by_token_budget(ann, budget, partitions=8).collect()
    }
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("quality"), F.asc("doc_id"))
    want = {
        (r["doc_id"], r["cum_tokens"])
        for r in ann.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= budget)
        .collect()
    }
    assert got == want and len(got) > 0


def _grouped(spark):
    rows = [
        # (doc_id, source, quality, n_tokens)
        (0, "web", 0.9, 10),
        (1, "web", 0.8, 20),
        (2, "web", 0.8, 5),   # tie with 1 -> id order
        (3, "web", 0.1, 100),
        (4, "code", 0.95, 30),
        (5, "code", 0.5, 30),
        (6, "books", 0.99, 40),
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "source", "quality", "n_tokens"]
    )


def test_grouped_budget_uniform_cap(spark):
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    got = select_by_token_budget_grouped(
        _grouped(spark), 35, partitions=3
    )
    rows = {r["doc_id"]: r["cum_tokens"] for r in got.collect()}
    # web: 0(10) 1(30) | 2 would hit 35 <= 35 -> included
    # code: 4(30) | 5 would hit 60 > 35
    # books: 6 is 40 > 35 -> nothing
    assert rows == {0: 10, 1: 30, 2: 35, 4: 30}


def test_grouped_budget_per_group_dict_is_an_allowlist(spark):
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    got = select_by_token_budget_grouped(
        _grouped(spark), {"web": 15, "books": 40}, partitions=2
    )
    rows = {r["doc_id"]: r["cum_tokens"] for r in got.collect()}
    # web capped at 15 -> only doc 0; books exactly 40 -> doc 6;
    # code absent from the dict -> budget 0 -> dropped entirely
    assert rows == {0: 10, 6: 40}

    # cumsum restarts per group and respects (quality desc, id) order
    import pytest

    with pytest.raises(ValueError):
        select_by_token_budget_grouped(_grouped(spark), -1)
    with pytest.raises(ValueError):
        select_by_token_budget_grouped(_grouped(spark), {"web": -5})


def test_grouped_budget_matches_single_group_operator(spark):
    """With one group the grouped operator reproduces
    select_by_token_budget exactly (same rows, same cum_tokens)."""
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    one = _annotated(spark).withColumn("source", F.lit("all"))
    a = {
        (r["doc_id"], r["cum_tokens"])
        for r in select_by_token_budget(_annotated(spark), 36, partitions=3).collect()
    }
    b = {
        (r["doc_id"], r["cum_tokens"])
        for r in select_by_token_budget_grouped(one, 36, partitions=3).collect()
    }
    assert a == b


def test_grouped_budget_zero_token_row_at_boundary_survives(spark):
    """A zero-token row whose running total lands EXACTLY on the
    budget must be kept (cum_tokens == budget passes the
    `cum_tokens <= budget` filter and the SQL oracle keeps it) —
    previously the partition-prune used a strict `<` on the group
    offset and silently dropped it when it fell at a partition
    boundary (r9 ADVICE). Forcing one partition per row makes every
    row a boundary case."""
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    rows = [
        # quality desc order within "web": 10, 20, then a 0-token row
        (0, "web", 0.9, 10),
        (1, "web", 0.8, 20),
        (2, "web", 0.7, 0),   # cum 30 == budget -> must survive
        (3, "web", 0.6, 5),   # cum 35 > budget -> dropped
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "source", "quality", "n_tokens"]
    )
    for p in (1, 4):  # p=4 puts the 0-token row alone past the cutoff
        got = {
            r["doc_id"]: r["cum_tokens"]
            for r in select_by_token_budget_grouped(
                df, 30, partitions=p
            ).collect()
        }
        assert got == {0: 10, 1: 30, 2: 30}, (p, got)


def test_grouped_budget_null_groups_dropped(spark):
    """NULL groups are dropped up front (budgets are an allowlist;
    NULL is never on it) — previously the driver offset sort died
    comparing None with real group values."""
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    rows = [
        (0, "web", 0.9, 10),
        (1, None, 0.9, 10),
        (2, "web", 0.5, 10),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "quality", "n_tokens"])
    got = select_by_token_budget_grouped(df, 100, partitions=2)
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 2]


def test_caller_cached_frame_stays_cached(spark):
    # the operator caches its input for the range-boundary sampling job;
    # releasing that cache must not drop one the caller holds on `df`
    df = _annotated(spark).cache()
    df.count()
    try:
        select_by_token_budget(df, 36, partitions=3).collect()
        assert df.storageLevel.useMemory
        assert df.is_cached
    finally:
        df.unpersist()


def test_grouped_caller_cached_frame_stays_cached(spark):
    from distributed_vector_database_spark.operators.sampling import (
        select_by_token_budget_grouped,
    )

    df = _annotated(spark).withColumn("source", F.lit("web")).cache()
    df.count()
    try:
        select_by_token_budget_grouped(df, 36, partitions=3).collect()
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()
