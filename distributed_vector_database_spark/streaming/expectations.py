"""Maintained data-quality report — expectations over continuous
ingest instead of a batch audit.

Additivity decides the state per expectation kind:
- column rules: violations are PER-ROW, so per-batch counts fold by
  plain addition (a few longs of state per rule);
- referential integrity vs a static parent snapshot: orphan counts
  are also per-row additive;
- uniqueness is NOT row-additive (a duplicate can straddle batches),
  so the fold maintains a per-key COUNT state — the changelog-compact
  shape, |keys|-sized, merged additively per key — and derives
  violations = Σ(count-1) at read time.

The replay-safe versioned fold (versioned.py) makes at-least-once
foreachBatch delivery exactly-once. Folding N batches then reading the
snapshot is hash-equal to the one-shot data_quality_report over the
union — pinned by the `dq_served` contract query and
tests/test_expectations_stream.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned


def _batch_rule_counts(
    batch: DataFrame,
    rules: dict[str, Column],
    fk: tuple[str, DataFrame, str, str] | None,
) -> DataFrame:
    """(rule, violations) for the row-additive expectations of one
    batch: column rules in ONE agg pass + the FK orphan count."""
    if not rules:
        raise ValueError("_batch_rule_counts: rules must be non-empty")
    # positional aliases + typed-Column unpivot — rule names only ever
    # appear as F.lit values (see operators/evaluation.expect_columns)
    aggs = [
        F.sum(
            F.when(F.coalesce(rule, F.lit(False)), 0).otherwise(1)
        ).alias(f"__r{i}")
        for i, rule in enumerate(rules.values())
    ]
    wide = batch.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__r{i}").cast("long").alias("violations"),
            )
            for i, name in enumerate(rules)
        ]
    )
    out = wide.select(F.explode(pairs).alias("kv")).select(
        F.col("kv.rule").alias("rule"),
        F.col("kv.violations").alias("violations"),
    )
    if fk is not None:
        child_col, parent, parent_col, fk_name = fk
        orphans = batch.join(
            parent.select(F.col(parent_col).alias(child_col)).distinct(),
            child_col,
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("violations"))
        out = out.unionByName(
            orphans.select(
                F.lit(fk_name).alias("rule"),
                F.col("violations").cast("long").alias("violations"),
            )
        )
    return out


def build_dq_fold(
    state_dir: str,
    rules: dict[str, Column],
    unique_cols: list[str] | None = None,
    fk: tuple[str, DataFrame, str, str] | None = None,
):
    """foreachBatch body maintaining {state_dir}/counts/v=N (additive
    rule violations) and, when unique_cols is set,
    {state_dir}/keys/v=N (per-key row counts). fk =
    (child_col, parent_df, parent_col, rule_name). Both are published
    under the counts directory's marker."""
    cdir, kdir = f"{state_dir}/counts", f"{state_dir}/keys"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession

        def step(v: int, new_v: int) -> None:
            counts = _batch_rule_counts(batch, rules, fk)
            if v >= 0:
                counts = (
                    counts.unionByName(spark_.read.parquet(f"{cdir}/v={v}"))
                    .groupBy("rule")
                    .agg(F.sum("violations").alias("violations"))
                )
            if unique_cols:
                keys = batch.groupBy(*unique_cols).agg(
                    F.count(F.lit(1)).alias("kn")
                )
                if v >= 0:
                    keys = (
                        keys.unionByName(spark_.read.parquet(f"{kdir}/v={v}"))
                        .groupBy(*unique_cols)
                        .agg(F.sum("kn").alias("kn"))
                    )
                keys.write.mode("overwrite").parquet(f"{kdir}/v={new_v}")
            counts.write.mode("overwrite").parquet(f"{cdir}/v={new_v}")

        versioned.fold(cdir, batch_id, step)

    return fold


def read_dq_report(
    spark: SparkSession,
    state_dir: str,
    unique_cols: list[str] | None = None,
    unique_rule: str = "unique",
) -> DataFrame:
    """Serve (rule, violations, passed) from the newest committed
    snapshot; uniqueness derived from the key-count state at read time."""
    cdir, kdir = f"{state_dir}/counts", f"{state_dir}/keys"
    v = versioned.latest_version(cdir)
    if v < 0:
        raise FileNotFoundError(f"no dq state under {state_dir}")
    out = spark.read.parquet(f"{cdir}/v={v}")
    if unique_cols:
        uniq = (
            spark.read.parquet(f"{kdir}/v={v}")
            .agg(
                F.coalesce(F.sum(F.col("kn") - 1), F.lit(0)).alias("violations")
            )
            .select(
                F.lit(unique_rule).alias("rule"),
                F.col("violations").cast("long").alias("violations"),
            )
        )
        out = out.unionByName(uniq)
    return out.select(
        "rule", "violations", (F.col("violations") == 0).alias("passed")
    )
