"""Physical-plan inspection helpers — the engine's "is this the plan I
want at 100 TB" checklist (SURVEY §4).

The reference hard-codes its physical techniques (top-k pushdown,
over-fetch, hash sharding); here Catalyst chooses them, and these
helpers make the choice testable: tests assert that k-NN compiles to
TakeOrderedAndProject (per-partition top-k + merge, the scatter-gather),
that predicates reach the parquet scan (PushedFilters), that small dims
broadcast, and that scans prune columns (ReadSchema).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of `df` in bytes: driver-side plan
    metadata, no job. None when the size is unknown: the probe failed,
    or the plan carries Catalyst's no-statistics sentinel (Long.MaxValue
    by default; anything >= 2^59 counts as the sentinel). Each caller
    decides what an unknown size means for it."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - the estimate is best-effort
        return None
    return None if size >= 1 << 59 else size


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def has_operator(df: DataFrame, op: str) -> bool:
    """True if the physical plan contains the named operator
    (e.g. 'TakeOrderedAndProject', 'BroadcastHashJoin', 'SortMergeJoin')."""
    return op in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        entry = m.group(1).strip()
        if entry:
            # split on commas between filters only (not inside parens)
            out.extend(p.strip() for p in re.split(r",(?![^(]*\))", entry))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — what each scan actually reads (column
    pruning evidence)."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"ReadSchema: (\S+)", formatted_plan(df))
    ]


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the scale-cost headline."""
    return formatted_plan(df).count("Exchange")


def exchange_nodes(df: DataFrame) -> tuple[int, int]:
    """(shuffle_exchanges, broadcast_exchanges) counted as PLAN NODES
    — the formatted dump mentions each node twice (tree + detail), so
    a substring count overstates. Shuffles move data; broadcasts move
    a bounded small side."""
    import re

    plan = formatted_plan(df)
    shuf = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    bcast = len(re.findall(r"^\(\d+\) BroadcastExchange\b", plan, re.M))
    return shuf, bcast
