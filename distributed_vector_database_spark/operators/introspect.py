"""Layout introspection: one call that tells an operator what state a
persisted index is in — the `DESCRIBE INDEX` every ops runbook wants
before a compaction/rebuild decision, assembled from the layouts' own
metadata files (no corpus scan unless row counts are requested).

Covers the three maintained layout families:
- IVF (ivf_write): cells, rows/cell skew, quantizer presence,
  persisted cell radii
- HNSW (hnsw_write): shards, tombstone pressure (live vs dead)
- postings / MRL (write-audit-publish): published attempts, orphaned
  (crashed, unserved) attempt rows
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.operators.ann import read_layout


def describe_ivf(spark: SparkSession, path: str) -> dict:
    """IVF layout health: cell count, row skew, maintenance state."""
    cells = read_layout(spark, path).groupBy("centroid_id").count()
    stats = cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("count").alias("n_rows"),
        F.max("count").alias("max_cell"),
        F.min("count").alias("min_cell"),
        F.avg("count").alias("avg_cell"),
    ).first()
    out = {
        "kind": "ivf",
        "n_cells": int(stats["n_cells"]),
        "n_rows": int(stats["n_rows"]),
        "max_cell": int(stats["max_cell"]),
        "min_cell": int(stats["min_cell"]),
        "cell_skew": round(stats["max_cell"] / stats["avg_cell"], 2),
        "has_quantizer": os.path.exists(f"{path}/_quantizer.json"),
        "has_cell_stats": os.path.exists(f"{path}/_cell_stats.json"),
    }
    return out


def describe_hnsw(spark: SparkSession, path: str) -> dict:
    """HNSW layout health: shards and tombstone pressure — the inputs
    to the compact-or-not decision hnsw_compact/auto-compaction make."""
    nodes = read_layout(spark, path)
    n_shards = nodes.select("shard_id").distinct().count()
    n_nodes = nodes.count()
    tombs: set = set()
    tdir = os.path.join(path, "_tombstones")
    if os.path.isdir(tdir):
        for fn in sorted(os.listdir(tdir)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(tdir, fn)) as f:
                payload = json.load(f)
            if isinstance(payload, dict):
                tombs -= set(payload.get("remove", []))
            else:
                tombs |= set(payload)
    return {
        "kind": "hnsw",
        "n_shards": int(n_shards),
        "n_nodes": int(n_nodes),
        "n_tombstones": len(tombs),
        "dead_fraction": round(len(tombs) / max(n_nodes, 1), 4),
    }


def describe_published(spark: SparkSession, path: str, rows_under: str = "postings") -> dict:
    """Write-audit-publish layout health (postings, or a quantized codec
    layout with `rows_under=""`): published attempts vs orphaned rows a
    crashed append left unservable."""
    markers = versioned.published_attempts(path)
    aids = {m["aid"] for m in markers}
    rows_path = f"{path}/{rows_under}" if rows_under else path
    rows = spark.read.parquet(rows_path)
    by_aid = {
        r["aid"]: r["n"]
        for r in rows.groupBy("aid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    orphaned = {a: n for a, n in by_aid.items() if a not in aids}
    return {
        "kind": "published",
        "n_attempts_published": len(markers),
        "n_rows_served": int(sum(n for a, n in by_aid.items() if a in aids)),
        "n_rows_orphaned": int(sum(orphaned.values())),
        "orphaned_attempts": sorted(orphaned),
    }
