"""Connected-components convergence on pathological chains: the
pointer-doubling upgrade to dedup_clusters (round 6) must resolve a
path graph — the worst-case similarity-chain topology boilerplate
corpora produce — in O(log n) rounds, where pure min-label propagation
needs O(n).

Builds an n-node path (n-1 edges), runs dedup_clusters with a
max_iterations ceiling of ceil(log2(n)) + 4, and verifies every node
landed on representative 0.

Usage: python tools/chain_cc_smoke.py [n_nodes]   (default 100_000)

Which dedup_clusters path a size takes: an n-node path has 2(n-1)
canonical edges, so up to 500,000 nodes (the default included) it
resolves in one task, where the round ceiling does not apply; pass
n > 500_001 to time the distributed round loop.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.dedup import dedup_clusters
from distributed_vector_database_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark(app_name="dvds-chain-cc-smoke")
    ids = spark.range(n).select(F.col("id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    ceiling = math.ceil(math.log2(n)) + 4
    t0 = time.time()
    labels = dedup_clusters(ids, pairs, max_iterations=ceiling)
    wrong = labels.filter(F.col("rep_id") != 0).count()
    t = time.time() - t0
    status = "OK" if wrong == 0 else f"FAILED ({wrong} nodes unresolved)"
    print(
        f"dedup_clusters path-graph @ {n} nodes: {t:.1f}s, "
        f"<= {ceiling} rounds (log2(n)+4), {status}"
    )

    # incremental leg on the REALISTIC topology (many small
    # components, the near-dup shape): n/10 ten-node chains, then a
    # 1%-of-n batch of new edges each attaching a new node to one old
    # component. The fold hydrates only the ~n/1000 touched
    # components; a full recompute re-resolves all n nodes.
    from distributed_vector_database_spark.operators.dedup import (
        dedup_clusters_incremental,
    )

    seg_pairs = (
        spark.range(n - 1)
        .filter(F.pmod(F.col("id"), F.lit(10)) != 9)  # break every 10th
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    t0 = time.time()
    seg_labels = dedup_clusters(ids, seg_pairs).localCheckpoint()
    t_base = time.time() - t0
    n_batch = max(n // 100, 10)
    batch = spark.range(n_batch).select(
        (F.pmod(F.xxhash64("id"), F.lit(n // 1000)) * 10).alias("id_a"),
        (F.col("id") + n).alias("id_b"),
    ).localCheckpoint()
    t0 = time.time()
    folded = dedup_clusters_incremental(seg_labels, batch)
    n_lab = folded.count()
    t_inc = time.time() - t0
    # every new node must land on its target decade's rep
    stray = (
        folded.filter(F.col("id") >= n)
        .filter(F.pmod(F.col("rep_id"), F.lit(10)) != 0)
        .count()
    )
    print(
        f"dedup_clusters_incremental: {n_batch}-edge batch into "
        f"{n // 10} components ({n} nodes) in {t_inc:.1f}s vs "
        f"{t_base:.1f}s full recompute ({n_lab} labels, "
        f"{'OK' if stray == 0 else f'{stray} strays'})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
