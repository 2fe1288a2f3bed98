"""Giant-component worst case for dedup_clusters_incremental: ONE
batch edge landing in a mega-component hydrates that component in
full, so the fold's cost is the component's mass, not the batch's
(the documented caveat on the fold). This smoke measures that cost
directly and verifies it stays bounded by the TOUCHED mass, never
the corpus.

Topology: a corpus of `n` labeled ids where one component holds
`giant` members (rep 0) and the rest are 10-node chains; the batch is
100 edges, exactly ONE of which touches the giant component (attaches
a new id to member 17). Three measurements:

  1. fold with the giant untouched   (baseline incremental cost)
  2. fold with one edge into the giant (pays the giant's mass)
  3. full recompute over all star edges + batch (the corpus cost the
     fold exists to avoid)

Expected shape: (2) >> (1) but (2) ~= O(giant mass) and still well
under (3) whenever giant << corpus. The mitigation is upstream — the
`bucket_cap` star-edge hatch in minhash_lsh_dedup bounds how large a
near-dup component can grow — so (2) is a measured worst case, not a
steady state.

Usage: python tools/giant_component_smoke.py [n] [giant]
       (defaults 1_000_000, 500_000)

Which dedup_clusters path each measurement takes at the defaults
(CC_ONE_TASK_MAX_EDGES = 1,000,000 canonical edges, two per pair):
(1) resolves the 100 touched chains' stars plus the batch, ~2,000
edges, in one task; (2) adds the giant's 499,999 star pairs, ~1,002,000
edges, just over the bound, so it runs the round loop; (3) has ~1.9M
edges and runs the round loop.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.dedup import (
    dedup_clusters_incremental,
)
from distributed_vector_database_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    giant = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    spark = get_spark(app_name="dvds-giant-component-smoke")

    # persisted labeling: ids [0, giant) are ONE component (rep 0);
    # ids [giant, n) are 10-node chains (rep = floor(id/10)*10)
    labels = (
        spark.range(n)
        .select(
            "id",
            F.when(F.col("id") < giant, F.lit(0))
            .otherwise((F.col("id") / 10).cast("long") * 10)
            .alias("rep_id"),
        )
        .localCheckpoint()
    )

    def batch(touch_giant: bool):
        # 100 new ids, each attaching to a distinct small chain —
        # except (optionally) the first, which lands inside the giant
        b = spark.range(100).select(
            (F.lit(n) + F.col("id")).alias("id_a"),
            (F.lit(giant) + F.col("id") * 10).alias("id_b"),
        )
        if touch_giant:
            b = b.withColumn(
                "id_b",
                F.when(F.col("id_a") == n, F.lit(17)).otherwise(
                    F.col("id_b")
                ),
            )
        return b

    # warm the JVM/codegen on a tiny fold so measurement 1 isn't cold
    dedup_clusters_incremental(labels.limit(1000), batch(False).limit(5)).count()

    for name, touch in (("untouched-giant", False), ("one-edge-into-giant", True)):
        t0 = time.time()
        out = dedup_clusters_incremental(labels, batch(touch))
        total = out.count()
        in_giant = out.filter(F.col("rep_id") == 0).count()
        t = time.time() - t0
        want_giant = giant + (1 if touch else 0)
        ok = total == n + 100 and in_giant == want_giant
        print(
            f"fold {name}: {t:.1f}s, {total} labels, giant mass "
            f"{in_giant} (want {want_giant}) {'OK' if ok else 'FAILED'}"
        )

    # the corpus-shaped alternative the fold avoids: CC over ALL star
    # edges plus the batch
    from distributed_vector_database_spark.operators.dedup import dedup_clusters

    stars = labels.filter(F.col("id") != F.col("rep_id")).select(
        F.col("id").alias("id_a"), F.col("rep_id").alias("id_b")
    )
    all_ids = labels.select("id").unionByName(
        spark.range(100).select((F.lit(n) + F.col("id")).alias("id"))
    )
    t0 = time.time()
    full = dedup_clusters(all_ids, stars.unionByName(batch(True)))
    total = full.count()
    print(f"full recompute: {time.time() - t0:.1f}s, {total} labels")


if __name__ == "__main__":
    main()
