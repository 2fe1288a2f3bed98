"""Maintained co-occurrence graph — the streaming form of
operators/graph.cooccurrence_edges over continual basket ingest.

A 100 TB fact table cannot re-run the basket self-join per question;
it maintains (src, dst, sup) pair supports and (item, sup) item
supports and serves the graph from the snapshot. The reference has no
graph surface at all (its query model is put/get/k-NN,
src/datanode/handler.py); this completes the graph family's
maintenance story at the INGEST level, below graph.graph_update's
edge-delta level: raw baskets stream in, the served edge set follows.

Unlike the bounded streaming states (the |types|²-sized transition
matrix, HLL registers, hourly rollup), the pair-support state is
UNBOUNDED — so the fold must be O(batch), not O(state). This module
uses the log-structured shape the repo's other unbounded states use
(postings_append, dedup signature tables):

- each micro-batch APPENDS a delta segment of within-batch pair/item
  supports (`pairs/seg=<name>/`, `items/seg=<name>/`) — no read or
  rewrite of accumulated state on the ingest path;
- a MANIFEST (`manifest/v=N.json`, atomically os.replace'd) lists the
  live segments; readers load the latest manifest and aggregate
  supports across exactly those segments — a crash mid-fold leaves an
  unreferenced orphan dir, never a torn read;
- `compact_graph_state` folds all live segments into one base segment
  and publishes a manifest pointing only at it (then GCs superseded
  data), bounding the read-side segment count — the postings/IVF
  compaction story;
- replay ledger: `applied/batch-<id>.json` markers are written after
  a batch's segments are referenced and are NEVER deleted (they are
  bytes-sized), so an at-least-once redelivery is skipped even after
  compaction has absorbed the original segment.

Contract: a basket NEVER spans micro-batches (complete-basket
delivery — the natural unit of an order/session log). Pair and item
supports are then additive per batch, so folding in any batch split —
with or without interleaved compactions — is exactly equal to the
one-shot fold over the union, pinned by tests/test_graph_stream.py.

Fold semantics (documented, deliberately different from the batch
operator in two places where incrementality forces it):
- the max_basket skew cap applies to a basket's RAW distinct-item
  count at ingest (a streaming fold cannot re-cap historical baskets
  when item frequencies later change);
- frequent-item pruning (item support >= min_support) applies at
  READ time from the accumulated item supports — so an item that
  crosses the support bar in a later batch correctly brings its
  HISTORICAL pairs with it, which the batch operator's
  prune-then-join cannot do incrementally.
On corpora where the cap never binds (TPC-H order baskets max out
far below 256) the served edges are identical to cooccurrence_edges.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned


def _manifest_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest")


def _latest_manifest(state_dir: str) -> tuple[int, list[str]] | None:
    """(version, live segment names) of the newest manifest, or None."""
    try:
        versions = [
            int(f[2:-5])
            for f in os.listdir(_manifest_dir(state_dir))
            if f.startswith("v=") and f.endswith(".json")
        ]
    except OSError:
        return None
    if not versions:
        return None
    v = max(versions)
    with open(os.path.join(_manifest_dir(state_dir), f"v={v}.json")) as f:
        return v, json.load(f)["segments"]


def _publish_manifest(
    state_dir: str, version: int, segments: list[str]
) -> bool:
    """Check-and-fail atomic publish (ADVICE r12): the manifest file
    appears atomically WITH its full content via os.link from a
    private tmp file, and the link fails with FileExistsError if
    another writer already published this version — so an ingest fold
    and a compaction racing to v+1 can never clobber each other;
    the loser re-reads the manifest and retries against the new head.
    Returns True on success, False if the version was taken."""
    import threading
    import uuid

    os.makedirs(_manifest_dir(state_dir), exist_ok=True)
    target = os.path.join(_manifest_dir(state_dir), f"v={version}.json")
    # tmp must be private per WRITER, not per process: the documented
    # concurrent fold+compaction runs in one driver process (streaming
    # thread vs main thread), where a pid-keyed tmp would be shared —
    # the winner could link the loser's content
    tmp = (
        f"{target}.tmp.{os.getpid()}.{threading.get_ident()}."
        f"{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as f:
        json.dump({"segments": segments}, f)
    try:
        os.link(tmp, target)  # atomic, EEXIST if the version is taken
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _batch_marker(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, "applied", f"batch-{batch_id}.json")


def _batch_supports(
    batch: DataFrame, basket_col: str, item_col: str, max_basket: int
) -> tuple[DataFrame, DataFrame]:
    """(pair supports, item supports) for ONE batch of complete
    baskets: distinct (basket, item), raw-size cap, within-basket
    self-join — the classic shape, bounded by the batch."""
    bi = batch.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    ok = (
        bi.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter(F.col("__sz") <= max_basket)
        .select("__b")
    )
    pruned = bi.join(ok, "__b", "left_semi")
    a = pruned.select("__b", F.col("__i").alias("src"))
    b = pruned.select("__b", F.col("__i").alias("dst"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    items = pruned.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).alias("sup")
    )
    return pairs, items


def build_graph_fold(
    state_dir: str,
    basket_col: str,
    item_col: str,
    max_basket: int = 256,
    run_id: str | None = None,
):
    """foreachBatch body: append one delta segment per micro-batch of
    complete baskets — O(batch) work, the accumulated state is never
    read or rewritten on the ingest path. At-least-once replays are
    skipped via the permanent batch ledger.

    `run_id` names the STREAM IDENTITY (run_graph_stream passes its
    checkpoint_dir): the ledger skips a batch id only when the marker
    was written by the SAME identity (ADVICE r12 — Spark restarts
    batch ids at 0 when a stream gets a fresh checkpoint dir, so
    without the identity a re-pointed stream would silently discard
    its first batches as 'replays'). Segment names carry the identity
    tag too, so a new stream's batch 0 cannot overwrite an old
    stream's still-referenced segment. Leaving run_id=None keeps the
    legacy single-stream layout (markers with no identity match it).
    """
    tag = ""
    if run_id is not None:
        import hashlib

        tag = hashlib.sha1(run_id.encode()).hexdigest()[:8] + "-"

    def fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        marker = _batch_marker(state_dir, batch_id)
        if os.path.exists(marker):
            with open(marker) as f:
                rec = json.load(f)
            # markers with no run field (pre-identity layout) or a
            # None run (written by an identity-less fold) match ANY
            # identity, and an identity-less fold honors any marker
            # (its pre-identity behavior) — treating either as a
            # mismatch would re-fold the batch under a new tagged
            # segment name next to the still-live old one and
            # double-count its supports on upgrade
            if run_id is None or rec.get("run") in (None, run_id):
                return  # replay of an already-folded batch
            # same batch id from a DIFFERENT stream identity (fresh
            # checkpoint dir over existing state): genuinely new data
        pairs, items = _batch_supports(batch, basket_col, item_col, max_basket)
        seg = f"{tag}b{batch_id}"
        items.write.mode("overwrite").parquet(
            f"{state_dir}/items/seg={seg}"
        )
        pairs.write.mode("overwrite").parquet(
            f"{state_dir}/pairs/seg={seg}"
        )
        # check-and-fail publish loop: if a concurrent compaction (or
        # another fold) takes our version, re-read the head and retry.
        # Idempotent append: a crash between manifest and ledger makes
        # the re-fold overwrite the same segment name — it must not be
        # referenced twice (double count), hence the `in live` stop.
        while True:
            latest = _latest_manifest(state_dir)
            v, live = latest if latest is not None else (-1, [])
            if seg in live or _publish_manifest(
                state_dir, v + 1, [*live, seg]
            ):
                break
        # ledger AFTER the manifest: a crash in between re-folds the
        # batch into an orphan segment next time (harmless duplicate
        # dir, deduped by name) rather than silently dropping it
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"segment": seg, "run": run_id}, f)
        os.replace(tmp, marker)

    return fold


def _live_supports(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pair supports, item supports) aggregated across the latest
    manifest's live segments."""
    latest = _latest_manifest(state_dir)
    if latest is None or not latest[1]:
        raise FileNotFoundError(f"no graph state under {state_dir}")
    _, segs = latest
    pairs = spark.read.parquet(
        *[f"{state_dir}/pairs/seg={s}" for s in segs]
    )
    items = spark.read.parquet(
        *[f"{state_dir}/items/seg={s}" for s in segs]
    )
    if len(segs) > 1:
        pairs = pairs.groupBy("src", "dst").agg(F.sum("sup").alias("sup"))
        items = items.groupBy("item").agg(F.sum("sup").alias("sup"))
    return pairs, items


def compact_graph_state(spark: SparkSession, state_dir: str) -> int:
    """Fold every live segment into one base segment and publish a
    manifest referencing only it, then GC the superseded data dirs
    (batch ledger markers are kept forever — they are the replay
    guard). Returns the number of segments absorbed. Bounds the
    read-side segment count; run it on whatever cadence keeps reads
    cheap (the postings/IVF compaction story).

    Safe to run concurrently with the ingest fold (ADVICE r12): the
    publish is check-and-fail, so if a micro-batch lands a manifest
    while this compaction is folding, the compactor loses the version
    race, re-reads the head, and carries the fold's NEW segments
    forward next to the compacted base — no segment is dropped or
    double-counted. Run at most ONE compactor at a time, though: two
    concurrent compactions would race on the compacted segment's
    parquet dir itself, below the manifest protocol."""
    latest = _latest_manifest(state_dir)
    if latest is None or not latest[1]:
        raise FileNotFoundError(f"no graph state under {state_dir}")
    v, segs = latest
    if len(segs) == 1 and segs[0].startswith("c"):
        return 0  # already compacted, nothing to absorb
    pairs, items = _live_supports(spark, state_dir)
    seg = f"c{v + 1}"
    items.write.mode("overwrite").parquet(f"{state_dir}/items/seg={seg}")
    pairs.write.mode("overwrite").parquet(f"{state_dir}/pairs/seg={seg}")
    absorbed = set(segs)
    new_live, v_next = [seg], v + 1
    while not _publish_manifest(state_dir, v_next, new_live):
        head = _latest_manifest(state_dir)
        assert head is not None  # a manifest beat us, so one exists
        v_head, live_head = head
        # keep everything folded in AFTER our snapshot read
        new_live = [
            seg,
            *[s for s in live_head if s not in absorbed and s != seg],
        ]
        v_next = v_head + 1
    for old in absorbed:
        shutil.rmtree(f"{state_dir}/pairs/seg={old}", ignore_errors=True)
        shutil.rmtree(f"{state_dir}/items/seg={old}", ignore_errors=True)
    return len(absorbed)


def read_cooccurrence_graph(
    spark: SparkSession,
    state_dir: str,
    min_support: int = 2,
    symmetric: bool = False,
) -> DataFrame:
    """Serve the co-occurrence edges from the latest manifest: pairs
    with sup >= min_support whose BOTH endpoints are frequent (item
    support >= min_support, applied here at read time from the
    accumulated item state). Returns one-directional (src, dst, sup)
    rows, or the symmetric (src, dst, sup) edge list ready for the
    graph operators / graph_write when symmetric=True — sup rides
    along as the edge weight (pagerank weight_col)."""
    pairs, items = _live_supports(spark, state_dir)
    freq = items.filter(F.col("sup") >= min_support).select(F.col("item"))
    und = (
        pairs.filter(F.col("sup") >= min_support)
        .join(freq.withColumnRenamed("item", "src"), "src", "left_semi")
        .join(freq.withColumnRenamed("item", "dst"), "dst", "left_semi")
        .select("src", "dst", "sup")
    )
    if not symmetric:
        return und
    return und.union(
        und.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "sup"
        )
    )


def run_graph_stream(
    spark: SparkSession,
    baskets_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str,
    basket_col: str,
    item_col: str,
    max_basket: int = 256,
    max_files_per_trigger: int | None = None,
):
    """Continuously maintain the co-occurrence supports over arriving
    JSON basket rows. Returns the StreamingQuery. The checkpoint dir
    doubles as the replay-ledger identity: re-pointing a FRESH
    checkpoint at existing state folds its restarted batch ids as new
    data instead of skipping them as replays."""
    fold = build_graph_fold(
        state_dir,
        basket_col,
        item_col,
        max_basket,
        run_id=os.path.abspath(checkpoint_dir),
    )
    return versioned.run_file_stream(
        spark, baskets_dir, schema, fold, checkpoint_dir, max_files_per_trigger
    )
