"""Per-partition HNSW graph ANN — the reference's actual index algorithm
(hnswlib with M=32, ef_construction=128, ef=max(50, 2k);
/root/reference/src/datanode/handler.py:46,86-88,360-364), implemented
in pure numpy so it runs without the native hnswlib dependency.

`HnswIndex` is a faithful single-machine implementation of the HNSW
paper (Malkov & Yashunin, "Efficient and robust approximate nearest
neighbor search using Hierarchical Navigable Small World graphs", IEEE
TPAMI 2018): exponentially-distributed layer assignment, greedy descent
through upper layers, ef-bounded beam search at layer 0, and the
paper's Algorithm-4 neighbor-selection heuristic (a candidate closer to
an already-selected neighbor than to the inserted point is skipped),
which is what hnswlib ships by default.

The Spark operator `hnsw_partition_topk` mirrors the reference's
deployment shape: one graph per partition (≈ one hnswlib index per data
node), each partition answers with its local over-fetched top-2k
(handler.py:364), and the global merge is the coordinator's ascending
heap merge (orderBy(score).limit(k), src/coordinator/handler.py:201-212).
Only ≤ 2k rows leave each partition, so at 1000 executors the merge is
1000*2k rows regardless of corpus size; the graph build is O(n log n)
distance evaluations per partition and never shuffles vectors.

When ef >= the partition's row count the beam search would visit every
node anyway, so the kernel switches to the exhaustive vectorized scan —
that degenerate mode reproduces `knn_exact` bit-for-bit and is the
hash-matched contract anchor (same kernel-parity pattern as
ann_ivf_topk_exact / ann_sq_topk_exact).

Determinism: layer levels come from a seeded generator keyed by the
node's position in key order, rows are inserted in key order, and every
heap orders on (distance, id) — the same partition contents always
build the same graph and return the same rows.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark import versioned
from distributed_vector_database_spark.config import DEFAULT_TOP_K, OVERFETCH
from distributed_vector_database_spark.functions.materialize import release
from distributed_vector_database_spark.operators.ann import (
    read_layout,
    write_layout,
)
from distributed_vector_database_spark.operators.knn import (
    SCORE_DECIMALS,
    _effective_k,
)


class HnswIndex:
    """In-memory HNSW graph over a (n, dim) float64 matrix.

    Distances are squared L2 (the engine's score contract,
    src/coordinator/handler.py:212 — lower is better). Search returns
    ascending (score, row_index) pairs.
    """

    def __init__(self, m: int = 16, ef_construction: int = 128, seed: int = 42):
        import numpy as np

        if m < 2:
            raise ValueError("HNSW M must be >= 2")
        self.m = m
        self.m0 = 2 * m  # layer-0 degree cap, per the paper / hnswlib
        self.ef_c = max(ef_construction, m)
        self.mult = 1.0 / float(np.log(m))
        self.seed = seed
        self.vectors = None  # (n, dim) float64, set by build()
        self._norms = None  # per-row squared norms (distance shortcut)
        self.links: list[dict[int, list[int]]] = []  # links[level][node]
        self.entry = -1
        self.max_level = -1

    # -- distance ---------------------------------------------------------

    def _dists(self, q, ids, qq: float):
        # |x-q|^2 = |x|^2 - 2 x·q + |q|^2 with |x|^2 precomputed and
        # |q|^2 passed in: one BLAS matvec instead of
        # subtract+square+reduce — this runs ~100k times per build, so
        # per-call dispatch overhead is the build's bottleneck, not
        # flops. Clamped at 0 (cancellation can dip epsilon-negative).
        x = self.vectors.take(ids, axis=0)
        d = self._norms.take(ids) - 2.0 * (x @ q) + qq
        d[d < 0.0] = 0.0
        return d

    # -- core search (Algorithm 2) ---------------------------------------

    def _search_layer(self, q, qq, entry_points, ef: int, level: int):
        """Beam search one layer. entry_points / return value are
        ascending-sorted lists of (dist, id)."""
        links = self.links[level]
        visited = {i for _, i in entry_points}
        cand = list(entry_points)
        heapq.heapify(cand)  # min-heap on (dist, id)
        result = [(-d, i) for d, i in entry_points]
        heapq.heapify(result)  # max-heap on dist (negated)
        while cand:
            d, c = heapq.heappop(cand)
            if d > -result[0][0] and len(result) >= ef:
                break
            fresh = [x for x in links.get(c, ()) if x not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            dists = self._dists(q, fresh, qq)
            for dd, nn in sorted(zip(dists.tolist(), fresh)):
                if len(result) < ef or dd < -result[0][0]:
                    heapq.heappush(cand, (dd, nn))
                    heapq.heappush(result, (-dd, nn))
                    if len(result) > ef:
                        heapq.heappop(result)
        return sorted((-d, i) for d, i in result)

    # -- neighbor selection heuristic (Algorithm 4) -----------------------

    def _select(self, candidates, m: int):
        """Keep a candidate only if it is closer to the base point than
        to every already-selected neighbor — the diversity heuristic that
        keeps the graph navigable across clusters (hnswlib default).
        Pairwise candidate distances come from ONE gram-matrix call; the
        greedy scan then reads precomputed scalars."""
        if len(candidates) <= 1:
            return list(candidates[:m])
        ids = [c for _, c in candidates]
        x = self.vectors.take(ids, axis=0)
        n2 = self._norms.take(ids)
        # pair[i][j] = |x_i - x_j|^2 via the gram matrix
        pair = n2[:, None] - 2.0 * (x @ x.T) + n2[None, :]
        selected: list[int] = []  # candidate positions
        out: list[tuple[float, int]] = []
        for i, (d, c) in enumerate(candidates):
            if len(out) >= m:
                break
            row = pair[i]
            if all(row[j] >= d for j in selected):
                selected.append(i)
                out.append((d, c))
        return out

    # -- insertion (Algorithm 1) ------------------------------------------

    def _insert(self, i: int, level: int) -> None:
        while len(self.links) <= level:
            self.links.append({})
        for lvl in range(level + 1):
            self.links[lvl].setdefault(i, [])
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return
        q = self.vectors[i]
        qq = float(self._norms[i])
        ep = [(float(self._dists(q, [self.entry], qq)[0]), self.entry)]
        for lvl in range(self.max_level, level, -1):
            ep = self._search_layer(q, qq, ep, 1, lvl)
        for lvl in range(min(level, self.max_level), -1, -1):
            w = self._search_layer(q, qq, ep, self.ef_c, lvl)
            neighbors = self._select(w, self.m)
            self.links[lvl][i] = [c for _, c in neighbors]
            mmax = self.m0 if lvl == 0 else self.m
            for d, c in neighbors:
                lc = self.links[lvl][c]
                lc.append(i)
                if len(lc) > mmax:
                    # re-prune the overflowing neighbor's list with the
                    # same heuristic, measured from that neighbor
                    dists = self._dists(self.vectors[c], lc, float(self._norms[c]))
                    pruned = self._select(sorted(zip(dists.tolist(), lc)), mmax)
                    self.links[lvl][c] = [x for _, x in pruned]
            ep = w
        if level > self.max_level:
            self.entry, self.max_level = i, level

    # -- public API --------------------------------------------------------

    def build(self, mat) -> "HnswIndex":
        """Insert every row of `mat` in order. Levels are drawn once from
        a seeded generator, so the same matrix always yields the same
        graph."""
        import numpy as np

        self.vectors = np.ascontiguousarray(mat, dtype=np.float64)
        self._norms = np.einsum("ij,ij->i", self.vectors, self.vectors)
        n = len(self.vectors)
        rng = np.random.default_rng(self.seed)
        levels = np.floor(-np.log(rng.random(n)) * self.mult).astype(np.int64)
        for i in range(n):
            self._insert(i, int(levels[i]))
        return self

    def add(self, mat) -> "HnswIndex":
        """Incremental insert — the reference's index-on-put
        (hnswlib add_items on the live graph, src/datanode/handler.py:
        253-261): new rows get indices n..n+b-1 and are inserted into
        the EXISTING graph; already-built edges are only touched by the
        normal neighbor re-pruning. Levels for the batch come from a
        generator keyed by (seed, n), so append order is deterministic
        and independent of earlier batches' draw count."""
        import numpy as np

        batch = np.ascontiguousarray(mat, dtype=np.float64)
        if self.vectors is None:
            return self.build(batch)
        start = len(self.vectors)
        self.vectors = np.ascontiguousarray(np.vstack([self.vectors, batch]))
        self._norms = np.concatenate(
            [self._norms, np.einsum("ij,ij->i", batch, batch)]
        )
        rng = np.random.default_rng((self.seed, start))
        levels = np.floor(
            -np.log(rng.random(len(batch))) * self.mult
        ).astype(np.int64)
        for j in range(len(batch)):
            self._insert(start + j, int(levels[j]))
        return self

    def search(self, q, k: int, ef: int | None = None):
        """Top-k as ascending (squared_l2, row_index); ef defaults to
        max(50, 2k) — the reference's serving setting
        (src/datanode/handler.py:360-361)."""
        import numpy as np

        if self.entry < 0:
            return []
        q = np.asarray(q, dtype=np.float64)
        qq = float(np.dot(q, q))
        ef = max(ef if ef is not None else max(50, 2 * k), k)
        ep = [(float(self._dists(q, [self.entry], qq)[0]), self.entry)]
        for lvl in range(self.max_level, 0, -1):
            ep = self._search_layer(q, qq, ep, 1, lvl)
        return self._search_layer(q, qq, ep, ef, 0)[:k]


def hnsw_partition_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = DEFAULT_TOP_K,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ef_construction: int = 128,
    ef: int | None = None,
    predicate: Column | None = None,
    num_shards: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Distributed HNSW top-k: one numpy HNSW graph per partition, local
    over-fetched top-2k out, global ascending merge (O5/O6 shape shared
    with knn_sharded). Returns (key_col, score).

    ef >= partition rows ⇒ the kernel's exhaustive branch — exact,
    hash-matches knn_exact. `predicate` filters before the kernel
    (pushed to the scan), matching the reference's search filter
    (src/vector_db.thrift:26). `num_shards` re-shards before the build:
    graph construction is the expensive step (O(n log n) sequential
    inserts), so a single fat partition builds single-core while the
    rest of the executor idles — the shard count is the build's
    parallelism, exactly the reference's one-index-per-data-node layout.
    """
    import numpy as np
    import pandas as pd

    k = _effective_k(k)
    fetch = OVERFETCH * k  # per-partition over-fetch, handler.py:364
    qlist = [float(v) for v in query_vec]
    key_type = dict(df.dtypes)[key_col]

    if predicate is not None:
        df = df.filter(predicate)
    proj = df.filter(F.col(vec_col).isNotNull()).select(key_col, vec_col)
    if num_shards is not None:
        proj = proj.repartition(num_shards, key_col)

    def local_ann(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(batches), ignore_index=True)
        if rows.empty:
            return
        # key order fixes insertion order ⇒ the graph (and its results)
        # are independent of parquet batch arrival order
        rows = rows.sort_values(key_col, kind="mergesort").reset_index(drop=True)
        n = len(rows)
        qv = np.asarray(qlist, dtype=np.float64)
        mat = np.stack(rows[vec_col].to_numpy()).astype(np.float64)
        eff_ef = max(ef if ef is not None else max(50, 2 * k), k)
        kk = min(fetch, n)
        if eff_ef >= n:
            # beam would visit every node: take the exhaustive scan —
            # exact by construction (the contract anchor's mode)
            d = mat - qv
            scores = np.einsum("ij,ij->i", d, d)
            order = np.lexsort((rows[key_col].to_numpy(), scores))[:kk]
            out = rows.iloc[order][[key_col]].copy()
            out["score"] = np.round(scores[order], SCORE_DECIMALS)
        else:
            index = HnswIndex(m=m, ef_construction=ef_construction, seed=seed)
            index.build(mat)
            hits = index.search(qv, kk, ef=eff_ef)
            idx = [i for _, i in hits]
            # re-score the ≤2k winners with the exact subtract-square
            # form: graph traversal uses the faster norm-shortcut, whose
            # last-ulp drift must not leak into the score contract
            d = mat[idx] - qv
            out = rows.iloc[idx][[key_col]].copy()
            out["score"] = np.round(np.einsum("ij,ij->i", d, d), SCORE_DECIMALS)
        yield out

    local = proj.mapInPandas(local_ann, schema=f"{key_col} {key_type}, score double")
    return local.orderBy("score", key_col).limit(k)


# ---------------------------------------------------------------------------
# persisted graph index: build once, serve many
# ---------------------------------------------------------------------------
#
# The reference persists its hnswlib index per data node and reloads it
# on restart (save_index/load_index, src/datanode/handler.py:46-88) —
# construction cost is paid once, not per query. The Spark equivalent:
# hnsw_write materializes each shard's graph as plain parquet rows
# (node -> vector + per-level adjacency), partitioned by shard_id;
# hnsw_read_search reloads a shard's rows into the in-memory structure
# (an O(n) columnar load — no O(n log n) rebuild) and beam-searches it.


def hnsw_write(
    df: DataFrame,
    path: str,
    num_shards: int = 8,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ef_construction: int = 128,
    seed: int = 42,
    extra_cols: Sequence[str] = (),
) -> None:
    """Build one HNSW graph per shard and persist graphs + vectors as a
    shard_id-partitioned parquet layout. Build parallelism = num_shards.

    `extra_cols` persists metadata columns alongside each node so
    hnsw_read_search can serve FILTERED queries (predicate evaluated
    inside the shard against these columns — the reference's metadata
    filter on its HNSW path, declared in src/vector_db.thrift:26)."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    extra_cols = list(extra_cols)
    proj = (
        df.filter(F.col(vec_col).isNotNull())
        .select(key_col, vec_col, *extra_cols)
        .repartition(num_shards, key_col)
    )
    key_type = dict(df.dtypes)[key_col]
    extra_schema = "".join(
        f", {c} {dict(df.dtypes)[c]}" for c in extra_cols
    )

    def build_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            # a shard with fewer rows than partitions arrives as zero
            # Arrow batches — emit nothing, the layout just has fewer
            # populated shard directories
            return
        rows = pd.concat(frames, ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(key_col, kind="mergesort").reset_index(drop=True)
        mat = np.stack(rows[vec_col].to_numpy()).astype(np.float64)
        index = HnswIndex(m=m, ef_construction=ef_construction, seed=seed)
        index.build(mat)
        n = len(rows)
        links = [
            [
                [int(x) for x in index.links[lvl].get(i, [])]
                for lvl in range(len(index.links))
                if i in index.links[lvl]
            ]
            for i in range(n)
        ]
        yield pd.DataFrame(
            {
                "shard_id": TaskContext.get().partitionId(),
                "node_idx": np.arange(n, dtype=np.int64),
                key_col: rows[key_col].to_numpy(),
                vec_col: [list(map(float, v)) for v in mat],
                "links": links,
                "entry": int(index.entry),
                "max_level": int(index.max_level),
                # build params ride along so hnsw_append/hnsw_compact
                # can continue insertion/rebuild with the same graph
                # configuration — INCLUDING the level-draw seed, so a
                # layout built with seed!=42 compacts to the same
                # graph family it was built from
                "m": m,
                "efc": ef_construction,
                "nshards": num_shards,
                "seed": seed,
                **{c: rows[c].to_numpy() for c in extra_cols},
            }
        )

    schema = (
        f"shard_id int, node_idx long, {key_col} {key_type}, "
        f"{vec_col} array<double>, links array<array<long>>, "
        "entry long, max_level int, m int, efc int, nshards int, seed int"
        + extra_schema
    )
    write_layout(
        proj.mapInPandas(build_shard, schema=schema), path, ["shard_id"]
    )


def _reconstruct(pdf, key_col: str, vec_col: str) -> "HnswIndex":
    """Rebuild the in-memory graph from one shard's persisted rows —
    columnar load, no edge recomputation."""
    import numpy as np

    pdf = pdf.sort_values("node_idx", kind="mergesort").reset_index(drop=True)
    index = HnswIndex(m=2)  # m only matters for build
    index.vectors = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    index._norms = np.einsum("ij,ij->i", index.vectors, index.vectors)
    for i, lnks in enumerate(pdf["links"].to_numpy()):
        for lvl, neigh in enumerate(lnks):
            while len(index.links) <= lvl:
                index.links.append({})
            index.links[lvl][i] = [int(x) for x in neigh]
    index.entry = int(pdf["entry"].iloc[0])
    index.max_level = int(pdf["max_level"].iloc[0])
    return index


def hnsw_delete(path: str, keys: Sequence) -> int:
    """Soft-delete keys from a persisted hnsw_write layout — the
    reference's exact deletion model: graph nodes cannot be physically
    unlinked (src/datanode/handler.py:43 — "HNSW不支持物理删除"), so
    deleted ids accumulate in a persisted tombstone set
    (deleted_ids.json, handler.py:123-133) that serving filters out
    (handler.py:99) until a compaction rebuild reclaims them
    (handler.py:90-118 → hnsw_compact, which rewrites only affected
    shards instead of the reference's full rebuild).

    O(|keys|): one JSON tombstone record appended under
    `path/_tombstones/` (underscore prefix → invisible to the parquet
    scans). Records are APPEND-ONLY and carry a monotone sequence in
    the file name; resurrection (hnsw_append re-putting a deleted key)
    appends a `remove` record instead of rewriting the set, so there
    is no crash window in which unrelated tombstones vanish.
    Tombstones are bounded between compactions; at 100 TB the set
    rides the same driver->closure path the query vector does.
    Returns the total number of distinct tombstoned keys."""
    _append_tombstone_record(path, sorted(set(keys)))
    return len(_read_tombstones(path))


def _tombstone_sort_key(fn: str) -> tuple:
    """Total order over tombstone records. Names are
    t-<seq:08d>-<a|r>-<uuid>.json (a=add/delete, r=remove/resurrect);
    legacy t-<seq>-<uuid>.json records sort as adds, unsequenced legacy
    names parse to seq 0. Seq allocation is ATOMIC (O_EXCL claim files
    in _append_tombstone_record) so two live writers cannot emit equal
    seqs; the equal-seq tie-break below survives only for legacy
    records written before the claim protocol: add-records apply
    before remove-records at equal seq, so a racing delete+resurrect
    resolves resurrect-wins (matching the newest-node-wins serving
    rule), never uuid-filename order."""
    parts = fn.split("-")
    seq = int(parts[1]) if len(parts) >= 3 and parts[1].isdigit() else 0
    kind = 1 if (len(parts) >= 4 and parts[2] == "r") else 0
    return (seq, kind, fn)


def _tombstone_seq(fn: str) -> int:
    parts = fn.split("-")
    if len(parts) >= 3 and parts[1].isdigit():
        return int(parts[1])
    return 0


def _append_tombstone_record(path: str, payload) -> None:
    """Atomically append one ordered record (a list = keys to add, or
    {'remove': [...]} = keys to resurrect) to the tombstone log.

    The sequence number is CLAIMED atomically (an O_EXCL sidecar
    `s-<seq>.claim`) before the record is written, so the old
    single-writer-by-assumption contract (r8 VERDICT #7) is now
    enforced serialization: two racing appenders can never emit equal
    seqs — the loser's O_EXCL create fails and it rescans for the next
    free seq. A writer that crashes after claiming burns its seq (a
    gap, harmless to the fold order). Claims are PERMANENT for the
    life of the log — removing one after its record lands would let a
    writer that scanned before the record existed re-claim the freed
    seq (found by the race test). One empty sidecar per record is the
    price; compaction clears the whole _tombstones dir anyway."""
    import json as _json
    import os as _os
    import uuid as _uuid

    tdir = _os.path.join(path, "_tombstones")
    _os.makedirs(tdir, exist_ok=True)

    def _next_seq() -> int:
        taken = [
            _tombstone_seq(f)
            for f in _os.listdir(tdir)
            if f.endswith(".json")
        ]
        # split-based parse, not a fixed slice: {seq:08d} widens past
        # 8 digits at 10^8 and a sliced parse would under-count a
        # crashed writer's claim there, looping _next_seq forever
        taken += [
            int(f[2:-6])
            for f in _os.listdir(tdir)
            if f.startswith("s-") and f.endswith(".claim")
            and f[2:-6].isdigit()
        ]
        return 1 + max(taken, default=0)

    for _ in range(10_000):  # bounded: each loss means another writer won
        seq = _next_seq()
        claim = _os.path.join(tdir, f"s-{seq:08d}.claim")
        try:
            _os.close(_os.open(claim, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY))
        except FileExistsError:
            continue
        break
    else:
        raise RuntimeError(
            f"could not claim a tombstone seq under {tdir} after 10k tries"
        )
    kind = "r" if isinstance(payload, dict) else "a"
    fn = _os.path.join(
        tdir, f"t-{seq:08d}-{kind}-{_uuid.uuid4().hex[:12]}.json"
    )
    tmp = fn + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump(payload, fh)
    _os.replace(tmp, fn)


def _read_tombstones(path: str) -> frozenset:
    """Fold the ordered tombstone log: plain-list records add keys,
    {'remove': [...]} records resurrect them. Legacy (unsequenced)
    records are all adds, so their relative order is immaterial."""
    import json as _json
    import os as _os

    tdir = _os.path.join(path, "_tombstones")
    if not _os.path.isdir(tdir):
        return frozenset()
    out: set = set()
    names = [f for f in _os.listdir(tdir) if f.endswith(".json")]
    for fn in sorted(names, key=_tombstone_sort_key):
        with open(_os.path.join(tdir, fn)) as fh:
            rec = _json.load(fh)
        if isinstance(rec, dict):
            out.difference_update(rec.get("remove", ()))
            out.update(rec.get("add", ()))
        else:
            out.update(rec)
    return frozenset(out)


def hnsw_read_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = DEFAULT_TOP_K,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    ef: int | None = None,
    predicate=None,
) -> DataFrame:
    """Serve top-k from a persisted hnsw_write layout: each shard group
    reloads its graph and beam-searches; global ascending merge. The
    reference's restart path (load_index + knn_query).

    Tombstoned keys (hnsw_delete) are filtered INSIDE each shard's
    candidate pool with the fetch depth widened by the shard's own
    tombstone count — filter-after-search like the reference
    (handler.py:99) but with guaranteed candidate depth, so deletions
    never shrink the honest top-k.

    `predicate` (a Column over metadata columns persisted via
    hnsw_write(extra_cols=...)) serves FILTERED ANN the same way: rows
    failing the predicate are masked like tombstones — the graph stays
    intact (nodes can't be dropped without breaking adjacency), the
    beam fetch widens by the shard's masked count, and the exhaustive
    (ef >= shard rows) mode degenerates to exact filtered brute force.
    Evaluated by Catalyst in the scan, not in Python — only the
    boolean lands in the kernel."""
    import numpy as np
    import pandas as pd

    k = _effective_k(k)
    fetch = OVERFETCH * k
    qlist = [float(v) for v in query_vec]
    tomb = _read_tombstones(path)
    nodes = read_layout(spark, path)
    has_pred = predicate is not None
    if has_pred:
        nodes = nodes.withColumn("__keep", predicate)
    key_type = dict(nodes.dtypes)[key_col]

    def search_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({key_col: [], "score": []})
        index = _reconstruct(pdf, key_col, vec_col)
        pdf = pdf.sort_values("node_idx", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        dead = (
            pdf[key_col].isin(tomb).to_numpy()
            if tomb
            else np.zeros(n, dtype=bool)
        )
        if has_pred:
            # predicate-failing nodes mask exactly like tombstones
            # (NULL predicate = not kept, matching WHERE semantics)
            dead |= ~pdf["__keep"].fillna(False).to_numpy().astype(bool)
        # a re-put key holds two graph nodes (appends can't unlink the
        # old one); NEWEST node wins = max node_idx per key, since
        # hnsw_append routes a key to the same shard hnsw_write did and
        # appended nodes always take higher indices. Mask the stale
        # ones so a changed vector never serves its overwritten score.
        dead |= pdf.duplicated(subset=[key_col], keep="last").to_numpy()
        qv = np.asarray(qlist, dtype=np.float64)
        kk = min(fetch, n)
        eff_ef = max(ef if ef is not None else max(50, 2 * k), k)
        if eff_ef >= n:
            d = index.vectors - qv
            scores = np.einsum("ij,ij->i", d, d)
            order = np.lexsort((pdf[key_col].to_numpy(), scores))
            order = order[~dead[order]][:kk]
            out = pdf.iloc[order][[key_col]].copy()
            out["score"] = np.round(scores[order], SCORE_DECIMALS)
            return out
        # widen by this shard's tombstone count so the post-filter
        # pool still holds kk live candidates
        kk2 = min(kk + int(dead.sum()), n)
        hits = index.search(qv, kk2, ef=max(eff_ef, kk2))
        idx = [i for _, i in hits if not dead[i]][:kk]
        d = index.vectors[idx] - qv
        out = pdf.iloc[idx][[key_col]].copy()
        out["score"] = np.round(np.einsum("ij,ij->i", d, d), SCORE_DECIMALS)
        return out

    local = nodes.groupBy("shard_id").applyInPandas(
        search_shard, schema=f"{key_col} {key_type}, score double"
    )
    # within a shard the stale duplicate of a re-put key is already
    # masked (newest node_idx wins, above); this cross-shard dedup is
    # a safety net for layouts merged from foreign shards, mirroring
    # knn_sharded's replica dedup
    from pyspark.sql.window import Window as _W

    dw = _W.partitionBy(key_col).orderBy("score")
    local = (
        local.withColumn("__rn", F.row_number().over(dw))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return local.orderBy("score", key_col).limit(k)


def hnsw_append(
    spark,
    path: str,
    batch: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Incremental index maintenance: route a (key, vector) batch to its
    shards with the SAME hash partitioning hnsw_write used — the shard
    is the column expression pmod(hash(key), nshards), Spark's Murmur3
    HashPartitioning of hnsw_write's repartition(nshards, key), so no
    repartition and no Python pass tag the batch — reload each
    affected shard's graph, insert the new rows (HnswIndex.add — the
    reference's live add_items on put, src/datanode/handler.py:253-261),
    and rewrite ONLY those shard partitions (dynamic partition
    overwrite). Untouched shards keep their files; per-batch cost is
    O(affected shards), not O(corpus).

    Like the reference's in-place index mutation, the rewrite is not
    atomic across shards — concurrent readers can see a mix of old and
    new shard files mid-append; the store's versioned rebuild is the
    atomic path.

    A tombstoned key (hnsw_delete) that reappears in a batch is
    RESURRECTED: a `remove` record is appended to the tombstone log,
    and serving keeps only the NEWEST graph node per key (max
    node_idx), so a re-put with a changed vector serves the new
    vector even though the old node stays physically linked.

    `batch_id` (for foreachBatch callers): applied ids are recorded as
    marker files and replayed batches are skipped. The marker lands
    AFTER the shard rewrite, so a crash between the two can re-append
    one batch — serving stays correct because hnsw_read_search dedups
    to the best row per key (duplicate nodes carry the same vector →
    the same score), only storage carries the duplicate until the next
    rebuild."""
    import numpy as np
    import pandas as pd

    if versioned.batch_applied(path, batch_id):
        return

    nodes = read_layout(spark, path)
    key_type = dict(nodes.dtypes)[key_col]
    head = nodes.select("m", "efc", "nshards", "seed").limit(1).collect()
    if not head:
        raise ValueError(f"empty HNSW layout at {path}")
    m, efc, nshards = int(head[0]["m"]), int(head[0]["efc"]), int(head[0]["nshards"])
    # insert with the layout's build seed, so a layout built via
    # hnsw_write(seed!=42) keeps its level draws on append
    seed = int(head[0]["seed"])

    # metadata columns persisted by hnsw_write(extra_cols=...) must
    # ride the append too — the batch has to carry the same columns
    known = {
        "shard_id", "node_idx", key_col, vec_col, "links",
        "entry", "max_level", "m", "efc", "nshards", "seed",
    }
    extras = [c for c in nodes.columns if c not in known]
    missing = [c for c in extras if c not in batch.columns]
    if missing:
        raise ValueError(
            f"layout persists metadata columns {extras}; batch lacks "
            f"{missing}"
        )
    extra_schema = "".join(
        f", {c} {dict(nodes.dtypes)[c]}" for c in extras
    )

    # hnsw_write's repartition(nshards, key) places a row in partition
    # pmod(murmur3 hash(key), nshards) — Spark's HashPartitioning, and
    # F.hash is the same Murmur3 — so this expression routes a key to
    # the shard whose graph would have held it at build time
    new_rows = batch.filter(F.col(vec_col).isNotNull()).select(
        F.pmod(F.hash(key_col), F.lit(nshards)).cast("int").alias("shard_id"),
        key_col,
        F.col(vec_col).cast("array<double>").alias(vec_col),
        *extras,
    )

    out_schema = (
        f"shard_id int, node_idx long, {key_col} {key_type}, "
        f"{vec_col} array<double>, links array<array<long>>, "
        "entry long, max_level int, m int, efc int, nshards int, seed int"
        + extra_schema
    )

    out_cols = [
        "shard_id", "node_idx", key_col, vec_col, "links",
        "entry", "max_level", "m", "efc", "nshards", "seed", *extras,
    ]

    def merge_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            # no new rows for this shard: emit nothing — dynamic
            # overwrite leaves the existing partition untouched.
            # (object dtype: a default float64 empty column can't be
            # Arrow-cast to the list<double>/list<list> schema fields)
            return pd.DataFrame(
                {c: pd.Series([], dtype="object") for c in out_cols}
            )
        fresh = right.sort_values(key_col, kind="mergesort").reset_index(drop=True)
        fmat = np.stack(fresh[vec_col].to_numpy()).astype(np.float64)
        if left.empty:
            index = HnswIndex(m=m, ef_construction=efc, seed=seed).build(fmat)
            keys = fresh[key_col].to_numpy()
            extra_vals = {c: fresh[c].to_numpy() for c in extras}
            shard_id = int(fresh["shard_id"].iloc[0])
        else:
            left = left.sort_values("node_idx", kind="mergesort").reset_index(
                drop=True
            )
            index = _reconstruct(left, key_col, vec_col)
            index.m = m
            index.m0 = 2 * m
            index.ef_c = max(efc, m)
            index.mult = 1.0 / float(np.log(m))
            index.seed = seed
            index.add(fmat)
            keys = np.concatenate(
                [left[key_col].to_numpy(), fresh[key_col].to_numpy()]
            )
            extra_vals = {
                c: np.concatenate(
                    [left[c].to_numpy(), fresh[c].to_numpy()]
                )
                for c in extras
            }
            shard_id = int(left["shard_id"].iloc[0])
        n = len(index.vectors)
        links = [
            [
                [int(x) for x in index.links[lvl][i]]
                for lvl in range(len(index.links))
                if i in index.links[lvl]
            ]
            for i in range(n)
        ]
        return pd.DataFrame(
            {
                "shard_id": shard_id,
                "node_idx": np.arange(n, dtype=np.int64),
                key_col: keys,
                vec_col: [list(map(float, v)) for v in index.vectors],
                "links": links,
                "entry": int(index.entry),
                "max_level": int(index.max_level),
                "m": m,
                "efc": efc,
                "nshards": nshards,
                "seed": seed,
                **extra_vals,
            }
        )

    merged = (
        nodes.groupBy("shard_id")
        .cogroup(new_rows.groupBy("shard_id"))
        .applyInPandas(merge_shard, schema=out_schema)
    )
    # the write overwrites partitions of the very layout the plan reads:
    # materialize first (localCheckpoint severs the file-source lineage,
    # which Spark otherwise rejects as a read-write cycle)
    merged = merged.localCheckpoint(eager=True)
    try:
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id")
            .parquet(path)
        )
    finally:
        # the checkpoint's blocks stay cached until released: nothing
        # reads `merged` after the write, so drop them now rather than
        # leave them in the session after every append
        release(merged)
    # re-putting a tombstoned key RESURRECTS it (upsert semantics, the
    # reference's put path: the old node stays tombstoned, the new one
    # serves) — append a `remove` record for the keys that actually
    # gained a node (null-vector rows appended nothing, so they must
    # not resurrect), leaving every other tombstone untouched even if
    # we crash mid-way
    tomb = _read_tombstones(path)
    if tomb:
        hit = {
            r[key_col]
            for r in batch.filter(F.col(vec_col).isNotNull())
            .select(key_col)
            .filter(F.col(key_col).isin(list(tomb)))
            .distinct()
            .collect()
        }
        if hit:
            _append_tombstone_record(path, {"remove": sorted(hit)})
    versioned.mark_batch_applied(path, batch_id)


def hnsw_tune_ef(
    spark,
    path: str,
    sample_queries: Sequence[Sequence[float]],
    k: int = DEFAULT_TOP_K,
    target_recall: float = 0.95,
    ef_grid: Sequence[int] = (16, 32, 64, 128, 256),
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Pick the smallest beam width meeting a recall target — the
    auto-tuning the reference skips (it hardcodes set_ef(64),
    src/datanode/handler.py:112, regardless of corpus or k).

    Offline calibration pass over a persisted hnsw_write layout:
    ground truth per sample query comes from the layout's own
    exhaustive mode (ef >= shard rows — the same bit-exact kernel the
    hash anchors pin), then each candidate ef is measured ascending
    and the first whose MEAN recall@k reaches `target_recall` wins.
    Returns {"ef": chosen (None if the grid tops out below target),
    "profile": [(ef, recall, sec_per_query), ...]}.

    Cost: |grid| x |sample| searches against the prebuilt index —
    serving-shaped work, run it once per (corpus, k) regime and store
    the ef beside the layout. Recall is monotone in ef (a wider beam
    only adds candidates), so first-hit is globally minimal on the
    grid."""
    import time as _time

    queries = [[float(x) for x in q] for q in sample_queries]
    if not queries:
        raise ValueError("sample_queries must be non-empty")
    truth = [
        {
            r[key_col]
            for r in hnsw_read_search(
                spark, path, q, k=k, key_col=key_col, vec_col=vec_col,
                ef=10**9,
            ).collect()
        }
        for q in queries
    ]
    profile: list[tuple[int, float, float]] = []
    chosen = None
    for ef in sorted(set(int(e) for e in ef_grid)):
        hits, denom = 0, 0
        t0 = _time.time()
        for q, want in zip(queries, truth):
            got = {
                r[key_col]
                for r in hnsw_read_search(
                    spark, path, q, k=k, key_col=key_col, vec_col=vec_col,
                    ef=ef,
                ).collect()
            }
            hits += len(got & want)
            denom += len(want)
        per_q = (_time.time() - t0) / len(queries)
        recall = hits / denom if denom else 1.0
        profile.append((ef, round(recall, 4), round(per_q, 4)))
        if chosen is None and recall >= target_recall:
            chosen = ef
            break
    return {"ef": chosen, "profile": profile}


def hnsw_compact(
    spark,
    path: str,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Reclaim tombstoned keys from a persisted hnsw_write layout —
    the reference's periodic index rebuild (_rebuild_hnsw_index,
    src/datanode/handler.py:90-118: re-add every live vector to a
    fresh graph, then clear deleted_ids), except the Spark layout
    rebuilds ONLY the shards that actually contain tombstoned keys
    (dynamic partition overwrite; untouched shards keep their files
    and graphs) — O(affected shards), not O(corpus). A shard whose
    every row is tombstoned has its directory removed. Stale duplicate
    nodes left by re-puts (hnsw_append keeps the old node linked; only
    the max-node_idx one serves) are reclaimed in the same pass.
    Afterwards the tombstone set is empty and serving pays zero filter
    cost again. Returns the number of graph nodes physically
    removed."""
    import os as _os
    import shutil as _shutil

    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window as _W

    tomb = _read_tombstones(path)
    nodes = read_layout(spark, path)
    key_type = dict(nodes.dtypes)[key_col]
    nw = _W.partitionBy("shard_id", key_col).orderBy(F.desc("node_idx"))
    nodes_rn = nodes.withColumn("__rn", F.row_number().over(nw))
    stale = F.col("__rn") > 1
    tombed = (
        F.col(key_col).isin(list(tomb)) if tomb else F.lit(False)
    )
    dead = nodes_rn.filter(stale | tombed)
    shards = [r["shard_id"] for r in dead.select("shard_id").distinct().collect()]
    removed = dead.count()
    if not removed and not tomb:
        return 0
    if shards:
        survivors = (
            nodes_rn.filter(F.col("shard_id").isin(shards))
            .filter(~stale & ~tombed)
            .drop("__rn")
        )

        out_schema = (
            f"shard_id int, node_idx long, {key_col} {key_type}, "
            f"{vec_col} array<double>, links array<array<long>>, "
            "entry long, max_level int, m int, efc int, nshards int, "
            "seed int"
        )

        def rebuild_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return pd.DataFrame(
                    {c.split()[0]: pd.Series([], dtype="object")
                     for c in out_schema.split(", ")}
                )
            m = int(pdf["m"].iloc[0])
            efc = int(pdf["efc"].iloc[0])
            shard_seed = int(pdf["seed"].iloc[0])
            rows = pdf.sort_values(key_col, kind="mergesort").reset_index(
                drop=True
            )
            mat = np.stack(rows[vec_col].to_numpy()).astype(np.float64)
            index = HnswIndex(m=m, ef_construction=efc, seed=shard_seed)
            index.build(mat)
            n = len(rows)
            links = [
                [
                    [int(x) for x in index.links[lvl].get(i, [])]
                    for lvl in range(len(index.links))
                    if i in index.links[lvl]
                ]
                for i in range(n)
            ]
            return pd.DataFrame(
                {
                    "shard_id": int(pdf["shard_id"].iloc[0]),
                    "node_idx": np.arange(n, dtype=np.int64),
                    key_col: rows[key_col].to_numpy(),
                    vec_col: [list(map(float, v)) for v in mat],
                    "links": links,
                    "entry": int(index.entry),
                    "max_level": int(index.max_level),
                    "m": m,
                    "efc": efc,
                    "nshards": int(pdf["nshards"].iloc[0]),
                    "seed": shard_seed,
                }
            )

        rebuilt = survivors.groupBy("shard_id").applyInPandas(
            rebuild_shard, schema=out_schema
        )
        rebuilt = rebuilt.localCheckpoint(eager=True)
        live = {
            r["shard_id"] for r in rebuilt.select("shard_id").distinct().collect()
        }
        if live:
            (
                rebuilt.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard_id")
                .parquet(path)
            )
            for s in set(shards) - live:
                _shutil.rmtree(f"{path}/shard_id={s}", ignore_errors=True)
        else:
            all_shards = {
                r["shard_id"]
                for r in nodes.select("shard_id").distinct().collect()
            }
            if all_shards <= set(shards):
                # EVERY shard reclaimed to empty: leave one empty
                # data file (and its schema), so the layout still reads
                write_layout(rebuilt.limit(0).coalesce(1), path)
            else:
                # affected shards all emptied but others survive:
                # just drop the emptied directories
                for s in shards:
                    _shutil.rmtree(
                        f"{path}/shard_id={s}", ignore_errors=True
                    )
    _shutil.rmtree(_os.path.join(path, "_tombstones"), ignore_errors=True)
    return int(removed)


def hnsw_knn_join(
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = DEFAULT_TOP_K,
    query_key: str = "query_id",
    query_vec: str = "query_vec",
    corpus_key: str = "vec_id",
    corpus_vec: str = "embedding",
    m: int = 16,
    ef_construction: int = 128,
    ef: int | None = None,
    num_shards: int | None = None,
    max_query_rows: int = 10_000,
    seed: int = 42,
    index_path: str | None = None,
) -> DataFrame:
    """ANN k-NN JOIN through per-partition HNSW graphs: the graph is
    built ONCE per corpus partition, then every query beam-searches it —
    amortizing the O(n log n) construction over the whole query set,
    versus knn_join's per-query O(n) exact pass. Same output contract as
    knn_join: (query_key, corpus_key, score, rank).

    The query side is collected and broadcast (bounded by
    max_query_rows, knn_join's guard); the corpus — the 100 TB side —
    never shuffles beyond the optional num_shards re-shard. ef >= shard
    rows degenerates every shard to the exact GEMM pass, reproducing
    knn_join bit-for-bit (kernel-parity anchor).

    `index_path` (instead of `corpus`): serve the join from a persisted
    hnsw_write layout — construction already paid, each shard RELOADS
    its graph (O(n) columnar) and answers every query, so repeated query
    sets never rebuild anything."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    if (corpus is None) == (index_path is None):
        raise ValueError("pass exactly one of corpus / index_path")
    k = _effective_k(k)
    qrows = queries.select(query_key, query_vec).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"hnsw_knn_join query side exceeds max_query_rows={max_query_rows}; "
            "chunk the query side or use ann.ivf_knn_join for large-x-large"
        )
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_key} long, {corpus_key} long, score double, rank int"
        )
    qids = [r[query_key] for r in qrows]
    qmat_list = [[float(x) for x in r[query_vec]] for r in qrows]
    qkey_type = dict(queries.dtypes)[query_key]

    def answer(index: "HnswIndex", keys, eff_ef: int) -> list:
        """Run every broadcast query against one shard's graph (or its
        exhaustive scan when eff_ef covers the shard)."""
        qm = np.asarray(qmat_list, dtype=np.float64)
        n = len(keys)
        parts = []
        if eff_ef >= n:
            for j, qid in enumerate(qids):
                d = index.vectors - qm[j]
                scores = np.round(np.einsum("ij,ij->i", d, d), SCORE_DECIMALS)
                order = np.lexsort((keys, scores))[: min(k, n)]
                parts.append(
                    pd.DataFrame(
                        {query_key: qid, corpus_key: keys[order], "score": scores[order]}
                    )
                )
        else:
            for j, qid in enumerate(qids):
                hits = index.search(qm[j], min(k, n), ef=eff_ef)
                idx = [i for _, i in hits]
                d = index.vectors[idx] - qm[j]
                parts.append(
                    pd.DataFrame(
                        {
                            query_key: qid,
                            corpus_key: keys[idx],
                            "score": np.round(
                                np.einsum("ij,ij->i", d, d), SCORE_DECIMALS
                            ),
                        }
                    )
                )
        return parts

    if index_path is not None:
        spark = queries.sparkSession
        nodes = read_layout(spark, index_path)
        key_type = dict(nodes.dtypes)[corpus_key]
        eff_ef_served = max(ef if ef is not None else max(50, 2 * k), k)

        def search_shard_join(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty:
                return pd.DataFrame({query_key: [], corpus_key: [], "score": []})
            index = _reconstruct(pdf, corpus_key, corpus_vec)
            pdf = pdf.sort_values("node_idx", kind="mergesort").reset_index(
                drop=True
            )
            parts = answer(index, pdf[corpus_key].to_numpy(), eff_ef_served)
            return pd.concat(parts, ignore_index=True)

        local = nodes.groupBy("shard_id").applyInPandas(
            search_shard_join,
            schema=f"{query_key} {qkey_type}, {corpus_key} {key_type}, score double",
        )
        w = Window.partitionBy(query_key).orderBy("score", corpus_key)
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_key, corpus_key, "score", "rank")
        )

    key_type = dict(corpus.dtypes)[corpus_key]

    proj = corpus.filter(F.col(corpus_vec).isNotNull()).select(corpus_key, corpus_vec)
    if num_shards is not None:
        proj = proj.repartition(num_shards, corpus_key)

    def local_join(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(batches), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(corpus_key, kind="mergesort").reset_index(drop=True)
        n = len(rows)
        mat = np.stack(rows[corpus_vec].to_numpy()).astype(np.float64)
        eff_ef = max(ef if ef is not None else max(50, 2 * k), k)
        if eff_ef >= n:
            # exact GEMM pass per query — knn_join's kernel; no graph
            # construction (answer() only touches .vectors here)
            index = HnswIndex(m=m)
            index.vectors = mat
        else:
            index = HnswIndex(m=m, ef_construction=ef_construction, seed=seed)
            index.build(mat)
        parts = answer(index, rows[corpus_key].to_numpy(), eff_ef)
        yield pd.concat(parts, ignore_index=True)

    local = proj.mapInPandas(
        local_join,
        schema=f"{query_key} {qkey_type}, {corpus_key} {key_type}, score double",
    )
    w = Window.partitionBy(query_key).orderBy("score", corpus_key)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, corpus_key, "score", "rank")
    )
