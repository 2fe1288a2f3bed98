"""The two workloads: set-up, one closed-loop op at a time, checks.

Each workload object is built by `run.py` with the Spark session, a work
directory inside the checkout, the generated inputs and a `Recorder`. It
exposes `setup()`, `warmup()`, `run(op)` for one op of the pre-drawn
sequence, `finish()` for end-of-loop checks, and `metrics()` /
`layer_metrics()` for the report. Only public library functions are
called; every answer is checked against `reference.py`, and a wrong
answer is returned from `run()` as a failure reason.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from inputs import DIM
from reference import StoreModel, check_approx, check_clusters, check_topk, cosine_pairs, exact_topk, recall
from tracing import dir_bytes

K = 10  # top_k for every search

VEC = pa.list_(pa.float64())


def write_parquet(path: str, table: pa.Table, files: int = 1) -> None:
    """Write `table` as `files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Workload:
    name = ""
    reads: tuple[str, ...] = ()
    writes: tuple[str, ...] = ()

    def __init__(self, spark, workdir: str, inputs, rec):
        self.spark = spark
        self.workdir = workdir
        self.inputs = inputs
        self.rec = rec
        self._files = 0

    def warmup(self, ops) -> None:
        """Run `ops` unrecorded (first-call costs: code generation, Python
        workers), then clear the per-loop accumulators."""
        for op in ops:
            t = time.perf_counter()
            err = self.run(op, record=False)
            print(f"warm-up {op[0]} {time.perf_counter() - t:.2f}s", file=sys.stderr)
            if err:
                raise RuntimeError(f"warm-up {op[0]} failed: {err}")
        self.reset()

    def reset(self) -> None:
        """Clear per-loop accumulators (between warm-up and loops)."""

    def finish(self) -> str | None:
        """End-of-run check on persisted state; None when it holds."""
        return None

    def _tmp_path(self, stem: str) -> str:
        self._files += 1
        return os.path.join(self.workdir, "inputs", f"{stem}-{self._files}")


# -- store_mixed -----------------------------------------------------------------


class StoreMixed(Workload):
    """The reference's verb set through VectorStore, writes beside reads."""

    name = "store_mixed"
    reads = ("search", "search_filtered", "index_search", "hnsw_search", "get")
    writes = ("put_new", "put_overwrite", "delete", "put_batch")

    def __init__(self, spark, workdir, inputs, rec):
        super().__init__(spark, workdir, inputs, rec)
        self.root = os.path.join(workdir, "store")
        self.model = StoreModel()
        self.ivf_recalls: list[float] = []
        self.hnsw_recalls: list[float] = []
        self.cells: list[int] = []
        self.rows_scanned: list[float] = []
        self.log_files_at_read: list[int] = []
        self.compactions = 0
        self.compact_ms: list[float] = []
        self.build = {}

    def _records(self, keys, vecs, cats):
        path = self._tmp_path("records")
        table = pa.table(
            {
                "key": pa.array(keys, pa.string()),
                "vector": pa.array(list(vecs), VEC),
                "metadata": pa.array(
                    [[("cat", c)] for c in cats], pa.map_(pa.string(), pa.string())
                ),
            }
        )
        write_parquet(path, table)
        return self.spark.read.parquet(path)

    def setup(self) -> None:
        from distributed_vector_database_spark.store import VectorStore

        inp = self.inputs
        df = self._records(inp.keys, inp.vectors, inp.cats)
        t = time.perf_counter()
        self.store = VectorStore(self.spark, self.root, dim=DIM)
        self.store.put_batch(df)
        self.store.compact()
        self.build["ingest_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.store.rebuild_index()
        self.build["rebuild_index_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.store.rebuild_hnsw_index()
        self.build["rebuild_hnsw_index_s"] = time.perf_counter() - t
        for k, vec, c in zip(inp.keys, inp.vectors, inp.cats):
            self.model.put(k, vec, {"cat": c})
        self._wrap_compact()

    def _wrap_compact(self) -> None:
        """Count compactions that land inside loop writes, with their
        stall time (instance attribute, so the store's own
        `self.compact()` in `_maybe_auto_compact` goes through it)."""
        inner = self.store.compact

        def compact():
            t = time.perf_counter()
            try:
                return inner()
            finally:
                self.compactions += 1
                self.compact_ms.append((time.perf_counter() - t) * 1000.0)

        self.store.compact = compact

    def reset(self) -> None:
        self.cells.clear()
        self.rows_scanned.clear()
        self.ivf_recalls.clear()
        self.hnsw_recalls.clear()
        self.log_files_at_read.clear()
        self.compactions = 0
        self.compact_ms.clear()

    def _key(self, rank: int) -> str:
        live = self.model.live_keys()
        return live[rank % len(live)]

    def run(self, op, record: bool = True) -> str | None:
        kind = op[0]
        s = self.store
        call = self.rec.call if record else (lambda _op, _layer, fn, plan=None: fn())
        if kind in self.reads and record:
            self.log_files_at_read.append(s._log_file_count())
        if kind in ("search", "search_filtered"):
            q, cat = op[1], op[2]
            flt = {"cat": cat} if cat else None
            rows = call(kind, "store", lambda: s.search(q.tolist(), top_k=K, filter=flt).collect(), plan="knn")
            keys, mat = self.model.matrix(cat)
            return check_topk([(r["key"], r["score"]) for r in rows], keys, mat, q, K)
        if kind == "index_search":
            q = op[1]
            rows = call(kind, "store", lambda: s.index_search(q.tolist(), top_k=K).collect(), plan="ann")
            dead = [r["key"] for r in rows if r["key"] not in self.model.rows]
            if dead:
                return f"index_search returned deleted key {dead[0]!r}"
            if record and self.rec.traced:
                cells, scanned = self.rec.partitioned_scans()
                self.cells.append(cells)
                self.rows_scanned.append(scanned / K)
            keys, mat = self.model.matrix()
            self.ivf_recalls.append(
                recall([r["key"] for r in rows], [k for k, _ in exact_topk(keys, mat, q, K)[:K]])
            )
            return None
        if kind == "hnsw_search":
            q = op[1]
            rows = call(kind, "store", lambda: s.hnsw_search(q.tolist(), top_k=K).collect(), plan="hnsw")
            got = [(r["key"], r["score"]) for r in rows]
            keys, mat = self.model.matrix()
            err = check_approx(got, keys, mat, q, K)
            if err:
                return err
            self.hnsw_recalls.append(
                recall([k for k, _ in got], [k for k, _ in exact_topk(keys, mat, q, K)[:K]])
            )
            return None
        if kind == "get":
            key = self._key(op[1])
            got = call(kind, "store", lambda: s.get(key))
            return self.model.check_get(key, got)
        if kind in ("put_new", "put_overwrite"):
            key = op[1] if kind == "put_new" else self._key(op[1])
            vec, meta = op[2], {"cat": op[3]}
            call(kind, "store", lambda: s.put(key, vec.tolist(), meta))
            self.model.put(key, vec, meta)
            return None
        if kind == "delete":
            key = self._key(op[1])
            call(kind, "store", lambda: s.delete(key))
            self.model.delete(key)
            return None
        if kind == "put_batch":
            _, new_keys, vecs, cats, ranks = op
            live = self.model.live_keys()
            keys = list(new_keys) + [live[r % len(live)] for r in ranks]
            df = self._records(keys, vecs, cats)
            call(kind, "store", lambda: s.put_batch(df, auto_index=True))
            for k, v, c in zip(keys, vecs, cats):
                self.model.put(k, v, {"cat": c})
            return None
        raise ValueError(f"unknown op {kind}")

    def finish(self) -> str | None:
        """A fresh VectorStore over the same root must resolve to the
        model's state."""
        from distributed_vector_database_spark.store import VectorStore

        fresh = VectorStore(self.spark, self.root, dim=DIM)
        rows = [r.asDict() for r in fresh.scan().collect()]
        return self.model.check_state(rows)

    def user_bytes(self) -> int:
        """Logical bytes of the live records: key, vector, metadata."""
        total = 0
        for key, (vec, meta) in self.model.rows.items():
            total += len(key.encode()) + 8 * len(vec)
            total += sum(len(k.encode()) + len(v.encode()) for k, v in meta.items())
        return total

    def metrics(self) -> dict:
        r = self.rec
        return {
            "get_p50_ms": (r.p50("get"), "ms"),
            "search_p50_ms": (r.p50("search", "search_filtered"), "ms"),
            "ivf_p50_ms": (r.p50("index_search"), "ms"),
            "hnsw_p50_ms": (r.p50("hnsw_search"), "ms"),
            "put_p50_ms": (r.p50("put_new", "put_overwrite", "delete"), "ms"),
            "put_batch_p50_ms": (r.p50("put_batch"), "ms"),
            "read_p90_ms": (r.p90(*self.reads), "ms"),
            "write_p90_ms": (r.p90(*self.writes), "ms"),
            "bytes_per_user_byte": (dir_bytes(self.root) / self.user_bytes(), "ratio"),
            "recall_at_10": (statistics.mean(self.ivf_recalls + self.hnsw_recalls), "ratio"),
            "ivf_recall_at_10": (statistics.mean(self.ivf_recalls), "ratio"),
            "hnsw_recall_at_10": (statistics.mean(self.hnsw_recalls), "ratio"),
        }

    def layer_metrics(self) -> dict:
        r = self.rec
        out = {f"store.{op}.ms": (r.p50(op), "ms") for op in ("get", "search", "search_filtered", "index_search", "hnsw_search", "delete", "put_batch")}
        out["store.put.ms"] = (r.p50("put_new", "put_overwrite"), "ms")
        out["store.compact.ms"] = (statistics.median(self.compact_ms) if self.compact_ms else 0.0, "ms")
        out["store.compactions"] = (self.compactions, "count")
        out["store.compact_stall_ms"] = (sum(self.compact_ms), "ms")
        out["store.log_files_at_read"] = (statistics.median(self.log_files_at_read), "count")
        out["store.bytes_on_disk"] = (dir_bytes(self.root), "bytes")
        out["store.ingest_s"] = (self.build["ingest_s"], "s")
        out["store.rebuild_index_s"] = (self.build["rebuild_index_s"], "s")
        out["hnsw.rebuild_s"] = (self.build["rebuild_hnsw_index_s"], "s")
        out["ann.cells_probed"] = (statistics.mean(self.cells), "count")
        out["ann.rows_scanned_per_result"] = (statistics.mean(self.rows_scanned), "ratio")
        return out


# -- dedup_pipeline -------------------------------------------------------------

DEDUP_PASS = ("minhash_lsh_pairs", "simhash_pairs", "dedup_clusters", "embedding_near_dup")
COSINE_T = 0.95


class DedupPipeline(Workload):
    """The batch LLM-data path: candidate pairs, clusters, embedding dups."""

    name = "dedup_pipeline"

    def __init__(self, spark, workdir, inputs, rec):
        super().__init__(spark, workdir, inputs, rec)
        self.last: dict = {}

    def _frames(self, texts, emb):
        base = self._tmp_path("docs")
        ids = pa.array(range(len(texts)), pa.int64())
        write_parquet(base + "/docs", pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())}), files=cores())
        write_parquet(base + "/emb", pa.table({"vec_id": ids, "embedding": pa.array(list(emb), VEC)}), files=cores())
        return self.spark.read.parquet(base + "/docs"), self.spark.read.parquet(base + "/emb")

    def setup(self) -> None:
        inp = self.inputs
        self.docs, self.emb = self._frames(inp.texts, inp.embeddings)
        self.ids_df = self.docs.select("doc_id")
        self.n = len(inp.texts)
        sure, edge = cosine_pairs(inp.embeddings, COSINE_T)
        self.cos_sure, self.cos_edge = sure, sure | edge

    def warmup(self, ops) -> None:
        """One pass over a small slice of the corpus warms the Python
        workers and code paths every op uses."""
        inp = self.inputs
        m = max(64, self.n // 16)
        saved = (self.docs, self.emb, self.ids_df, self.n, self.cos_sure, self.cos_edge)
        self.docs, self.emb = self._frames(inp.texts[:m], inp.embeddings[:m])
        self.ids_df, self.n = self.docs.select("doc_id"), m
        sure, edge = cosine_pairs(inp.embeddings[:m], COSINE_T)
        self.cos_sure, self.cos_edge = sure, sure | edge
        for op in DEDUP_PASS:
            t = time.perf_counter()
            err = self.run((op,), record=False)
            print(f"warm-up {op} {time.perf_counter() - t:.2f}s", file=sys.stderr)
            if err:
                raise RuntimeError(f"warm-up {op} failed: {err}")
        self.docs, self.emb, self.ids_df, self.n, self.cos_sure, self.cos_edge = saved
        self.reset()

    def reset(self) -> None:
        self.last.clear()

    def run(self, op, record: bool = True) -> str | None:
        from distributed_vector_database_spark.operators import dedup

        kind = op[0]
        call = self.rec.call if record else (lambda _op, _layer, fn: fn())
        if kind == "minhash_lsh_pairs":
            rows = call(kind, "dedup", lambda: dedup.minhash_lsh_pairs(self.docs).collect())
            return self._pairs("minhash", rows)
        if kind == "simhash_pairs":
            rows = call(kind, "dedup", lambda: dedup.simhash_pairs(self.docs).collect())
            return self._pairs("simhash", rows)
        if kind == "dedup_clusters":
            pairs = sorted(self.last["minhash"] | self.last["simhash"])
            path = self._tmp_path("pairs")
            write_parquet(
                path,
                pa.table({"id_a": pa.array([a for a, _ in pairs], pa.int64()), "id_b": pa.array([b for _, b in pairs], pa.int64())}),
            )
            pdf = self.spark.read.parquet(path)
            rows = call(kind, "dedup", lambda: dedup.dedup_clusters(self.ids_df, pdf, id_col="doc_id").collect())
            reps = {r["id"]: r["rep_id"] for r in rows}
            if len(reps) != len(rows):
                return "dedup_clusters returned an id twice"
            self.last["reps"] = reps
            return check_clusters(range(self.n), pairs, reps)
        if kind == "embedding_near_dup":
            rows = call(kind, "dedup", lambda: dedup.embedding_near_dup(self.emb, threshold=COSINE_T).collect())
            got = {(r["id_a"], r["id_b"]) for r in rows}
            if len(got) != len(rows) or not self.cos_sure <= got <= self.cos_edge:
                return f"embedding_near_dup: {len(self.cos_sure - got)} pairs missing, {len(got - self.cos_edge)} unexpected"
            return None
        raise ValueError(f"unknown op {kind}")

    def _pairs(self, name: str, rows) -> str | None:
        pairs = {(r["id_a"], r["id_b"]) for r in rows}
        if len(pairs) != len(rows):
            return f"{name}: duplicate pairs"
        bad = [p for p in pairs if not (0 <= p[0] < p[1] < self.n)]
        if bad:
            return f"{name}: invalid pair {bad[0]}"
        self.last[name] = pairs
        return None

    def dup_recall(self) -> float:
        reps = self.last["reps"]
        dup_of = self.inputs.dup_of
        return sum(reps[d] == reps[s] for d, s in dup_of.items()) / len(dup_of)

    def pair_precision(self) -> tuple[int, float]:
        """Candidates (minhash ∪ simhash) and the share that join two docs
        of one planted group (a source and its copies, chains included)."""
        root = {}
        for d in self.inputs.dup_of:
            s = d
            while s in self.inputs.dup_of:
                s = self.inputs.dup_of[s]
            root[d] = s
        cand = self.last["minhash"] | self.last["simhash"]
        true = sum(root.get(a, a) == root.get(b, b) for a, b in cand)
        return len(cand), (true / len(cand) if cand else 0.0)

    def passes(self) -> list[float]:
        order = self.rec.order
        out = []
        for i in range(0, len(order) - len(DEDUP_PASS) + 1, len(DEDUP_PASS)):
            out.append(sum(ms for _, ms in order[i : i + len(DEDUP_PASS)]))
        return out

    def metrics(self) -> dict:
        return {
            "docs_per_s": (self.n / (statistics.median(self.passes()) / 1000.0), "docs/s"),
            "dup_recall": (self.dup_recall(), "ratio"),
        }

    def layer_metrics(self) -> dict:
        r = self.rec
        n_cand, prec = self.pair_precision()
        out = {
            "dedup.minhash_pairs_s": (r.p50("minhash_lsh_pairs") / 1000.0, "s"),
            "dedup.simhash_pairs_s": (r.p50("simhash_pairs") / 1000.0, "s"),
            "dedup.clusters_s": (r.p50("dedup_clusters") / 1000.0, "s"),
            "dedup.embedding_near_dup_s": (r.p50("embedding_near_dup") / 1000.0, "s"),
            "dedup.candidate_pairs": (n_cand, "count"),
            "dedup.pair_precision": (prec, "ratio"),
        }
        jobs = [m["jobs"] for m in r.spark_ops.get("dedup_clusters", [])]
        if jobs:
            out["dedup.clusters.jobs"] = (statistics.median(jobs), "count")
        return out


WORKLOADS = {w.name: w for w in (StoreMixed, DedupPipeline)}
