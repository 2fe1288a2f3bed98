"""VectorStore — the user-facing facade with the reference's verb set.

Maps the reference's CLI/RPC surface (src/cli/main_cli.py:14-218:
put / get / delete / search / list; coordinator handlers
src/coordinator/handler.py:117-228) onto a directory-backed,
change-log-structured Parquet store:

    store = VectorStore(spark, "/data/my_store", dim=64)
    store.put("k1", vec, {"type": "image"})          # O1 upsert
    store.put_batch(df)                               # O21 batch ingest
    store.get("k1")                                   # O3 point lookup
    store.delete("k1")                                # O2 tombstone
    store.search(qvec, top_k=5, filter={"type": "image"}, threshold=1.5)
                                                      # O4/O5/O6 + declared
                                                      #   filter/threshold
    store.compact()                                   # O13/O14 checkpoint
    store.count(), store.scan()                       # get_all_vectors

Layout on disk (the WAL/checkpoint state machine of
src/datanode/handler.py:156-219, as immutable Parquet):

    <root>/changelog/         append-only op rows (op, key, vector,
                              metadata, ts, seq)
    <root>/snapshot/v=N       compacted snapshot versions (versioned.py)
    <root>/index/data/v=N     IVF layout (operators/ann.ivf_write):
                              partitioned by centroid_id, with its
                              quantizer in _quantizer.json
    <root>/index/meta/v=N     build meta of index version N
                              (changelog op count at build)
    <root>/hnsw_index/v=N     HNSW graph layout (operators/hnsw.py)

Reads resolve snapshot ∪ compacted-changelog-tail — exactly the
reference's checkpoint + incremental WAL replay (SURVEY §3.4). At
scale: the changelog is the only window-sorted data; `compact()` folds
it into the next snapshot version (the 200k-put rebuild / 2k-put
checkpoint cadence becomes an explicit batch job). Writes are
append-mode Parquet — single-writer, like the reference's per-node
RLock discipline.

Dimension is validated on every put (src/datanode/handler.py:228-232);
`search(top_k<=0)` falls back to 5 (src/datanode/handler.py:346);
scores are ascending squared-L2 (src/coordinator/handler.py:212).
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

from distributed_vector_database_spark.functions.localrel import local_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_vector_database_spark.config import DEFAULT_TOP_K, OVERFETCH
from distributed_vector_database_spark.operators.changelog import (
    OP_DELETE,
    OP_PUT,
    apply_changelog,
)
from distributed_vector_database_spark.operators.knn import knn_exact
from distributed_vector_database_spark.plans.explain import plan_size_bytes
from distributed_vector_database_spark import versioned

# a module-level name, so a tracer can rebind this module's lookups
from distributed_vector_database_spark.versioned import latest_version

STATE_COLS = ["key", "vector", "metadata", "ts"]
LOG_SCHEMA = (
    "op string, key string, vector array<double>, "
    "metadata map<string,string>, ts long, seq long"
)


class DimensionMismatch(ValueError):
    pass


class VectorStore:
    AUTO_COMPACT_FILES = 64  # log-file count that triggers compaction

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int,
        buffer_rows: int = 1,
        auto_compact_files: int | None = None,
    ):
        """`buffer_rows` > 1 buffers single-record put/delete driver-side
        and writes one parquet file per `buffer_rows` records instead of
        one per call — the small-files fix for chatty ingest (a parquet
        footer per row is metadata-bound at any scale). Reads flush
        automatically, so read-your-writes is preserved; the default 1
        keeps strict write-through.

        `auto_compact_files`: once the changelog accrues this many
        files, the next write folds it into a snapshot (the reference's
        checkpoint-every-2k-puts cadence, src/datanode/handler.py:
        313-317) — a high put rate at buffer_rows=1 otherwise grows an
        unbounded tail of one-row parquet files whose per-file footer
        reads dominate every state() resolution. 0 disables; default
        AUTO_COMPACT_FILES."""
        self.spark = spark
        self.root = root
        self.dim = dim
        self.buffer_rows = max(1, buffer_rows)
        self.auto_compact_files = (
            self.AUTO_COMPACT_FILES
            if auto_compact_files is None
            else int(auto_compact_files)
        )
        self._log_dir = os.path.join(root, "changelog")
        self._snap_dir = os.path.join(root, "snapshot")
        self._seq = 0
        self._buf: list[tuple] = []
        self._compacting = False

    # -- write path ---------------------------------------------------------

    def _append_log(self, rows: list[tuple]) -> None:
        self._buf.extend(rows)
        if len(self._buf) >= self.buffer_rows:
            self.flush()

    def flush(self) -> None:
        """Write buffered single-record ops as one log file."""
        if not self._buf:
            return
        df = local_df(self.spark, self._buf, LOG_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self._log_dir)
        self._buf = []
        self._maybe_auto_compact()

    def _log_file_count(self) -> int:
        try:
            return sum(
                1
                for f in os.listdir(self._log_dir)
                if not f.startswith(("_", "."))
            )
        except FileNotFoundError:
            return 0

    def _maybe_auto_compact(self) -> None:
        """Fold the log into a snapshot once it fragments past
        `auto_compact_files` — state() is unchanged (compaction IS
        replay), only the file layout collapses. One cheap dir listing
        per write; the compaction itself amortizes to O(1) per op.

        The _compacting guard blocks reentrancy: compact() itself
        resolves state (which flushes), and a nested compaction would
        read a pre-compaction snapshot against an already-truncated
        log — silently dropping the in-flight ops."""
        if (
            not self._compacting
            and self.auto_compact_files
            and self._log_file_count() >= self.auto_compact_files
        ):
            self.compact()

    def _next_ts_seq(self) -> tuple[int, int]:
        self._seq += 1
        return int(time.time() * 1000), self._seq

    def put(
        self,
        key: str,
        vector: Sequence[float],
        metadata: dict[str, str] | None = None,
    ) -> None:
        """Upsert one record (O1). Dim-checked like
        src/datanode/handler.py:228-232."""
        vec = [float(v) for v in vector]
        if len(vec) != self.dim:
            raise DimensionMismatch(
                f"vector dimension {len(vec)} != store dimension {self.dim}"
            )
        ts, seq = self._next_ts_seq()
        self._append_log([(OP_PUT, str(key), vec, metadata or {}, ts, seq)])

    def put_batch(self, records: DataFrame, auto_index: bool = True) -> None:
        """Batch ingest (O21): DataFrame with (key, vector[, metadata]).
        Dim-mismatched rows are rejected wholesale (fail-fast, unlike the
        reference's silent per-file skip at clip/db_operation.py:100-121).

        `auto_index`: when an IVF index exists, the batch is also routed
        into it (index_append — O(batch), no retrain), mirroring the
        reference's put path which inserts into the live HNSW index
        immediately (src/datanode/handler.py:253-261); the batch is ANN-
        searchable without waiting for a rebuild. False defers to the
        rebuild cadence.

        Log contract: the changelog records ONE row per key per batch —
        duplicate keys within a batch are resolved BEFORE the write
        (unlike the reference's WAL, which appends every op and resolves
        at replay); audit consumers see the batch winner, not every
        attempt. The within-batch "last occurrence wins" rule orders by
        monotonically_increasing_id, which encodes (partition, position)
        — equal to input order only for order-preserving sources (a
        freshly-created or file-read DataFrame); after a shuffle the
        winner among in-batch duplicates is partition-order, i.e.
        effectively arbitrary. Callers that need a specific winner
        should pre-dedup with an explicit ordering column."""
        cols = records.columns
        if "metadata" not in cols:
            records = records.withColumn(
                "metadata", F.create_map().cast("map<string,string>")
            )
        # isNull checked explicitly: F.size(NULL) is NULL, so a null
        # vector would slip past a bare size != dim predicate
        bad = records.filter(
            F.col("vector").isNull() | (F.size("vector") != self.dim)
        ).count()
        if bad:
            raise DimensionMismatch(f"{bad} rows with dimension != {self.dim}")
        ts, seq = self._next_ts_seq()
        # Every row in the batch shares ONE seq from the store counter, so
        # later puts/batches (higher counter) strictly dominate in the
        # (ts desc, seq desc) last-write-wins order even within the same
        # millisecond. An unbounded per-row seq (e.g. built from
        # monotonically_increasing_id, whose value embeds partitionId*2^33)
        # would leap ahead of every later write's counter. Duplicate keys
        # WITHIN the batch are resolved here — last occurrence in input
        # order wins, tracked by a per-row monotonic id that never leaves
        # this write — so the shared seq stays unambiguous.
        from pyspark.sql.window import Window as _W

        dedup_w = _W.partitionBy("key").orderBy(F.desc("__mid"))
        log = (
            records.withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__rn", F.row_number().over(dedup_w))
            .filter(F.col("__rn") == 1)
            .select(
                F.lit(OP_PUT).alias("op"),
                F.col("key").cast("string").alias("key"),
                F.col("vector").cast("array<double>").alias("vector"),
                F.col("metadata").cast("map<string,string>").alias("metadata"),
                # cast explicitly: F.lit(small_int) is int32, but the
                # single-record path writes int64 (LOG_SCHEMA) — mixed
                # physical types in one changelog dir fail the read
                F.lit(ts).cast("long").alias("ts"),
                F.lit(seq).cast("long").alias("seq"),
            )
        )
        log.write.mode("append").parquet(self._log_dir)
        self._maybe_auto_compact()
        if auto_index:
            data_dir, _ = self._index_dirs()
            if latest_version(data_dir) >= 0:
                self.index_append(records.select("key", "vector"))
            hnsw_dir = os.path.join(self.root, "hnsw_index")
            hv = latest_version(hnsw_dir)
            if hv >= 0:
                # index-on-put for the HNSW kind too: insert the batch
                # into the live graph (the reference's add_items path,
                # src/datanode/handler.py:253-261) — searchable without
                # waiting for a rebuild
                from distributed_vector_database_spark.operators.hnsw import (
                    hnsw_append,
                )

                hnsw_append(
                    self.spark,
                    f"{hnsw_dir}/v={hv}",
                    records.select("key", "vector"),
                    key_col="key",
                    vec_col="vector",
                )

    def delete(self, key: str) -> None:
        """Tombstone a key (O2)."""
        ts, seq = self._next_ts_seq()
        self._append_log([(OP_DELETE, str(key), None, None, ts, seq)])

    def import_wal(self, path: str) -> int:
        """Migrate a reference engine's wal/ directory into this store's
        changelog (O11 interop, src/utils/wal_manager.py:116-182): after
        this, state()/get()/search() serve the replayed state with no
        separate replay step — compaction IS replay here.

        Imported rows keep their historical epoch-millis timestamps and
        a per-line seq that preserves the reference's file+line replay
        order. Last-write-wins orders by ts FIRST, and live writes
        stamp current-time ts >= any historical WAL entry; for the
        same-millisecond race (importing from a still-active source),
        the live seq counter is bumped past the largest imported seq so
        a subsequent put always wins the (ts, seq) tie-break too.
        Returns the number of imported ops."""
        from distributed_vector_database_spark.sources.wal import read_wal_json

        # one JSON scan: cache, then a single agg action covers both the
        # dimension validation and the returned count
        log = read_wal_json(self.spark, path).persist()
        try:
            stats = log.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (
                        (F.col("op") == OP_PUT)
                        & (
                            F.col("vector").isNull()
                            | (F.size("vector") != self.dim)
                        )
                    ).cast("long")
                ).alias("bad"),
                F.max("seq").alias("max_seq"),
            ).collect()[0]
            if stats["bad"]:
                raise DimensionMismatch(
                    f"{stats['bad']} WAL PUT rows with dimension != {self.dim}"
                )
            rows = log.select(
                "op",
                F.col("key").cast("string").alias("key"),
                F.col("vector").cast("array<double>").alias("vector"),
                F.col("metadata").cast("map<string,string>").alias("metadata"),
                F.unix_millis("ts").alias("ts"),
                F.col("seq").cast("long").alias("seq"),
            )
            rows.write.mode("append").parquet(self._log_dir)
        finally:
            log.unpersist()
        if stats["max_seq"] is not None:
            self._seq = max(self._seq, int(stats["max_seq"]) + 1)
        self._maybe_auto_compact()
        return int(stats["n"])

    # -- state resolution ---------------------------------------------------

    def _base(self) -> DataFrame:
        v = latest_version(self._snap_dir)
        if v >= 0:
            return self.spark.read.parquet(f"{self._snap_dir}/v={v}")
        return self.spark.createDataFrame(
            [], "key string, vector array<double>, metadata map<string,string>, ts long"
        )

    def _log(self) -> DataFrame:
        self.flush()
        # only an absent (or emptied) log reads as empty: any other read
        # error must raise, or get() would serve the snapshot without the
        # unread writes and the next compact() would drop them for good
        if self._log_file_count() == 0:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return self.spark.read.parquet(self._log_dir)

    def state(self) -> DataFrame:
        """Current state = snapshot ∪ compacted change-log tail
        (recovery semantics of src/datanode/handler.py:181-219 as a pure
        expression)."""
        base = self._base()
        log = self._log()
        if log.isEmpty():
            return base
        return apply_changelog(
            base, log.select("op", *STATE_COLS, "seq"), seq_col="seq"
        ).select(*STATE_COLS)

    def state_as_of(self, ts: int) -> DataFrame:
        """Time-travel read — the store form of
        changelog.compact(until_ts): the table state AS OF `ts`
        (inclusive, same clock as the log's ts column).

        Exactness contract: EXACT for any cutoff at-or-after the last
        compact (the latest snapshot already predates the cutoff, so
        replaying the log tail filtered to ts <= cutoff reconstructs
        the state op-for-op). Cutoffs BEFORE the last compact resolve
        to the newest RETAINED snapshot version whose max ts fits —
        compact() folds and truncates the log, so intra-snapshot
        history is gone by design; granularity there is the snapshot
        boundary, the same retention contract vacuum(keep_last) /
        diff_versions already expose."""
        self.flush()
        base = self._base()
        row = base.agg(F.max("ts").alias("m")).first()
        base_max = row["m"] if row else None
        if base_max is None or base_max <= ts:
            log = self._log().filter(F.col("ts") <= ts)
            if log.isEmpty():
                return base.select(*STATE_COLS)
            return apply_changelog(
                base, log.select("op", *STATE_COLS, "seq"), seq_col="seq"
            ).select(*STATE_COLS)
        for v in reversed(versioned.committed_versions(self._snap_dir)[:-1]):
            cand = self.spark.read.parquet(f"{self._snap_dir}/v={v}")
            mx = cand.agg(F.max("ts").alias("m")).first()["m"]
            if mx is None or mx <= ts:
                return cand.select(*STATE_COLS)
        return self.spark.createDataFrame(
            [],
            "key string, vector array<double>, "
            "metadata map<string,string>, ts long",
        )

    # -- read path ----------------------------------------------------------

    def get(self, key: str) -> dict | None:
        """Point lookup (O3); None after delete
        (src/datanode/handler.py:418-421)."""
        rows = self.state().filter(F.col("key") == str(key)).collect()
        if not rows:
            return None
        r = rows[0]
        return {"key": r["key"], "vector": list(r["vector"]), "metadata": dict(r["metadata"] or {})}

    def search(
        self,
        query_vector: Sequence[float],
        top_k: int = DEFAULT_TOP_K,
        filter: dict[str, str] | None = None,  # noqa: A002 - reference name
        threshold: float | None = None,
        include_payload: bool = False,
    ) -> DataFrame:
        """k-NN over live state (O4-O7), with the declared-but-dead
        metadata filter and threshold implemented for real
        (src/vector_db.thrift:26-27). Ascending squared-L2 scores.

        `include_payload=True` returns vector+metadata like the
        reference's SearchResult.vectors (src/datanode/handler.py:
        382-399) — but hydrated by a join AFTER the top-k, so only k
        rows ever carry the payload. The reference hydrates every
        candidate before truncation (src/datanode/handler.py:399); at
        512-d that difference is the scan's entire payload bandwidth."""
        state = self.state()
        pred = None
        for k_, v_ in (filter or {}).items():
            clause = F.col("metadata")[k_] == v_
            pred = clause if pred is None else (pred & clause)
        top = knn_exact(
            state,
            query_vector,
            k=top_k,
            key_col="key",
            vec_col="vector",
            predicate=pred,
            threshold=threshold,
            extra_cols=(),
        )
        if not include_payload:
            return top
        return (
            top.join(state.select("key", "vector", "metadata"), "key")
            .select("key", "score", "vector", "metadata")
            .orderBy("score", "key")
        )

    def scan(self) -> DataFrame:
        """Full scan (the declared get_all_vectors RPC,
        src/vector_db.thrift:86)."""
        return self.state()

    def count(self) -> int:
        return self.state().count()

    def stats(self) -> dict:
        """Operational snapshot of the store's physical state — the
        numbers an operator watches to decide compaction/rebuild
        cadence (the engine-side analog of a serving node's health
        endpoint): live key count, changelog fragmentation, snapshot /
        index versions, pending buffered ops."""
        data_dir, _ = self._index_dirs()
        return {
            "n_keys": self.count(),
            "log_files": self._log_file_count(),
            "buffered_ops": len(self._buf),
            "snapshot_version": latest_version(self._snap_dir),
            "index_version": latest_version(data_dir),
            "dim": self.dim,
        }

    # -- ANN index maintenance ---------------------------------------------
    #
    # The reference pairs its KV store with a per-node HNSW index and
    # REBUILDS it from store state on a fixed ingest cadence
    # (every 200k puts, src/datanode/handler.py:91-120,313-314), with
    # deleted ids filtered out of every search (handler.py:378-380).
    # Here the index is the IVF centroid-partitioned parquet layout
    # (ann.ivf_write, quantizer included): rebuild_index() retrains the
    # coarse quantizer from compacted state and rewrites the layout;
    # index_append() assigns a new batch to the EXISTING centroids
    # with ann.ivf_assign (no retrain, cost O(batch) — the incremental
    # path, same contract as minhash_lsh_pairs_incremental);
    # index_search() probes the pruned partitions and semi-joins live
    # state so tombstoned keys never surface. A key re-put after
    # indexing returns its indexed vector until the next
    # index_append/rebuild — the same staleness window the reference's
    # rebuild cadence accepts.

    REBUILD_EVERY = 200_000  # reference cadence (src/datanode/handler.py:313)

    def maybe_rebuild_index(
        self, threshold: int | None = None, n_centroids: int = 16
    ) -> int | None:
        """The reference's rebuild trigger (src/datanode/handler.py:
        91-120,313-314: re-index once pending ops cross a count) as an
        explicit call: rebuilds when the un-indexed changelog has ≥
        `threshold` ops (default REBUILD_EVERY). Returns the new index
        version, or None if under threshold. Call after large ingests;
        a scheduler owns the cadence in production."""
        t = self.REBUILD_EVERY if threshold is None else int(threshold)
        log = self._log()
        total_ops = 0 if log.isEmpty() else log.count()
        base = self._ops_at_last_build()
        # a compaction since the last build truncates the log, making the
        # recorded baseline stale — every surviving log op is then new
        pending = total_ops if total_ops < base else total_ops - base
        if pending < t:
            return None
        return self.rebuild_index(n_centroids=n_centroids)

    def _index_dirs(self) -> tuple[str, str]:
        return (
            os.path.join(self.root, "index", "data"),
            os.path.join(self.root, "index", "meta"),
        )

    def _ops_at_last_build(self) -> int:
        """Changelog op count when the index was last (re)built — the
        baseline for the rebuild cadence. 0 when no index exists or the
        log was compacted away since (compaction resets the log, so a
        fresh count correctly measures new ops only)."""
        data_dir, meta_dir = self._index_dirs()
        v = latest_version(data_dir)
        if v < 0:
            return 0
        row = self.spark.read.parquet(f"{meta_dir}/v={v}").collect()[0]
        return int(row["log_ops_at_build"])

    def rebuild_index(
        self, n_centroids: int | str = 16, seed: int = 42
    ) -> int:
        """Full index rebuild from compacted state (O14 analog for the
        ANN side). Writes version v+1 of the centroid-partitioned layout
        with its quantizer, then the build meta, and commits v+1 only
        once both are written; returns the new version.

        n_centroids="auto" sizes the quantizer from the corpus
        (ivf_build_auto: sqrt-n cells, sampled training, fat-cell
        splitting) instead of a fixed guess."""
        from distributed_vector_database_spark.operators.ann import (
            ivf_build,
            ivf_build_auto,
            ivf_write,
        )

        data_dir, meta_dir = self._index_dirs()
        log = self._log()
        log_ops = 0 if log.isEmpty() else log.count()
        state = self.state().filter(F.col("vector").isNotNull())
        vectors = state.select("key", F.col("vector").alias("embedding"))
        if n_centroids == "auto":
            centroids, assigned, _ = ivf_build_auto(vectors, seed=seed)
        else:
            centroids, assigned = ivf_build(
                vectors, n_centroids=n_centroids, seed=seed
            )
        v = latest_version(data_dir) + 1
        # igen = index generation (epoch ms at write): lets index_search
        # deterministically prefer the newest row when appends re-wrote a key
        ivf_write(
            assigned.withColumn("igen", F.lit(int(time.time() * 1000))),
            f"{data_dir}/v={v}",
            centroids=centroids,
        )
        local_df(
            self.spark,
            [(log_ops, int(time.time() * 1000))],
            "log_ops_at_build long, built_at_ms long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{meta_dir}/v={v}")
        versioned.commit(data_dir, v)
        return v

    def _index_layout(self) -> tuple[str, list[tuple[int, list[float]]]]:
        """(path, quantizer) of the newest committed IVF layout."""
        from distributed_vector_database_spark.operators.ann import (
            ivf_read_quantizer,
        )

        data_dir, _ = self._index_dirs()
        v = latest_version(data_dir)
        if v < 0:
            raise ValueError("no index built; call rebuild_index() first")
        return f"{data_dir}/v={v}", ivf_read_quantizer(f"{data_dir}/v={v}")

    def index_append(self, records: DataFrame) -> None:
        """Incremental index maintenance: route a (key, vector) batch to
        the EXISTING coarse quantizer and append to the partitioned
        layout — no retrain, no touch of already-indexed rows. The
        batch is searchable immediately; centroid quality degrades only
        as the corpus distribution drifts, which the rebuild cadence
        absorbs (the reference's insert-then-rebuild-at-200k shape)."""
        from distributed_vector_database_spark.operators.ann import ivf_assign

        path, centroids = self._index_layout()
        batch = records.select(
            F.col("key").cast("string").alias("key"),
            F.col("vector").cast("array<double>").alias("embedding"),
        ).filter(F.col("embedding").isNotNull())
        assigned = ivf_assign(batch, centroids).withColumn(
            "igen", F.lit(int(time.time() * 1000))
        )
        assigned.write.mode("append").partitionBy("centroid_id").parquet(path)

    def index_search(
        self,
        query_vector: Sequence[float],
        top_k: int = DEFAULT_TOP_K,
        nprobe: int = 4,
        predicate=None,
        selectivity: float | None = None,
    ) -> DataFrame:
        """ANN search over the persisted IVF layout: driver ranks the
        (tiny) quantizer, the scan is partition-PRUNED to nprobe
        directories, and candidates are semi-joined against live state
        so deleted keys are excluded (src/datanode/handler.py:378-380)
        — never a full-corpus scan.

        `predicate` (Column over state's key/metadata) = FILTERED ANN:
        the live-state semi-join carries the filter, and the probe
        widens with the filter's selectivity (ann.ivf_probe), so the
        candidate depth survives while scanned-row cost stays ~ nprobe
        x cell_size, because the filter prunes each probed cell by the
        same factor. Pass `selectivity` when known; None estimates it
        with two counts of the resolved state."""
        from distributed_vector_database_spark.operators import ann

        path, centroids = self._index_layout()
        if predicate is not None and selectivity is None:
            selectivity = ann.predicate_selectivity(self.state(), predicate)
        probe_ids = ann.ivf_probe(
            centroids, query_vector, nprobe,
            selectivity=selectivity if predicate is not None else None,
        )
        cand = ann.ivf_read_probe(self.spark, path, probe_ids)
        # a re-put key can sit in several index writes: keep the row from
        # the newest index generation (igen); exact vector freshness for
        # keys re-put WITHOUT an index_append is restored at rebuild
        from pyspark.sql.window import Window as _W

        w = _W.partitionBy("key").orderBy(F.desc("igen"))
        cand = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "igen")
        )
        live = self.state()
        if predicate is not None:
            live = live.filter(predicate)
        cand = cand.join(live.select("key"), "key", "left_semi")
        return knn_exact(
            cand, query_vector, k=top_k, key_col="key", vec_col="embedding",
            extra_cols=(),
        )

    # -- HNSW index (the reference's native index kind) ---------------------
    #
    # The reference's store IS an hnswlib graph fronted by LevelDB
    # (src/datanode/handler.py:46-50); the IVF layout above is the
    # partition-pruned Spark-native alternative. This surface persists
    # the numpy HNSW graph (operators/hnsw.py) with the same versioned
    # lifecycle: rebuild writes v+1, search proposes from the newest
    # graph and re-scores against LIVE state, so deleted keys drop out
    # and re-put keys score on their current vector (the graph's routing
    # staleness lasts until the next rebuild — exactly the reference's
    # insert/rebuild staleness window).

    def rebuild_hnsw_index(
        self, num_shards: int = 8, m: int = 16, ef_construction: int = 128
    ) -> int:
        from distributed_vector_database_spark.operators.hnsw import hnsw_write

        hnsw_dir = os.path.join(self.root, "hnsw_index")
        state = self.state().filter(F.col("vector").isNotNull())
        v = latest_version(hnsw_dir) + 1
        hnsw_write(
            state,
            f"{hnsw_dir}/v={v}",
            num_shards=num_shards,
            key_col="key",
            vec_col="vector",
            m=m,
            ef_construction=ef_construction,
        )
        versioned.commit(hnsw_dir, v)
        return v

    def hnsw_search(
        self,
        query_vector: Sequence[float],
        top_k: int = DEFAULT_TOP_K,
        ef: int | None = None,
        predicate=None,
        filter_overfetch: int = OVERFETCH,
    ) -> DataFrame:
        """ANN search over the persisted HNSW graph: the index PROPOSES
        an over-fetched candidate pool (2k per the reference,
        src/datanode/handler.py:364), live state DISPOSES — semi-join
        drops deleted keys, re-scoring uses current vectors. ef >= shard
        rows makes the proposal exhaustive (exact modulo the live-state
        join).

        `predicate` filters on live-state columns (metadata map /
        key); the proposal widens by `filter_overfetch` ON TOP of the
        base 2x — the reference's filtered-search trick applied to its
        own index type — so a selective filter still fills top_k. A
        highly selective predicate should raise filter_overfetch
        (~1/selectivity), same guidance as index_search."""
        from distributed_vector_database_spark.operators.hnsw import (
            hnsw_read_search,
        )

        hnsw_dir = os.path.join(self.root, "hnsw_index")
        v = latest_version(hnsw_dir)
        if v < 0:
            raise ValueError("no HNSW index built; call rebuild_hnsw_index() first")
        width = OVERFETCH * top_k * (filter_overfetch if predicate is not None else 1)
        cand = hnsw_read_search(
            self.spark,
            f"{hnsw_dir}/v={v}",
            query_vector,
            k=width,
            key_col="key",
            vec_col="vector",
            ef=ef,
        )
        live = self.state().select("key", "vector", "metadata")
        if predicate is not None:
            live = live.filter(predicate)
        fresh = cand.select("key").join(live.select("key", "vector"), "key")
        return knn_exact(
            fresh, query_vector, k=top_k, key_col="key", vec_col="vector",
            extra_cols=(),
        )

    # -- maintenance --------------------------------------------------------

    def export_wal(self, path: str) -> int:
        """The reverse migration (interop out): dump current state as a
        reference-format WAL JSON-lines directory
        (src/utils/wal_manager.py:90-105 field names, epoch-millis
        timestamps) that the reference engine replays with its own
        recovery path. One PUT line per live key — tombstoned keys are
        already gone from state(), so replaying the export yields
        exactly this store's state. Returns the number of exported
        entries."""
        from distributed_vector_database_spark.sources.wal import (
            write_wal_json,
        )

        # store ts is epoch-millis LONG; the WAL writer expects TIMESTAMP
        state = self.state().select(
            F.lit(OP_PUT).alias("op"),
            "key",
            "vector",
            "metadata",
            F.timestamp_millis(F.col("ts")).alias("ts"),
        ).persist()
        try:
            n = int(state.count())
            write_wal_json(state, path)
        finally:
            state.unpersist()
        return n

    def diff_versions(self, v_old: int, v_new: int):
        """Time-travel audit across checkpoint versions (O13): which
        keys were added / deleted / updated between snapshot v_old and
        v_new? Snapshots are immutable parquet, so this is a pure
        key-join of two versioned reads — no WAL replay, no log scan;
        shuffle on key only (both sides are already key-range
        partitioned from compact()'s clustered write, so at scale the
        join co-locates). Values compare by (ts, vector, metadata
        entries sorted by key — maps aren't directly comparable, their
        sorted entry arrays are), so a metadata-only rewrite landing in
        the SAME millisecond as the prior write (seq isn't persisted
        into snapshots) is still classified as updated."""
        a = self.spark.read.parquet(f"{self._snap_dir}/v={v_old}")
        b = self.spark.read.parquet(f"{self._snap_dir}/v={v_new}")
        pa = F.col("__a").isNotNull()
        pb = F.col("__b").isNotNull()
        payload = F.struct(
            "ts", "vector", F.array_sort(F.map_entries("metadata")).alias("md")
        )
        joined = (
            a.select("key", payload.alias("__a"))
            .join(
                b.select("key", payload.alias("__b")),
                "key",
                "full_outer",
            )
        )
        change = (
            F.when(~pa & pb, F.lit("added"))
            .when(pa & ~pb, F.lit("deleted"))
            .when(pa & pb & ~F.col("__a").eqNullSafe(F.col("__b")), F.lit("updated"))
        )
        return (
            joined.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select("key", "change_type")
        )

    def vacuum(self, keep_last: int = 2) -> int:
        """Retention GC: drop snapshot and index versions older than
        the newest `keep_last` committed ones of each. Old versions
        exist only to serve time travel (diff_versions) — at 100 TB
        they are the dominant storage cost, and the reference keeps
        exactly ONE checkpoint (src/datanode/handler.py:160-176
        overwrites the checkpoint path in place); `keep_last`
        generalizes that to a bounded history. Serving reads only the newest version, so
        vacuum never affects query results (pinned in tests). Returns
        the number of version directories removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        data_dir, meta_dir = self._index_dirs()
        return (
            versioned.vacuum(self._snap_dir, keep_last)
            + versioned.vacuum(data_dir, keep_last, siblings=(meta_dir,))
            + versioned.vacuum(os.path.join(self.root, "hnsw_index"), keep_last)
        )

    def compact(self) -> int:
        """Fold the change-log into the next snapshot version
        (O13 checkpoint + O14 rebuild: tombstones physically dropped).
        Returns the new version id.

        The snapshot is written range-partitioned AND sorted by key, so
        every parquet row group carries tight key min/max stats: a point
        lookup (O3) prunes to one file and one row group instead of
        scanning the snapshot — the columnar analog of the reference's
        LevelDB key order. At 100 TB this is what keeps `get` latency
        flat as snapshots grow."""
        self._compacting = True
        try:
            return self._compact_inner()
        finally:
            self._compacting = False

    def _compact_inner(self) -> int:
        new_state = self.state()
        v = latest_version(self._snap_dir) + 1
        # snapshot file count from the optimizer's size estimate (one
        # file per ~maxPartitionBytes), not an RDD-lineage probe; floor 1.
        # The cap scales with the cluster (4 waves), so a join-inflated
        # or unknown estimate can't explode into tiny-file spray
        size = plan_size_bytes(new_state)
        cap = self.spark.sparkContext.defaultParallelism * 4
        n_parts = cap if size is None else max(1, min(size // (128 * 1024 * 1024) + 1, cap))
        (
            new_state.repartitionByRange(n_parts, "key")
            .sortWithinPartitions("key")
            .write.mode("overwrite")
            .parquet(f"{self._snap_dir}/v={v}")
        )
        versioned.commit(self._snap_dir, v)
        # truncate the applied log (the WAL GC of src/utils/wal_manager.py:22-23)
        import shutil

        shutil.rmtree(self._log_dir, ignore_errors=True)
        return v
