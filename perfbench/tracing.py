"""Timing and tracing from outside the library.

`Recorder` times every call the loop makes into the library. Untraced, it
only reads the clock around each call. Traced, it also
- runs each call under its own Spark job group and, after the call has
  returned (outside the timed region), reads that group's jobs and stages
  from the driver's status store: task count, executor CPU, GC, shuffle,
  spill, task-time quantiles, and the wall time not covered by any job
  (`driver_ms`: planning, file listing, Python);
- records session residue (cached RDD blocks and their storage) after
  each call;
- splits each call's wall time among library modules (`attribute`):
  driver time goes to the innermost module span open at that instant,
  Spark job time to the module whose span started the job or, for the
  jobs that force the lazy plan an op returns, to the module that
  builds that plan (`plan=` of `Recorder.call`).
Module spans inside the store come from rebinding the module attributes
`VectorStore` calls (`store.apply_changelog`, ...) for the traced run
only; see `patch_library`.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process from /proc, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Spans:
    """Nested spans per layer: intervals, total time and call counts."""

    def __init__(self):
        self._depth = 0
        self.total_ms: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        # (layer, depth, start, end) in epoch ms, the clock Spark stamps
        # its jobs with; taken per call by `take`
        self.events: list[tuple[str, int, float, float]] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        t = time.perf_counter()
        wall0 = time.time() * 1000.0
        self._depth += 1
        try:
            yield
        finally:
            dur = time.perf_counter() - t
            self._depth -= 1
            self.events.append((layer, self._depth, wall0, wall0 + dur * 1000.0))
            self.total_ms[layer] += dur * 1000.0
            self.calls[layer] += 1

    def take(self) -> list[tuple[str, int, float, float]]:
        out, self.events = self.events, []
        return out

    def patch(self, module, attr: str, layer: str) -> None:
        """Rebind `module.attr` to a span-recording wrapper (undone by
        `unpatch`)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def unpatch(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)


def patch_library(spans: Spans) -> None:
    """Spans for the modules `VectorStore` calls during the loop. Each
    rebinding targets the name the caller looks up at call time:
    `store.py` imported the first four names at module level, and the
    ANN and HNSW helpers are imported inside the store's methods, so
    their home-module attributes are what those methods see."""
    from distributed_vector_database_spark import store
    from distributed_vector_database_spark.operators import ann, hnsw

    spans.patch(store, "apply_changelog", "changelog")
    spans.patch(store, "latest_version", "compaction")
    spans.patch(store, "local_df", "localrel")
    spans.patch(store, "knn_exact", "knn")
    spans.patch(ann, "ivf_read_probe", "ann")
    spans.patch(hnsw, "hnsw_read_search", "hnsw")
    spans.patch(hnsw, "hnsw_append", "hnsw")


def attribute(events, jobs, plan: str) -> dict[str, float]:
    """Split one call's wall time (ms) among modules. `events` are the
    call's spans (layer, depth, start, end), the outermost at depth 0;
    `jobs` are its Spark jobs' (start, end). Each instant goes to the
    innermost open span, except that job time under no inner span (the
    collect that forces the plan the op returned) goes to `plan`."""
    cuts = sorted({t for _, _, a, b in events for t in (a, b)} | {t for a, b in jobs for t in (a, b)})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [(depth, layer) for layer, depth, s, e in events if s <= mid < e]
        if not open_:
            continue
        depth, layer = max(open_)
        if depth == 0 and any(s <= mid < e for s, e in jobs):
            layer = plan
        out[layer] += b - a
    return out


class Recorder:
    """Times library calls; when traced, also collects Spark metrics."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.samples: dict[str, list[float]] = defaultdict(list)  # op -> ms
        self.order: list[tuple[str, float]] = []  # (op, ms) in call order
        self.spans = Spans()
        self.spark_ops: dict[str, list[dict]] = defaultdict(list)
        self.stage_medians: list[float] = []
        self.stage_maxes: list[float] = []
        self.residue: list[tuple[int, float]] = []
        self.layer_ms: dict[str, float] = defaultdict(float)  # from `attribute`
        self._jobs: list[int] = []  # the last traced call's job ids
        self._n = 0
        self._gw = spark.sparkContext._gateway

    def call(self, op: str, layer: str, fn, plan: str | None = None):
        """Run `fn()` (which must force the work, e.g. collect) as one
        timed op inside a span of `layer`, the module it calls; `plan` is
        the module that builds the plan `fn` forces (default `layer`).
        Returns `fn()`'s result."""
        sc = self.spark.sparkContext
        group = None
        if self.traced:
            self._n += 1
            group = f"perfbench-{self._n}"
            sc.setJobGroup(group, op, False)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.spans.span(layer):
                out = fn()
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            wall1 = time.time()
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.samples[op].append(ms)
        self.order.append((op, ms))
        events = self.spans.take()
        if self.traced:
            metrics, jobs = self._job_metrics(group, wall0 * 1000, wall1 * 1000)
            self.spark_ops[op].append(metrics)
            for name, t in attribute(events, jobs, plan or layer).items():
                self.layer_ms[name] += t
            self.residue.append(self._residue())
        return out

    # -- traced-only collection (runs after the timed region) ---------------

    def _job_metrics(self, group: str, t0_ms: float, t1_ms: float) -> tuple[dict, list]:
        """(Spark metrics of the group's jobs, their (start, end) in
        epoch ms, clipped to the call)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = [int(j) for j in sc.statusTracker().getJobIdsForGroup(group)]
        self._jobs = job_ids
        stage_ids: set[int] = set()
        intervals = []
        for j in job_ids:
            jd = store.job(j)
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.length()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((max(t0_ms, sub.get().getTime()), min(t1_ms, end)))
        covered = 0.0
        last = t0_ms
        for a, b in sorted(intervals):  # union of job intervals
            a = max(a, last)
            if b > a:
                covered += b - a
                last = b
        out = dict(jobs=len(job_ids), tasks=0, exec_cpu_ms=0.0, exec_run_ms=0.0,
                   gc_ms=0.0, shuffle_bytes=0, spill_bytes=0,
                   driver_ms=max(0.0, (t1_ms - t0_ms) - covered))
        qs = self._gw.new_array(self._gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        empty = self._gw.jvm.java.util.ArrayList()
        for sid in stage_ids:
            attempts = store.stageData(sid, False, empty, True, qs)
            for a in range(attempts.length()):
                st = attempts.apply(a)
                if st.executorRunTime() == 0 and st.executorCpuTime() == 0:
                    continue  # skipped stage (its output was reused)
                out["tasks"] += int(st.numCompleteTasks())
                out["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                out["exec_run_ms"] += float(st.executorRunTime())
                out["gc_ms"] += float(st.jvmGcTime())
                out["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                dist = st.taskMetricsDistributions()
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    self.stage_medians.append(float(run.apply(0)))
                    self.stage_maxes.append(float(run.apply(1)))
        return out, intervals

    def partitioned_scans(self) -> tuple[int, int]:
        """(partitions read, rows read) by the partitioned file scans of
        the last traced call, from the SQL plan metrics of the queries
        that ran its jobs."""
        gw = self._gw
        conv = gw.jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        want = set(self._jobs)
        parts = rows = 0
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if not want & {int(j) for j in conv.asJava(ex.jobs().keySet())}:
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
                m = {}
                for metric in conv.asJava(node.metrics()):
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        m[metric.name()] = v.get()
                if "number of partitions read" in m:
                    parts += int(m["number of partitions read"].replace(",", ""))
                    rows += int(m["number of output rows"].replace(",", ""))
        return parts, rows

    def _residue(self) -> tuple[int, float]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(int(i.numCachedPartitions()) for i in infos)
        size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return blocks, size / 2**20

    # -- summaries ----------------------------------------------------------

    def all_ms(self, ops=()) -> list[float]:
        """Call times in ms, of the given op types or of all calls."""
        return [ms for op, ms in self.order if not ops or op in ops]

    def p50(self, *ops) -> float:
        return statistics.median(self.all_ms(ops))

    def p90(self, *ops) -> float:
        return statistics.quantiles(self.all_ms(ops), n=10, method="inclusive")[-1]

    def spark_summary(self) -> dict:
        """Per-op-type Spark metrics (median per call) and loop totals."""
        per_op = {}
        for op, rows in self.spark_ops.items():
            per_op[op] = {
                key: statistics.median(r[key] for r in rows)
                for key in ("jobs", "tasks", "exec_cpu_ms", "shuffle_bytes", "driver_ms")
            }
        rows = [r for rs in self.spark_ops.values() for r in rs]
        total = {
            key: sum(r[key] for r in rows)
            for key in ("jobs", "tasks", "exec_cpu_ms", "exec_run_ms", "gc_ms",
                        "shuffle_bytes", "spill_bytes", "driver_ms")
        }
        return {"per_op": per_op, "total": total, "calls": len(rows)}


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus its gateway JVM."""
    return vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
