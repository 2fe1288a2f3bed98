"""Repo benchmark: one closed-loop client driving the library.

    python3 perfbench/run.py --workload store_mixed --seed 1 --seconds 5 --trace 0

Workloads: store_mixed, dedup_pipeline (see README.md). The
seed makes every input; the library only receives the generated inputs.
The loop runs whole cycles of the workload's op mix until --seconds have
passed, checking every answer against an independent reference model.

--trace 0 prints the end-to-end metrics; --trace 1 first runs the same
loop untraced, then traced, and prints the per-layer metrics together
with the tracing overhead. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the per-workload detail (every metric named in README.md, with units).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout holding the library

# input sizes: "full" is the benchmark, "tiny" is the smoke test's
SIZES = {
    "full": {
        "store_mixed": dict(n_keys=3000, batch_rows=256),
        "dedup_pipeline": dict(n_docs=2000),
    },
    "tiny": {
        "store_mixed": dict(n_keys=300, batch_rows=16),
        "dedup_pipeline": dict(n_docs=300),
    },
}
MAX_CYCLES = 40  # pre-drawn loop cycles; a run stops on time long before

MANIFEST = os.path.join(ROOT, "BENCHMARK.json")
# modules whose share of call time the traced run reports. operators.dedup
# is left out: every dedup_pipeline call is all dedup, a share of 1 by
# construction
LAYERS = ("store", "changelog", "compaction", "localrel", "knn", "ann", "hnsw")


def make_inputs(workload: str, seed: int, size: str):
    """(inputs, warm-up ops, loop cycles) for a workload; all seeded."""
    import inputs as gen

    cfg = SIZES[size][workload]
    if workload == "store_mixed":
        inp = gen.store_inputs(seed, cfg["n_keys"], MAX_CYCLES + 1, cfg["batch_rows"])
        n = len(gen.STORE_CYCLE)
    else:
        from workloads import DEDUP_PASS

        inp = gen.dedup_inputs(seed, cfg["n_docs"])
        return inp, [], [[(op,) for op in DEDUP_PASS]] * MAX_CYCLES
    cycles = [inp.ops[i : i + n] for i in range(0, len(inp.ops), n)]
    first: dict = {}
    for op in cycles[0]:  # one warm-up op per kind, from a cycle never timed
        first.setdefault(op[0], op)
    return inp, list(first.values()), cycles[1:]


def start_session(workdir: str):
    """Spark on local[nproc], with every scratch path inside `workdir`."""
    from workloads import cores

    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from distributed_vector_database_spark.session import get_spark

    spark = get_spark(
        extra_conf={
            # C1 only: a run's JVM lives about a minute, in which C2
            # compiler threads mostly compete with Spark's tasks for the
            # cores (-20% run time). The heap starts at its maximum, so
            # G1 does not resize it at timing-dependent points mid-run.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
            ),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers),
    also when the gateway is already broken."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_loop(wl, cycles, start: int, seconds: float, failures: list) -> tuple[int, int]:
    """Whole cycles from `start` until `seconds` have passed; returns
    (next cycle index, ops attempted)."""
    attempted = 0
    t0 = time.perf_counter()
    i = start
    while i < len(cycles):
        for op in cycles[i]:
            attempted += 1
            try:
                err = wl.run(op)
            except Exception as exc:  # a raising op is a failed op; keep going
                traceback.print_exc(file=sys.stderr)
                err = f"raised {type(exc).__name__}: {exc}"
            if err:
                failures.append(f"cycle {i} {op[0]}: {err}")
        i += 1
        if time.perf_counter() - t0 >= seconds:
            break
    return i, attempted


def loop_metrics(rec) -> dict:
    """End-to-end metrics of one loop, in (value, unit) form."""
    calls = rec.all_ms()
    return {
        "ops_per_s": (len(calls) / (sum(calls) / 1000.0), "ops/s"),
        "call_geomean_ms": (statistics.geometric_mean(calls), "ms"),
        "call_p50_ms": (statistics.median(calls), "ms"),
        "call_p90_ms": (rec.p90(), "ms"),
    }


def layer_report(rec, wl, timings: dict, plain: dict, traced: dict) -> tuple[dict, dict]:
    """(manifest per-layer metrics, workload-specific layer detail)."""
    spark = rec.spark_summary()
    total = spark["total"]
    n = max(1, spark["calls"])
    busy = sum(rec.all_ms())
    detail = dict(wl.layer_metrics())
    out = {
        "session.start_s": (timings["start_s"], "s"),
        "session.warmup_s": (timings["warmup_s"], "s"),
        "session.rdd_blocks_after_op": (max(b for b, _ in rec.residue), "count"),
        "session.storage_mb_after_op": (max(m for _, m in rec.residue), "MB"),
        "spark.jobs_per_call": (total["jobs"] / n, "count"),
        "spark.tasks_per_call": (total["tasks"] / n, "count"),
        "spark.exec_cpu_ms_per_call": (total["exec_cpu_ms"] / n, "ms"),
        "spark.driver_ms_per_call": (total["driver_ms"] / n, "ms"),
        "spark.shuffle_bytes_per_call": (total["shuffle_bytes"] / n, "bytes"),
        "spark.spill_bytes": (total["spill_bytes"], "bytes"),
        "spark.gc_share": (total["gc_ms"] / total["exec_run_ms"] if total["exec_run_ms"] else 0.0, "ratio"),
        "spark.max_task_ms": (max(rec.stage_maxes), "ms"),
        "spark.median_task_ms": (statistics.median(rec.stage_medians), "ms"),
    }
    for layer in LAYERS:
        out[f"{layer}.self_share"] = (rec.layer_ms.get(layer, 0.0) / busy, "ratio")
    out["compaction.latest_version.calls"] = (rec.spans.calls.get("compaction", 0), "count")
    for name in ("store.compactions", "store.log_files_at_read", "store.bytes_on_disk",
                 "ann.cells_probed", "ann.rows_scanned_per_result",
                 "dedup.candidate_pairs", "dedup.pair_precision", "dedup.clusters.jobs"):
        if name in detail:
            out[name] = detail[name]
    for name in ("ops_per_s", "call_geomean_ms"):
        out[f"trace.overhead.{name}"] = (traced[name][0] / plain[name][0] - 1.0, "ratio")
    # time per call of the driver-side functions that build lazy plans,
    # and Spark work per op type
    for layer, key in (("changelog", "changelog.apply.plan_ms"), ("localrel", "localrel.local_df.ms"), ("knn", "knn.plan_ms")):
        c = rec.spans.calls.get(layer, 0)
        if c:
            detail[key] = (rec.spans.total_ms[layer] / c, "ms")
    for op, m in spark["per_op"].items():
        for key, value in m.items():
            detail[f"spark.{op}.{key}"] = (value, "count" if key in ("jobs", "tasks") else "bytes" if key == "shuffle_bytes" else "ms")
    detail["spark.gc_ms"] = (total["gc_ms"], "ms")
    return out, detail


def fmt(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def select(specs: list[dict], measured: dict) -> dict:
    """The manifest's metrics, in its order and units. A count or ratio of
    a module the workload never calls is 0; a missing time is a bug."""
    out = {}
    for spec in specs:
        name, unit = spec["name"], spec["unit"]
        if name in measured:
            value, got_unit = measured[name]
            if got_unit != unit:
                raise ValueError(f"{name}: unit {got_unit}, manifest says {unit}")
        elif unit in ("s", "ms"):
            raise ValueError(f"{name} was not measured")
        else:
            value = 0
        out[name] = (value, unit)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    # a TERM (e.g. a timeout) unwinds through the cleanup below: stop the
    # JVM, remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # fail fast, before any JVM starts, when the library is not here
    import distributed_vector_database_spark.store  # noqa: F401
    from tracing import Recorder, patch_library, peak_rss_mb
    from workloads import WORKLOADS

    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = None
    try:
        t_setup = time.perf_counter()
        inp, warm_ops, cycles = make_inputs(args.workload, args.seed, args.size)
        t = time.perf_counter()
        spark = start_session(workdir)
        timings = {"start_s": time.perf_counter() - t}
        rec = Recorder(spark, traced=False)
        wl = WORKLOADS[args.workload](spark, workdir, inp, rec)
        wl.setup()
        timings["build_s"] = time.perf_counter() - t - timings["start_s"]
        t = time.perf_counter()
        wl.warmup(warm_ops)
        timings["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        parts = {**timings, **getattr(wl, "build", {})}
        print(f"setup {setup_s:.1f}s: " + ", ".join(f"{k} {v:.1f}" for k, v in parts.items()), file=sys.stderr)

        failures: list[str] = []
        nxt, attempted = run_loop(wl, cycles, 0, args.seconds, failures)
        detail = dict(wl.metrics())
        plain = loop_metrics(rec)
        calls = dict(rec.samples)
        if args.trace:
            wl.reset()
            wl.rec = trec = Recorder(spark, traced=True)
            patch_library(trec.spans)
            try:
                _, more = run_loop(wl, cycles, nxt, args.seconds, failures)
            finally:
                trec.spans.unpatch()
            attempted += more
        err = wl.finish()
        if err:
            failures.append(f"final state: {err}")
        measured = {**plain, "setup_s": (setup_s, "s"), "peak_rss_mb": (peak_rss_mb(spark), "MB")}
        detail.update(measured)
        if args.trace:
            layers, layer_detail = layer_report(trec, wl, timings, plain, loop_metrics(trec))
            detail.update(layer_detail)
            measured.update(layers)
        with open(MANIFEST) as fh:
            manifest = json.load(fh)
        metrics = select(manifest["per_layer" if args.trace else "end_to_end"], measured)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(workdir))
            except OSError:
                pass  # another run still uses it

    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "calls_ms": calls, "failures": failures, "detail": fmt(detail)}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": fmt(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
