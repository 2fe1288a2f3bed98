"""Run-to-run spread of the end-to-end metrics, and agreement between sets.

    python3 perfbench/steadiness.py --workloads store_mixed dedup_pipeline --seeds 1-10 101-110 --out perfbench/results/steadiness.json

Each `--seeds` range is one set of runs, one run per (workload, seed).
The sets are interleaved run by run (set 1's first seed, set 2's first
seed, ..., then the second seeds), so every set sees the same host
conditions. Per set and metric it reports the median and the
interquartile range as a share of the median (statistics.quantiles(
values, n=4)); per later set, how much worse than the first set's median
its median is, as a share of that median. Both sit next to the metric's
bound in BENCHMARK.json. It also records each run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(manifest: dict, wl: str, seed: int) -> dict:
    cmd = manifest["command"] + ["--workload", wl, "--seed", str(seed),
                                 "--seconds", str(manifest["run_seconds"]), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    res, info = json.loads(lines[-1]), json.loads(lines[-2])
    print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
    return {"seed": seed, "wall_s": wall, "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "detail": {k: v["value"] for k, v in info["detail"].items()},
            "calls_ms": info["calls_ms"], "failures": info["failures"]}


def summary(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": statistics.median(vals), "iqr_share": (q3 - q1) / statistics.median(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", default=["1-10"], help="one seed range per set")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    spec = {m["name"]: m for m in manifest["end_to_end"]}
    sets = [seeds(s) for s in args.seeds]
    runs = {wl: [[] for _ in sets] for wl in args.workloads}
    for i in range(max(len(s) for s in sets)):
        for wl in args.workloads:
            for k, set_seeds in enumerate(sets):
                if i < len(set_seeds):
                    runs[wl][k].append(run_once(manifest, wl, set_seeds[i]))
    report = {}
    for wl in args.workloads:
        per_set = []
        for set_seeds, rs in zip(args.seeds, runs[wl]):
            per_set.append({"seeds": set_seeds, "runs": rs, "spread": summary(rs),
                            "wall_s_median": statistics.median(r["wall_s"] for r in rs)})
        first = per_set[0]["spread"]
        for later in per_set[1:]:
            for name, s in later["spread"].items():
                change = s["median"] / first[name]["median"] - 1.0
                s["worse_than_first"] = change if spec[name]["better"] == "lower" else -change
        report[wl] = per_set
    text = json.dumps(report, indent=1)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    for wl, per_set in report.items():
        for rep in per_set:
            print(wl, f"seeds {rep['seeds']}: wall median {rep['wall_s_median']:.1f}s")
            for name, s in rep["spread"].items():
                shift = f"  worse than set 1 by {s['worse_than_first']:+.3f}" if "worse_than_first" in s else ""
                print(f"  {name:16s} median {s['median']:.4g}  iqr/median {s['iqr_share']:.3f}{shift}"
                      f"  bound {spec[name]['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
