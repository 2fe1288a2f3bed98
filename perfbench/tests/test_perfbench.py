"""The benchmark's own tests: input determinism, the answer checkers,
a tiny traced smoke run of each workload, and the failure exit in a
checkout without the library.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from workloads import StoreMixed  # noqa: E402

WORKLOADS = ("store_mixed", "dedup_pipeline")


def manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH = re.compile(r"[A-Za-z0-9_./-]{1,200}")


def test_manifest_is_valid():
    """BENCHMARK.json against the manifest format the benchmark promises."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    assert os.path.getsize(path) <= 64 * 1024
    m = manifest()
    assert set(m) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(m["paths"]) <= 16
    for p in m["paths"]:
        assert PATH.fullmatch(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    cmd = m["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    for c in cmd[1:]:
        assert not c.startswith("/") and ".." not in c.split("/")
        if os.path.exists(os.path.join(ROOT, c)):
            assert any(c == p or c.startswith(p + "/") for p in m["paths"])
    assert isinstance(m["run_seconds"], int) and 1 <= m["run_seconds"] <= 60
    assert 2 <= len(m["workloads"]) <= 8
    for w in m["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(m["end_to_end"]) <= 16 and 1 <= len(m["per_layer"]) <= 128
    for x in m["end_to_end"]:
        assert set(x) == {"name", "unit", "better", "bound"} and 0 < x["bound"] <= 0.25
    for x in m["per_layer"]:
        assert set(x) == {"name", "unit", "better"}
    names = [x["name"] for x in m["workloads"] + m["end_to_end"] + m["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for x in m["end_to_end"] + m["per_layer"]:
        assert UNIT.fullmatch(x["unit"]) and x["better"] in ("lower", "higher")
    setup = [x for x in m["end_to_end"] if x["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(x["bound"] for x in m["end_to_end"])
    assert {w["name"] for w in m["workloads"]} == set(run.SIZES["full"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_inputs_other_seed_other_inputs(workload):
    a = inputs.digest(run.make_inputs(workload, 7, "full"))
    b = inputs.digest(run.make_inputs(workload, 7, "full"))
    c = inputs.digest(run.make_inputs(workload, 8, "full"))
    assert a == b
    assert a != c


def test_store_cycle_keeps_the_mix():
    inp, warm, cycles = run.make_inputs("store_mixed", 3, "tiny")
    kinds = sorted(set(inputs.STORE_CYCLE))
    assert sorted(op[0] for op in warm) == kinds
    for cycle in cycles:
        assert tuple(op[0] for op in cycle) == inputs.STORE_CYCLE


def test_topk_checker_flags_wrong_answers():
    rng = np.random.default_rng(0)
    keys = [f"k{i}" for i in range(50)]
    mat = rng.standard_normal((50, 4))
    q = rng.standard_normal(4)
    right = reference.exact_topk(keys, mat, q, 5)[:5]
    assert reference.check_topk(right, keys, mat, q, 5) is None
    # a deleted key in the result
    wrong_key = [("gone", right[0][1])] + right[1:]
    assert "not live" in reference.check_topk(wrong_key, keys, mat, q, 5)
    # a wrong score, a wrong order, a missed neighbour
    assert "score" in reference.check_topk([(right[0][0], right[0][1] + 1.0)] + right[1:], keys, mat, q, 5)
    assert "ordered" in reference.check_topk(right[::-1], keys, mat, q, 5)
    worst = reference.exact_topk(keys, mat, q, 50)[-1]
    assert "differs" in reference.check_topk(right[:4] + [worst], keys, mat, q, 5)


def test_store_model_checks():
    m = reference.StoreModel()
    m.put("a", np.ones(3), {"cat": "c00"})
    m.put("b", np.zeros(3), {"cat": "c01"})
    m.delete("b")
    good = {"key": "a", "vector": [1.0, 1.0, 1.0], "metadata": {"cat": "c00"}}
    assert m.check_get("a", good) is None
    assert m.check_get("a", {**good, "vector": [1.0, 1.0, 2.0]})
    assert m.check_get("a", {**good, "metadata": {"cat": "c01"}})
    assert m.check_get("b", {"key": "b", "vector": [0.0] * 3, "metadata": {}})
    assert m.check_state([good]) is None
    assert m.check_state([good, {"key": "b", "vector": [0.0] * 3, "metadata": {}}])


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeStore:
    """Answers index_search with whatever rows the test plants."""

    def __init__(self, rows):
        self.rows = rows

    def index_search(self, q, top_k):
        return _Rows(self.rows)

    def _log_file_count(self):
        return 0


def test_index_search_with_a_deleted_key_is_a_failure():
    wl = StoreMixed(None, "/nonexistent", None, None)
    wl.model.put("live", np.zeros(inputs.DIM), {"cat": "c00"})
    wl.model.put("dead", np.ones(inputs.DIM), {"cat": "c00"})
    wl.model.delete("dead")
    q = np.zeros(inputs.DIM)
    wl.store = _FakeStore([{"key": "live", "score": 0.0}])
    assert wl.run(("index_search", q), record=False) is None
    wl.store = _FakeStore([{"key": "live", "score": 0.0}, {"key": "dead", "score": 64.0}])
    assert "deleted key" in wl.run(("index_search", q), record=False)


def test_cluster_checker():
    pairs = [(0, 3), (3, 5), (1, 2)]
    reps = {0: 0, 1: 1, 2: 1, 3: 0, 4: 4, 5: 0}
    assert reference.check_clusters(range(6), pairs, reps) is None
    assert reference.check_clusters(range(6), pairs, {**reps, 5: 3})
    assert reference.check_clusters(range(6), pairs, {**reps, 4: 0})


def test_attribute_splits_a_call_among_modules():
    from tracing import attribute

    # driver time to the innermost span; the job that forces the
    # returned plan, outside any inner span, to the plan's module
    got = attribute([("knn", 1, 10, 20), ("store", 0, 0, 100)], [(50, 90)], "knn")
    assert dict(got) == {"store": 50, "knn": 50}
    # a job started inside an inner span stays with that span's module
    got = attribute([("hnsw", 1, 10, 40), ("store", 0, 0, 100)], [(20, 30)], "store")
    assert dict(got) == {"store": 70, "hnsw": 30}


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run(workload):
    """Untraced then traced loop at tiny sizes: every manifest metric is
    reported, and every answer checks out."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    m = manifest()
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert set(result["metrics"]) == {x["name"] for x in m["per_layer"]}
    assert {x["name"] for x in m["end_to_end"]} <= set(detail["detail"])
    for x in m["end_to_end"]:
        assert detail["detail"][x["name"]]["value"] > 0


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "store_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
