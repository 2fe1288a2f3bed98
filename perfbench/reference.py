"""Independent reference models and answer checks.

Nothing here calls the library: the store model is a dict, exact search
is NumPy, connected components are a union-find. Each check returns None
when the answer is right and a short reason string when it is wrong; the
workloads count a wrong answer as a failed operation.
"""

from __future__ import annotations

import numpy as np

SCORE_DECIMALS = 6  # the library rounds squared-L2 scores to 6 dp
SCORE_TOL = 2e-6  # Spark and NumPy may sum in another order


def exact_topk(keys, mat: np.ndarray, q: np.ndarray, k: int) -> list[tuple]:
    """Exact top-k by squared L2 at the library's rounding, ties broken by
    key: [(key, score), ...]."""
    if len(keys) == 0:
        return []
    d = mat - q
    scores = np.round(np.einsum("ij,ij->i", d, d), SCORE_DECIMALS)
    n_k = min(k, len(keys))
    kth = np.partition(scores, n_k - 1)[n_k - 1]
    # include every key tied (within tolerance) with the k-th score
    cand = np.nonzero(scores <= kth + SCORE_TOL)[0]
    return [(key, float(s)) for s, key in sorted((scores[i], keys[i]) for i in cand)]


def check_approx(got: list[tuple], keys, mat: np.ndarray, q: np.ndarray, k: int) -> str | None:
    """ANN answers: min(k, n) live keys, each with its true distance,
    ordered by (score, key). Which keys is a matter of recall, not
    correctness."""
    if len(got) != min(k, len(keys)):
        return f"{len(got)} rows, expected {min(k, len(keys))}"
    pos = {key: i for i, key in enumerate(keys)}
    for key, score in got:
        if key not in pos:
            return f"key {key!r} is not live"
        d = mat[pos[key]] - q
        if abs(float(d @ d) - score) > SCORE_TOL:
            return f"score of {key!r} is {score}, true {float(d @ d):.6f}"
    if [(s, key) for key, s in got] != sorted((s, key) for key, s in got):
        return "rows not ordered by (score, key)"
    return None


def check_topk(got: list[tuple], keys, mat: np.ndarray, q: np.ndarray, k: int) -> str | None:
    """`got` = [(key, score)] from the library. Correct when it holds
    min(k, n) rows, every score is the true distance of its key, rows are
    ordered by (score, key), and the key set is the exact top-k up to keys
    tied (within SCORE_TOL) at the k-th score."""
    err = check_approx(got, keys, mat, q, k)
    if err or not got:
        return err
    want = exact_topk(keys, mat, q, k)
    n_want = min(k, len(keys))
    kth = want[n_want - 1][1]
    must = {key for key, s in want if s < kth - SCORE_TOL}
    may = {key for key, _ in want}
    got_keys = {key for key, _ in got}
    if not must <= got_keys or not got_keys <= may:
        return "result set differs from the exact top-k"
    return None


def recall(got_keys, true_keys) -> float:
    true_keys = list(true_keys)
    if not true_keys:
        return 1.0
    return len(set(got_keys) & set(true_keys)) / len(true_keys)


class StoreModel:
    """key -> (vector, metadata): the state a VectorStore must resolve to."""

    def __init__(self):
        self.rows: dict[str, tuple[np.ndarray, dict]] = {}
        self._order: list[str] | None = None

    def put(self, key: str, vec: np.ndarray, meta: dict) -> None:
        if key not in self.rows:
            self._order = None
        self.rows[key] = (np.asarray(vec, dtype=np.float64), dict(meta))

    def delete(self, key: str) -> None:
        if self.rows.pop(key, None) is not None:
            self._order = None

    def live_keys(self) -> list[str]:
        """Live keys in a stable order (sorted), for rank-based picks."""
        if self._order is None:
            self._order = sorted(self.rows)
        return self._order

    def matrix(self, cat: str | None = None) -> tuple[list[str], np.ndarray]:
        keys = [
            k for k in self.live_keys() if cat is None or self.rows[k][1].get("cat") == cat
        ]
        if not keys:
            return [], np.empty((0, 0))
        return keys, np.stack([self.rows[k][0] for k in keys])

    def check_get(self, key: str, got: dict | None) -> str | None:
        want = self.rows.get(key)
        if want is None:
            return None if got is None else f"get({key!r}) returned a deleted key"
        if got is None:
            return f"get({key!r}) returned nothing"
        if not np.array_equal(np.asarray(got["vector"], dtype=np.float64), want[0]):
            return f"get({key!r}) vector differs"
        if dict(got["metadata"]) != want[1]:
            return f"get({key!r}) metadata differs"
        return None

    def check_state(self, rows: list[dict]) -> str | None:
        """Full-state equality against a fresh reader's resolved rows."""
        got = {r["key"]: r for r in rows}
        if len(got) != len(rows):
            return "state has duplicate keys"
        if set(got) != set(self.rows):
            missing = len(set(self.rows) - set(got))
            extra = len(set(got) - set(self.rows))
            return f"state keys differ: {missing} missing, {extra} unexpected"
        for key, r in got.items():
            err = self.check_get(key, r)
            if err:
                return err
        return None


def components_min(ids, pairs) -> dict:
    """Union-find over `pairs`; returns id -> minimum id of its component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_clusters(ids, pairs, reps: dict) -> str | None:
    """Each id's rep_id must be the minimum id of its connected component."""
    want = components_min(ids, pairs)
    if set(reps) != set(want):
        return f"{len(set(want) ^ set(reps))} ids missing or unexpected in clusters"
    bad = [i for i in want if reps[i] != want[i]]
    if bad:
        return f"{len(bad)} ids with a wrong rep_id (e.g. id {bad[0]}: {reps[bad[0]]} != {want[bad[0]]})"
    return None


def cosine_pairs(emb: np.ndarray, threshold: float) -> tuple[set, set]:
    """Exact cosine near-dup pairs at the library's 6-dp rounding:
    (pairs clearly >= threshold, pairs within 1e-6 of it)."""
    norm = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sure, edge = set(), set()
    step = 1024
    for s in range(0, len(emb), step):
        cos = np.round(norm[s : s + step] @ norm.T, 6)
        ia, ib = np.nonzero(cos >= threshold - 1e-6)
        for a, b in zip(ia + s, ib):
            if a < b:
                (sure if cos[a - s, b] >= threshold + 1e-6 else edge).add((int(a), int(b)))
    return sure, edge
