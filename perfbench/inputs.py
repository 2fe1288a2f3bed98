"""Seeded input generation for the two workloads.

Everything the library later receives (vectors, keys, metadata, documents
and the operation sequence) is built here from the workload seed with
NumPy alone, so the same seed gives byte-identical inputs and a different
seed gives different ones. No Spark is touched; the library never sees
the seed or the workload name.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DIM = 64  # the repo's fixture width; see README for why not 512


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one stream does
    not shift the others."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# -- store_mixed ---------------------------------------------------------------

# One cycle of the store_mixed loop: 11 ops in a fixed order that
# interleaves reads and writes: ~27% exact search (a third filtered), 9%
# IVF and 9% HNSW search, 18% get, 18% single put (half overwrites), 9%
# delete, 9% put_batch. The seed draws what each op reads or writes; the
# order stays fixed, because a read's cost depends on the writes before
# it (changelog files to list and merge), and a shuffled order made that
# cost differ from seed to seed.
STORE_CYCLE = (
    "search",
    "get",
    "put_new",
    "search_filtered",
    "index_search",
    "put_overwrite",
    "get",
    "hnsw_search",
    "delete",
    "search",
    "put_batch",
)
N_CATS = 20  # cat tags c00..c19, Zipf-drawn: selectivity ~28% down to ~1.4%


@dataclass
class StoreInputs:
    keys: list[str]
    vectors: np.ndarray  # (n, DIM) float64
    cats: list[str]
    ops: list[tuple]  # one tuple per op, see store_inputs()


def _cat_draw(rng: np.random.Generator, n: int) -> list[str]:
    idx = rng.choice(N_CATS, size=n, p=_zipf_probs(N_CATS, 1.0))
    return [f"c{i:02d}" for i in idx]


def store_inputs(seed: int, n_keys: int, n_cycles: int, batch_rows: int) -> StoreInputs:
    """Preload records plus a pre-drawn op sequence of `n_cycles` cycles.

    Op tuples (key references are resolved against the live key set at
    run time by index, so the sequence itself is fixed by the seed):
      ("search", qvec, None) / ("search_filtered", qvec, cat)
      ("index_search", qvec) / ("hnsw_search", qvec)
      ("get", hot_rank)                  Zipf rank into the live key list
      ("put_new", key, vec, cat)
      ("put_overwrite", hot_rank, vec, cat)
      ("delete", hot_rank)
      ("put_batch", new_keys, vecs, cats, overwrite_ranks)
    """
    rng = _rng(seed, "store")
    vectors = rng.standard_normal((n_keys, DIM))
    keys = [f"k{i:07d}" for i in range(n_keys)]
    cats = _cat_draw(rng, n_keys)
    ops_rng = _rng(seed, "store-ops")
    ops: list[tuple] = []
    fresh = 0

    def new_key() -> str:
        nonlocal fresh
        fresh += 1
        return f"n{fresh:07d}"

    def rank() -> int:
        # Zipf-hot access over the live key list (rank 0 hottest)
        return int(ops_rng.zipf(1.3) - 1)

    for _ in range(n_cycles):
        for kind in STORE_CYCLE:
            q = ops_rng.standard_normal(DIM)
            if kind == "search":
                ops.append(("search", q, None))
            elif kind == "search_filtered":
                ops.append(("search_filtered", q, _cat_draw(ops_rng, 1)[0]))
            elif kind in ("index_search", "hnsw_search"):
                ops.append((kind, q))
            elif kind == "get":
                ops.append(("get", rank()))
            elif kind == "put_new":
                ops.append(("put_new", new_key(), q, _cat_draw(ops_rng, 1)[0]))
            elif kind == "put_overwrite":
                ops.append(("put_overwrite", rank(), q, _cat_draw(ops_rng, 1)[0]))
            elif kind == "delete":
                ops.append(("delete", rank()))
            else:
                n_over = batch_rows // 4
                bkeys = [new_key() for _ in range(batch_rows - n_over)]
                ranks = [int(r) for r in ops_rng.integers(0, n_keys, n_over)]
                ops.append(
                    (
                        "put_batch",
                        bkeys,
                        ops_rng.standard_normal((batch_rows, DIM)),
                        _cat_draw(ops_rng, batch_rows),
                        ranks,
                    )
                )
    return StoreInputs(keys, vectors, cats, ops)


# -- dedup_pipeline ------------------------------------------------------------


@dataclass
class DedupInputs:
    texts: list[str]  # doc_id = list index
    embeddings: np.ndarray  # (n, DIM)
    dup_of: dict[int, int]  # planted duplicate id -> the id it was copied from
    boilerplate: list[int]  # docs carrying the shared boilerplate block


def _mutate(rng: np.random.Generator, toks: list[str], vocab: int, rate: float) -> list[str]:
    out = list(toks)
    n = max(1, int(round(rate * len(out))))
    for i in rng.choice(len(out), size=n, replace=False):
        out[i] = f"w{int(rng.integers(vocab))}"
    return out


def dedup_inputs(
    seed: int,
    n_docs: int,
    dup_share: float = 0.15,
    chain_len: int = 4,
    boiler_share: float = 0.05,
    doc_tokens: int = 80,
    vocab: int = 20000,
) -> DedupInputs:
    """Synthetic corpus with planted near-duplicates.

    - Each planted duplicate mutates ~3% of its source's tokens.
    - A third of the planted duplicates form chains (each copies the
      previous link, not the root), giving connected components depth.
    - `boiler_share` of the documents share one 60-token boilerplate
      block ahead of short unique bodies, which puts them in one LSH
      bucket (skew) without making them planted duplicates.
    - Embeddings follow the same plan: a duplicate's vector is its
      source's plus small noise.
    """
    rng = _rng(seed, "dedup")
    n_boiler = int(boiler_share * n_docs)
    n_dups = int(dup_share * n_docs)
    n_src = n_docs - n_dups - n_boiler
    texts: list[list[str]] = []
    emb = np.empty((n_docs, DIM))
    for _ in range(n_src):
        texts.append([f"w{int(t)}" for t in rng.integers(vocab, size=doc_tokens)])
        emb[len(texts) - 1] = rng.standard_normal(DIM)
    dup_of: dict[int, int] = {}
    n_chain_dups = n_dups // 3
    chain_dups = 0
    while len(dup_of) < n_dups:
        if chain_dups < n_chain_dups:
            prev = int(rng.integers(n_src))
            for _ in range(min(chain_len, n_chain_dups - chain_dups)):
                texts.append(_mutate(rng, texts[prev], vocab, 0.03))
                i = len(texts) - 1
                emb[i] = emb[prev] + 0.02 * rng.standard_normal(DIM)
                dup_of[i] = prev
                prev = i
                chain_dups += 1
        else:
            src = int(rng.integers(n_src))
            texts.append(_mutate(rng, texts[src], vocab, 0.03))
            i = len(texts) - 1
            emb[i] = emb[src] + 0.02 * rng.standard_normal(DIM)
            dup_of[i] = src
    block = [f"b{int(t)}" for t in rng.integers(vocab, size=60)]
    boilerplate = []
    for _ in range(n_boiler):
        texts.append(block + [f"w{int(t)}" for t in rng.integers(vocab, size=20)])
        emb[len(texts) - 1] = rng.standard_normal(DIM)
        boilerplate.append(len(texts) - 1)
    # shuffle ids so planted structure is not id-ordered
    perm = rng.permutation(n_docs)  # old id -> new id
    new_texts = [""] * n_docs
    new_emb = np.empty_like(emb)
    for old, new in enumerate(perm):
        new_texts[new] = " ".join(texts[old])
        new_emb[new] = emb[old]
    return DedupInputs(
        new_texts,
        new_emb,
        {int(perm[d]): int(perm[s]) for d, s in dup_of.items()},
        sorted(int(perm[b]) for b in boilerplate),
    )


def digest(obj) -> str:
    """Stable SHA-256 over nested inputs (arrays, lists, tuples, dicts,
    strings, numbers) for the determinism test."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode() + str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                feed(k)
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            h.update(b"[")
            for v in x:
                feed(v)
            h.update(b"]")
        elif hasattr(x, "__dataclass_fields__"):
            for name in x.__dataclass_fields__:
                feed(getattr(x, name))
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()
