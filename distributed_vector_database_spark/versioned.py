"""The one versioned-publish protocol for every persisted `v=N` state.

A versioned directory holds `v=0`, `v=1`, ... sub-directories. A
version becomes visible only when `commit` writes its marker file, as
the LAST write of that version — the analog of the reference's
checkpoint-then-WAL-position discipline (src/datanode/handler.py:
156-219). So:

- readers resolve `latest_version`, the newest COMMITTED version: a
  crash mid-write leaves a marker-less `v=N+1` that no reader sees;
- the next writer targets `latest_version + 1` again and writes with
  `mode("overwrite")`, which clears the partial leftovers;
- a fold records the micro-batch id in the marker, so a replayed batch
  (foreachBatch is at-least-once: a crash between the commit and the
  streaming checkpoint re-delivers it) is detected and skipped —
  exactly-once even for additive merges.

The marker is an underscore file, which Spark's parquet reader ignores
like `_SUCCESS`.

Layouts that take micro-batches in place, inside one version (IVF and
HNSW appends), keep an applied-batch ledger instead: `batch_applied`
and `mark_batch_applied`.
"""

from __future__ import annotations

import os
import shutil

MARKER = "_COMMITTED"
LEDGER = "_applied_batches"


def _marker(path: str, v: int) -> str:
    return os.path.join(path, f"v={v}", MARKER)


def _versions(path: str) -> list[int]:
    """Every `v=N` directory under `path`, committed or not, ascending."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(int(n[2:]) for n in names if n.startswith("v=") and n[2:].isdigit())


def committed_versions(path: str) -> list[int]:
    """Committed versions under `path`, ascending."""
    return [v for v in _versions(path) if os.path.exists(_marker(path, v))]


def latest_version(path: str) -> int:
    """Newest committed version under `path`, or -1 if there is none."""
    for v in reversed(_versions(path)):
        if os.path.exists(_marker(path, v)):
            return v
    return -1


def committed_batch(path: str, v: int) -> int | None:
    """Micro-batch id recorded when version `v` was committed (None for
    a version committed without one, or not committed)."""
    try:
        with open(_marker(path, v)) as f:
            text = f.read().strip()
    except FileNotFoundError:
        return None
    return int(text) if text else None


def commit(path: str, v: int, batch_id: int | None = None) -> None:
    """Publish version `v`: call only after every file of `v` is
    written. The marker lands by rename, so it is whole or absent."""
    tmp = os.path.join(path, f"v={v}", f"{MARKER}.tmp")
    with open(tmp, "w") as f:
        f.write("" if batch_id is None else str(batch_id))
    os.replace(tmp, _marker(path, v))


def fold(path: str, batch_id: int, step) -> None:
    """Apply one micro-batch as the next version, exactly once.

    Skips the batch when the newest committed version already carries
    `batch_id`. Otherwise calls `step(base_v, new_v)`, which writes
    version `new_v` from committed `base_v` (-1: no base yet) with
    mode("overwrite"), then commits `new_v`."""
    v = latest_version(path)
    if v >= 0 and committed_batch(path, v) == batch_id:
        return
    step(v, v + 1)
    commit(path, v + 1, batch_id)


def batch_applied(path: str, batch_id) -> bool:
    """True when `batch_id` is recorded in the applied-batch ledger of
    the layout at `path`. The ledger is for layouts that take
    micro-batches in place, inside one version (IVF/HNSW appends): one
    empty file `_applied_batches/b=<id>` per applied batch. A None id
    is never applied."""
    return batch_id is not None and os.path.exists(
        os.path.join(path, LEDGER, f"b={batch_id}")
    )


def mark_batch_applied(path: str, batch_id) -> None:
    """Record `batch_id` in the ledger; call after the batch's writes.
    A None id records nothing."""
    if batch_id is None:
        return
    os.makedirs(os.path.join(path, LEDGER), exist_ok=True)
    open(os.path.join(path, LEDGER, f"b={batch_id}"), "w").close()


def read_latest(spark, path: str):
    """The newest committed version of a parquet state directory."""
    v = latest_version(path)
    if v < 0:
        raise FileNotFoundError(f"no committed versions under {path}")
    return spark.read.parquet(f"{path}/v={v}")


def vacuum(path: str, keep_last: int, siblings: tuple[str, ...] = ()) -> int:
    """Delete every version of `path` older than its newest `keep_last`
    committed ones, and the same versions of `siblings` (directories
    published under `path`'s marker). Partial versions newer than the
    kept ones are left for the next writer to overwrite. Returns the
    number of directories removed."""
    kept = committed_versions(path)[-keep_last:]
    if not kept:
        return 0
    removed = 0
    for d in (path, *siblings):
        for v in _versions(d):
            if v < kept[0]:
                shutil.rmtree(os.path.join(d, f"v={v}"))
                removed += 1
    return removed


def run_file_stream(
    spark,
    src_dir: str,
    schema: str,
    fold,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Drain the JSON-lines files under `src_dir` through `fold` (a
    foreachBatch body) once, resumable from `checkpoint_dir`. Returns
    the StreamingQuery. `max_files_per_trigger` bounds micro-batch
    size; None lets availableNow drain freely."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (
        reader.json(src_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
