"""Fast driver-local relations (r13 optimization, guide §4.1).

`spark.createDataFrame(list_of_rows)` parallelizes the rows into
`defaultParallelism` RDD slices and plans a `Scan ExistingRDD
(applySchemaToPythonRDD)`: EVERY execution of that plan round-trips
each slice through a Python worker — 32 Python-worker invocations for
a 1-row frame on local[32], and `.coalesce(1)` chains them
SEQUENTIALLY (measured 5-7 s for one row). Driver-built small frames
(centroid tables, batch-query membership, config rows) sit inside hot
probe plans, so that cost recurs per action.

Converting through pandas + Arrow instead plans a `LocalTableScan`:
the rows are shipped once as an Arrow batch and every downstream
execution is pure JVM (measured 6.9 s -> 2.0 s for a 100-row write,
~0 marginal cost inside probes).

`local_df` is the drop-in: same (rows, schema) contract as
createDataFrame for the list-of-tuples shapes this engine builds, with
the plain path as fallback for anything pandas/Arrow cannot represent.

Rows that only need to reach DISK (a store's buffered put/delete ops,
an index's build meta) skip Spark altogether: `write_local_parquet`
converts them to one pyarrow table on the driver and writes one parquet
file, with no Spark job. A single-record `put` on a 3,000 x 64-d store
(local[4]) took a median ~150 ms as a Spark write job and ~2.5 ms this
way. The file is written under a `.`-prefixed temp name and renamed
into place, so a crash mid-write leaves only a hidden file that Spark's
readers skip.

`read_local_parquet` is the read twin: the rows of a few keys come back
from one parquet directory through `pyarrow.dataset` on the driver, with
no Spark job (a store `get` on a 3,000 x 64-d store, local[4]: a p50 of
274 ms as a Spark collect, 12 ms this way). It reads only the row
groups whose key min/max statistics bracket one of the keys, then
filters with `isin`, which makes the answer exact. pyarrow's own pruning would not do: it
prunes no row group on a bare `isin`, and a `key >= min(keys) & key <=
max(keys)` range in front prunes only outside the range, so a few keys
spread over the key space (an HNSW proposal) would read every row group
between them — the whole snapshot, onto the driver. On a key-sorted
directory, such as a snapshot `compact()` writes range-partitioned, a
key reads one row group. It skips `.`/`_`-prefixed names exactly as
Spark's reader does, so it reads the files a Spark read of that
directory reads.
"""

from __future__ import annotations

import bisect
import functools
import logging
import os
import uuid
from typing import Any, Collection, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

_log = logging.getLogger(__name__)
_fallback_logged = False


def _fallback(reason: str) -> None:
    """Log the first fast-path fallback of the process: a degraded path
    must show, but a per-call warning would flood the log."""
    global _fallback_logged
    if not _fallback_logged:
        _fallback_logged = True
        _log.warning(
            "local_df: Arrow fast path unavailable, using createDataFrame: %s",
            reason,
        )


def _as_struct_type(schema: Any):
    """Schema -> StructType when it declares TYPES (StructType or DDL
    string); None for names-only schemas (list of names / single
    name), where both paths infer types from the data."""
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        return schema
    if isinstance(schema, str):
        try:
            return StructType.fromDDL(schema)
        except Exception:  # noqa: BLE001 - not a DDL schema
            return None
    return None


def local_df(
    spark: SparkSession,
    rows: Sequence[Any],
    schema: Any,
) -> DataFrame:
    """createDataFrame(rows, schema) that plans a LocalTableScan.

    rows: list of tuples/lists (or single values when the schema has
    one column). Empty input and conversion failures fall back to the
    plain createDataFrame path — correctness first, the fast path is
    an optimization.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    first = rows[0]
    if not isinstance(first, (tuple, list)):
        data = [(r,) for r in rows]
    else:
        data = [tuple(r) for r in rows]
    # Preserve the plain path's type strictness (ADVICE r13): the
    # Arrow conversion CASTS where createDataFrame(list) VERIFIES —
    # local_df(spark, [(1.7,)], "x long") would silently truncate to 1
    # where the old code raised. Run the same verifier the plain path
    # runs; rows it rejects go to the plain path, which raises the
    # canonical error (a bad input, not a fast-path fallback).
    struct = _as_struct_type(schema)
    if struct is not None:
        verify = _make_type_verifier(struct)
        try:
            for r in data:
                verify(r)
        except (TypeError, ValueError):
            return spark.createDataFrame(rows, schema)
    try:
        ncols = len(data[0])
        # column-major dict; names are placeholders — createDataFrame
        # applies the authoritative names/types from `schema`. Columns
        # are built dtype=object so a None stays a NULL through Arrow
        # (a float64 column would coerce None -> NaN, a silent
        # semantic drift the WAL's delete rows must not suffer).
        pdf = pd.DataFrame(
            {
                f"_{i}": pd.Series([r[i] for r in data], dtype=object)
                for i in range(ncols)
            }
        )
        out = spark.createDataFrame(pdf, schema=schema)
        # the pandas path silently degrades to the RDD path when Arrow
        # conversion fails; cheap plan sniff keeps us honest
        if "ExistingRDD" in out._jdf.queryExecution().simpleString():
            _fallback("pandas conversion planned an RDD scan")
            return spark.createDataFrame(data, schema)
        return out
    except Exception as e:  # noqa: BLE001 - any conversion trouble: use the
        # battle-tested slow path rather than risk a type drift
        _fallback(f"{type(e).__name__}: {e}")
        return spark.createDataFrame(rows, schema)


# a DDL schema is parsed by the JVM (a py4j round trip): once per
# schema, not once per write
@functools.lru_cache(maxsize=None)
def _arrow_schema_and_verifier(schema: Any):
    struct = _as_struct_type(schema)
    return to_arrow_schema(struct), _make_type_verifier(struct)


def write_local_parquet(
    rows: Sequence[tuple], schema: Any, directory: str
) -> str:
    """Write driver-held rows as ONE parquet file in `directory` without
    a Spark job; returns the file's path.

    The Arrow schema is derived from the Spark `schema` (StructType or
    DDL), so Spark reads the file back with that same schema. Rows are
    checked first by the verifier createDataFrame runs, so a value the
    schema cannot hold raises before anything is written (Arrow alone
    would truncate 1.7 into a long column). The file lands as
    `.part-<uuid>.parquet` and is then renamed to `part-<uuid>.parquet`:
    a crash before the rename leaves only the hidden temp file, which
    Spark's readers (and any lister that skips `.`/`_` names) never
    see."""
    arrow_schema, verify = _arrow_schema_and_verifier(schema)
    for r in rows:
        verify(r)
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}")
    pq.write_table(table, tmp)
    path = os.path.join(directory, name)
    os.replace(tmp, path)
    return path


def _holds_a_key(stats: dict | None, keys: Sequence[Any]) -> bool:
    """Whether a row group whose key column has min/max `stats` can hold
    one of the sorted `keys`; one without statistics may hold any."""
    if not stats or "min" not in stats or "max" not in stats:
        return True
    i = bisect.bisect_left(keys, stats["min"])
    return i < len(keys) and keys[i] <= stats["max"]


def _row_groups_for_keys(
    dataset: ds.FileSystemDataset, key_col: str, keys: Sequence[Any]
) -> list[ds.ParquetFileFragment]:
    """`dataset`'s files cut to the row groups that can hold one of the
    sorted `keys`, judged by each row group's key min/max statistics
    (read from the footers). Files with no such row group drop out."""
    out = []
    for frag in dataset.get_fragments():
        ids = [rg.id for rg in frag.row_groups if _holds_a_key(rg.statistics.get(key_col), keys)]
        if ids:
            out.append(frag.subset(row_group_ids=ids))
    return out


def read_local_parquet(
    directory: str,
    schema: Any,
    key_col: str | None = None,
    keys: Collection[Any] | None = None,
) -> list[dict]:
    """The rows of `directory`'s parquet files whose `key_col` is in
    `keys` (every row when `key_col` is None), read on the driver with
    no Spark job, as dicts in the form a Spark collect gives: map
    columns become dicts, nulls stay None.

    Files are read with the Arrow schema derived from the Spark `schema`
    (as `write_local_parquet` writes them), so Spark-written and
    driver-written files read alike. Only the row groups that can hold
    a key are read (`_row_groups_for_keys`). An unreadable file
    raises."""
    arrow_schema, _ = _arrow_schema_and_verifier(schema)
    dataset = ds.dataset(
        directory, schema=arrow_schema, format="parquet",
        ignore_prefixes=[".", "_"],
    )
    flt = None
    if key_col is not None:
        keys = sorted(set(keys or ()))
        if not keys:
            return []
        dataset = ds.FileSystemDataset(
            _row_groups_for_keys(dataset, key_col, keys), arrow_schema,
            dataset.format, dataset.filesystem,
        )
        flt = ds.field(key_col).isin(keys)
    rows = dataset.to_table(filter=flt).to_pylist()
    maps = [f.name for f in arrow_schema if pa.types.is_map(f.type)]
    for r in rows:
        for c in maps:
            if r[c] is not None:
                r[c] = dict(r[c])
    return rows
