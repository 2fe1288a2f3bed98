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
"""

from __future__ import annotations

import functools
import logging
import os
import uuid
from typing import Any, Sequence

import pandas as pd
import pyarrow as pa
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
