"""The Arrow boundary of the Python vector kernels.

The ``mapInArrow`` / ``applyInArrow`` kernels of the exact-kNN, IVF, PQ
(encode, decode, ADC) and HNSW (build, insert, compaction, routers,
search) families read their input and build their output here, so the
kernel bodies are plain numpy and the conversion rules live in one place:
a ``list<float|double>`` column is one flat buffer viewed as ``(n, dim)``
(no per-row objects, no pandas); a bad vector raises instead of becoming
NaN distances that silently reorder neighbours; output rows are positions
into the input columns, so ids leave a kernel with the Arrow type they
came in with.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def matrix(
    col: pa.Array | pa.ChunkedArray, name: str, dtype=np.float64, rows: np.ndarray | None = None
) -> np.ndarray:
    """A list column as an ``(n, dim)`` array of ``dtype``: a writable copy
    of the flat value buffer, or with ``rows`` of the rows at those
    positions, gathered in the column's own type before the one
    conversion.  Raises as ``values`` does."""
    v = values(col, name)
    if rows is None:
        return np.array(v, dtype=dtype)
    return v[rows].astype(dtype, copy=False)


def values(col: pa.Array | pa.ChunkedArray, name: str) -> np.ndarray:
    """A list column as a read-only ``(n, dim)`` view of its flat value
    buffer, in the values' own type: no copy when the column is one chunk.
    Raises ``ValueError`` naming ``name`` on a null vector, a null element,
    or a vector whose length differs from the first one's."""
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    n = len(col)
    if col.null_count:
        raise ValueError(f"column {name!r}: null vector")
    if n == 0:
        return np.empty((0, 0), dtype=col.type.value_type.to_pandas_dtype())
    lengths = col.value_lengths().to_numpy(zero_copy_only=False)
    dim = int(lengths[0])
    if (lengths != dim).any():
        bad = int(lengths[np.flatnonzero(lengths != dim)[0]])
        raise ValueError(f"column {name!r}: vector of length {bad} in a batch of dim {dim}")
    flat = col.flatten()
    if flat.null_count:
        raise ValueError(f"column {name!r}: null element inside a vector")
    return flat.to_numpy(zero_copy_only=False).reshape(n, dim)


def sort_keys(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Ids as a numpy array ``lexsort`` can order: numeric ids as they
    are, object ids as ``str`` (ASCII order == Spark string order)."""
    ids = col.to_numpy(zero_copy_only=False)
    return ids.astype(str) if ids.dtype == object else ids


def append(batch: pa.RecordBatch, name: str, values: pa.Array) -> pa.RecordBatch:
    """``batch`` with one more column; the input columns pass through."""
    return pa.RecordBatch.from_arrays(
        batch.columns + [values], schema=batch.schema.append(pa.field(name, values.type))
    )


def lists(X: np.ndarray) -> pa.ListArray:
    """An ``(n, d)`` matrix as a list column: row i is list i."""
    offsets = np.arange(len(X) + 1, dtype=np.int32) * X.shape[1]
    return pa.ListArray.from_arrays(offsets, X.ravel())


def ragged(lengths, values: pa.Array) -> pa.ListArray:
    """A list column from per-row ``lengths`` over the flat ``values``:
    row i is the next ``lengths[i]`` values."""
    offsets = np.concatenate(([0], np.cumsum(lengths, dtype=np.int64)))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def topk_schema(
    qid_type: T.DataType, id_type: T.DataType, distance_type: T.DataType = T.DoubleType()
) -> T.StructType:
    """The ``(query_id, id, distance)`` schema every top-k kernel emits
    (a Hamming distance is a ``LongType`` count)."""
    return (
        T.StructType()
        .add("query_id", qid_type, False)
        .add("id", id_type, False)
        .add("distance", distance_type, False)
    )


def topk_table(
    qids, qpos: np.ndarray, ids, vpos: np.ndarray, dist: np.ndarray,
    distance_type: pa.DataType = pa.float64(),
) -> pa.Table:
    """``(query_id, id, distance)`` rows: query ``qids[qpos[i]]``, id
    ``ids[vpos[i]]`` at ``dist[i]``, both taken from their Arrow columns."""
    return pa.table(
        {
            "query_id": qids.take(qpos),
            "id": ids.take(vpos),
            "distance": pa.array(dist, distance_type),
        }
    )


def collect_matrix(df: DataFrame, col: str) -> np.ndarray:
    """Collect one vector column to the driver through Arrow (no Row
    objects) as an ``(n, dim)`` float64 array, in ``df``'s row order."""
    return matrix(df.select(col).toArrow().column(0), col)
