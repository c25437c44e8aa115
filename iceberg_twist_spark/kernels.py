"""The Arrow/numpy kernel harness every Python operator runs through.

Vector kernels (IVF/PQ/k-means assignment, LSH bucketing, pair and
all-pairs cosine, semantic decontamination, the SemDeDup cell) and
media kernels (byte features, codec decodes, frame splits) share one
decode, one set of ordered folds, one bounded-constant collect and one
``mapInArrow``/``mapInPandas`` wrapper each.

Bit-identity with the DuckDB oracles: every fold starts its
accumulator at 0.0 and adds one IEEE-double term per dimension, dims
ascending. Elementwise numpy operations never reassociate, so each
output element is the left-to-right sum the oracle's SQL computes, and
``rnd`` is the oracles' ``floor(x·10^p + 0.5) / 10^p``.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def matrix(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Arrow list column → ``(n, d)`` float64; raises on ragged widths."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    lens = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    d = int(lens[0]) if n else 0
    if (lens != d).any():
        raise ValueError(f"ragged list widths: {sorted(set(lens.tolist()))}")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(n, d)


def dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``(n, d)`` × ``(m, d)`` → ``(n, m)`` dot products, ordered fold."""
    out = np.zeros((a.shape[0], b.shape[0]))
    for k in range(a.shape[1]):
        out += a[:, k, None] * b[None, :, k]
    return out


def row_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot product of each row of ``a`` with the same row of ``b``."""
    out = np.zeros(a.shape[0])
    for k in range(a.shape[1]):
        out += a[:, k] * b[:, k]
    return out


def sq_dists(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``(n, d)`` × ``(m, d)`` → ``(n, m)`` squared L2 distances, ordered
    fold of ``(x − y)·(x − y)``."""
    out = np.zeros((a.shape[0], b.shape[0]))
    for k in range(a.shape[1]):
        diff = a[:, k, None] - b[None, :, k]
        out += diff * diff
    return out


def rnd(x: np.ndarray, places: int) -> np.ndarray:
    """Half-up rounding to ``places`` decimals, as the oracles spell it."""
    scale = 10.0**places
    return np.floor(x * scale + 0.5) / scale


def constant(df: DataFrame, key: str, vec: str, *scalars: str) -> tuple:
    """Collect a bounded frame (centroids, probes, codebooks) as
    ``(keys, (k, d) float64 matrix, *scalar columns)`` sorted by ``key``.

    The sort is the tie rule: ``argmax``/``argmin`` keep the first
    extreme, so a tie goes to the lowest key."""
    rows = sorted(df.select(key, vec, *scalars).collect(), key=lambda r: r[0])
    mat = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    cols = [np.array([r[i] for r in rows]) for i in range(2, 2 + len(scalars))]
    return (np.array([r[0] for r in rows]), mat, *cols)


def _struct(schema: T.StructType | str) -> T.StructType:
    return T.StructType.fromDDL(schema) if isinstance(schema, str) else schema


def map_kernel(
    df: DataFrame, in_cols: list[str], fn: Callable, schema: T.StructType | str
) -> DataFrame:
    """``mapInArrow`` over exactly ``in_cols``.

    ``fn(batch)`` gets each non-empty RecordBatch and returns the output
    columns in ``schema`` order, as Arrow arrays or as numpy arrays
    (converted to the schema's types), or ``None`` to emit nothing. The
    plan node carries ``fn``'s name."""
    schema = _struct(schema)
    names = schema.fieldNames()
    types = [to_arrow_type(f.dataType) for f in schema]

    def run(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = fn(batch)
            if cols is None:
                continue
            yield pa.RecordBatch.from_arrays(
                [c if isinstance(c, pa.Array) else pa.array(c, type=t)
                 for c, t in zip(cols, types)],
                names=names,
            )

    run.__name__ = fn.__name__
    return df.select(*in_cols).mapInArrow(run, schema)


def map_rows(
    df: DataFrame, in_cols: list[str], fn: Callable, schema: T.StructType | str
) -> DataFrame:
    """Per-row ``mapInPandas`` over exactly ``in_cols``.

    ``fn(*row)`` yields output tuples in ``schema`` order; yielding
    nothing drops the row, which is how a malformed blob is skipped.
    The plan node carries ``fn``'s name."""
    schema = _struct(schema)
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = [out for row in pdf.itertuples(index=False, name=None)
                    for out in fn(*row)]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    run.__name__ = fn.__name__
    return df.select(*in_cols).mapInPandas(run, schema)
