"""The Arrow/numpy kernel harness (iceberg_twist_spark/kernels.py):
ordered folds, decode, bounded constants, the SemDeDup cell and the
map wrappers. Only the wrapper test starts Spark."""

from __future__ import annotations

import os
import re
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from iceberg_twist_spark import kernels as K
from iceberg_twist_spark.llm.similarity import semdedup_cell_kept

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "iceberg_twist_spark"
)


def _f32_vectors(rng, n, d):
    """float32-valued vectors in float64, as decoded from embeddings."""
    return rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)


def _fold(terms):
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def test_folds_equal_left_to_right_python_fold():
    rng = np.random.default_rng(7)
    a, b = _f32_vectors(rng, 5, 64), _f32_vectors(rng, 7, 64)
    c = _f32_vectors(rng, 5, 64)
    al, bl, cl = a.tolist(), b.tolist(), c.tolist()
    dots = [[_fold(x * y for x, y in zip(u, v)) for v in bl] for u in al]
    sq = [[_fold((x - y) * (x - y) for x, y in zip(u, v)) for v in bl] for u in al]
    row = [_fold(x * y for x, y in zip(u, v)) for u, v in zip(al, cl)]
    assert K.dots(a, b).tolist() == dots
    assert K.sq_dists(a, b).tolist() == sq
    assert K.row_dots(a, c).tolist() == row


def test_matrix_decodes_chunked_lists_and_rejects_ragged():
    typ = pa.list_(pa.float32())
    col = pa.chunked_array([pa.array([[1.0, 2.0]], typ), pa.array([[3.0, 4.5]], typ)])
    m = K.matrix(col)
    assert m.dtype == np.float64 and m.tolist() == [[1.0, 2.0], [3.0, 4.5]]
    with pytest.raises(ValueError, match="ragged"):
        K.matrix(pa.array([[1.0, 2.0], [3.0]], typ))


class _Rows:
    """Stands in for a bounded DataFrame: ``select(...).collect()``."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self.rows


def test_constant_sorts_by_key_so_ties_go_to_the_lowest_key():
    # keys 9 and 2 hold the same vector; the collect returns 9 first
    tie, other = [1.0, 0.0], [0.0, 1.0]
    keys, mat, nrm = K.constant(
        _Rows([(9, tie, 1.0), (5, other, 1.0), (2, tie, 1.0)]), "k", "v", "n"
    )
    assert keys.tolist() == [2, 5, 9] and nrm.tolist() == [1.0, 1.0, 1.0]
    probe = np.array([[1.0, 0.0]])
    assert keys[np.argmax(K.dots(probe, mat), axis=1)].tolist() == [2]
    assert keys[np.argmin(K.sq_dists(probe, mat), axis=1)].tolist() == [2]


def _untiled_cell_kept(vecs, nrm, tau):
    """The untiled form: one dense n×n similarity block."""
    dot = np.zeros((len(vecs), len(vecs)))
    for k in range(vecs.shape[1]):
        dot += vecs[:, k, None] * vecs[None, :, k]
    sims = np.floor(dot / (nrm[:, None] * nrm[None, :]) * 10000.0 + 0.5) / 10000.0
    return ~np.any(np.tril(sims >= tau, k=-1), axis=1)


def test_semdedup_cell_is_tiled_and_matches_untiled():
    rng = np.random.default_rng(3)
    vecs = _f32_vectors(rng, 4096, 64)
    nrm = np.sqrt(K.row_dots(vecs, vecs))
    tracemalloc.start()
    try:
        kept = semdedup_cell_kept(vecs, nrm, 0.35)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 << 20, f"cell peak {peak / 2**20:.1f} MB"
    assert 0 < kept.sum() < len(kept)
    assert kept.tolist() == _untiled_cell_kept(vecs, nrm, 0.35).tolist()


def test_only_the_harness_calls_map_in_arrow_or_pandas():
    pattern = re.compile(r'mapInArrow\(|mapInPandas\(|"ragged')
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if fn.endswith(".py") and path != os.path.join(PKG, "kernels.py"):
                with open(path, encoding="utf-8") as f:
                    hits += [f"{path}:{i}" for i, ln in enumerate(f, 1) if pattern.search(ln)]
    assert hits == []


def test_map_wrappers_select_in_cols_and_name_the_plan_node(spark):
    df = spark.createDataFrame(
        [(1, "x", [1.0, 2.0]), (2, "y", [3.0, 4.0])], "a long, b string, c array<double>"
    )

    def seen_cols(batch):
        return [batch.column(0), np.full(batch.num_rows, ",".join(batch.schema.names))]

    out = K.map_kernel(df, ["a", "c"], seen_cols, "a long, cols string")
    assert {r.cols for r in out.collect()} == {"a,c"}
    assert "MapInArrow seen_cols(" in out._jdf.queryExecution().executedPlan().toString()

    def odd_rows(a, b):
        if a % 2:
            yield a, b.upper()

    rows = K.map_rows(df, ["a", "b"], odd_rows, "a long, b string")
    assert [tuple(r) for r in rows.collect()] == [(1, "X")]
    assert "MapInPandas odd_rows(" in rows._jdf.queryExecution().executedPlan().toString()
