"""Arrow vector columns as dense matrices, and the per-query top-k rule.

Two helpers every Arrow-batched kNN scorer shares:

* :func:`arrow_matrix` turns a ``list<float|double>`` Arrow column into one
  float64 ``(n_valid, dim)`` matrix plus a validity mask. When every row
  is present and ``dim`` long, the rows are one contiguous run of the
  column's flat ``values`` buffer and the matrix is that buffer reshaped —
  no per-row Python object is ever built. Otherwise only the valid rows
  are gathered, in one indexed read.
* :func:`topk_pairs` / :func:`smallest_k` keep the k smallest
  ``(score, id)`` pairs per query — the same order the rank window of
  every kNN operator applies (``score`` ascending, ``match_id`` ascending),
  so a partition never drops a row the global merge would have kept, and
  results do not depend on how the corpus is partitioned.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def arrow_matrix(arr, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list column → ``(X, valid)``.

    ``valid`` is a bool mask over the input rows and ``X`` the float64
    ``(valid.sum(), dim)`` matrix of the valid rows, in input order. A row
    is valid when it is not NULL and holds exactly ``dim`` elements: NULL
    rows and ragged rows (any other length) are left out, so callers give
    both the result of a NULL embedding. A NULL element becomes NaN.

    Accepts list, large-list and fixed-size-list arrays, sliced arrays and
    chunked arrays. float32 values widen exactly, so ``X`` is bit-identical
    to stacking ``np.asarray(row, dtype=np.float64)`` row by row."""
    if isinstance(arr, pa.ChunkedArray):
        parts = [arrow_matrix(chunk, dim) for chunk in arr.chunks]
        if not parts:
            return np.empty((0, dim)), np.zeros(0, dtype=bool)
        return (
            np.concatenate([x for x, _ in parts]),
            np.concatenate([v for _, v in parts]),
        )
    n = len(arr)
    if n == 0:
        return np.empty((0, dim)), np.zeros(0, dtype=bool)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    if pa.types.is_fixed_size_list(arr.type):
        size = arr.type.list_size
        # .values ignores the parent's slice offset
        offsets = (arr.offset + np.arange(n + 1, dtype=np.int64)) * size
    else:
        offsets = arr.offsets.to_numpy().astype(np.int64, copy=False)
    lo, hi = int(offsets[0]), int(offsets[-1])
    vals = arr.values.slice(lo, hi - lo).to_numpy(zero_copy_only=False)
    lengths = np.diff(offsets)
    if valid.all() and (lengths == dim).all():
        # uniform offsets: the rows ARE the flat buffer, row-major
        return vals.reshape(n, dim).astype(np.float64, copy=False), valid
    valid &= lengths == dim
    starts = offsets[:-1][valid] - lo
    X = vals[starts[:, None] + np.arange(dim)].astype(np.float64, copy=False)
    return X, valid


def query_matrix(vectors) -> np.ndarray:
    """The driver-collected query vectors as one float64 ``(nq, dim)``
    matrix. The scorers read every corpus row against this ``dim``, so
    mixed query lengths are refused here, where the operator is entered,
    rather than inside a task."""
    dims = sorted({len(v) for v in vectors})
    if len(dims) != 1:
        raise ValueError(f"query vectors must share one dimension, got lengths {dims}")
    return np.asarray(vectors, dtype=np.float64)


def smallest_k(qi: np.ndarray, scores: np.ndarray, ids: np.ndarray, k: int | None) -> np.ndarray:
    """Indices of the ``k`` smallest ``(score, id)`` pairs per query.

    ``qi``/``scores``/``ids`` are parallel arrays of candidates (query
    index, distance, corpus id). Returns positions into them, ordered by
    ``(qi, score, id)``; ``k=None`` keeps every candidate. NaN sorts after
    every number, as Spark's ascending order does."""
    if not len(qi):
        return np.zeros(0, dtype=np.int64)
    rank = np.unique(ids, return_inverse=True)[1].reshape(-1)
    order = np.lexsort((rank, scores, qi))
    if k is None:
        return order
    q = qi[order]
    return order[np.arange(len(q)) - np.searchsorted(q, q) < k]


def topk_pairs(d: np.ndarray, ids: np.ndarray, k: int | None) -> tuple[np.ndarray, np.ndarray]:
    """Per row of the ``(queries, rows)`` distance matrix ``d``, the k
    smallest ``(score, ids[col])`` pairs → ``(rows, cols)`` index arrays.

    A partial sort finds each row's k-th smallest score; every entry at or
    below it is a candidate (entries tied at the k-th score included), and
    :func:`smallest_k` breaks those ties on the id."""
    nq, n = d.shape
    if k is None or k >= n:
        r, c = np.divmod(np.arange(nq * n), n)
    else:
        thr = np.partition(d, k - 1, axis=1)[:, k - 1]
        r, c = np.nonzero((d <= thr[:, None]) | np.isnan(thr)[:, None])
    sel = smallest_k(r, d[r, c], ids[c], k)
    return r[sel], c[sel]
