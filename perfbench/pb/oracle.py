"""Independent reference results computed with numpy on the driver."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

EPS = 1e-7  # the engine's cosine kernel eps (functions/distance.py)


def cosine_dist(q: np.ndarray, x: np.ndarray, x_norms: np.ndarray | None = None) -> np.ndarray:
    """(nq, n) cosine distances in float64, the engine kernel's formula."""
    x = np.asarray(x, dtype=np.float64)
    xn = np.linalg.norm(x, axis=1) if x_norms is None else x_norms
    dots = q @ x.T
    return 1 - np.clip((dots + EPS) / (np.outer(np.linalg.norm(q, axis=1), xn) + EPS), -1, 1)


def sqeuclidean_dist(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return np.maximum((x**2).sum(1)[None, :] + (q**2).sum(1)[:, None] - 2 * q @ x.T, 0.0)


def topk(dist: np.ndarray, ids: np.ndarray, k: int):
    """Per query: the k (id, distance) pairs with the smallest distance,
    ties broken by id."""
    out = []
    for row in dist:
        part = np.argpartition(row, min(k, len(row) - 1))[: k + 16] if len(row) > k + 16 else np.arange(len(row))
        order = sorted(part, key=lambda j: (row[j], ids[j]))[:k]
        out.append([(int(ids[j]), float(row[j])) for j in order])
    return out


def chunked_cosine_topk(chunks, q: np.ndarray, k: int):
    """Exact top-k over a corpus given as an iterable of (ids, float32
    matrix, row norms) chunks, without materialising a float64 copy of the
    corpus."""
    best = [[] for _ in range(len(q))]
    for ids, mat, norms in chunks:
        d = cosine_dist(q, mat, norms)
        for qi, lst in enumerate(topk(d, ids, k)):
            best[qi] = sorted(best[qi] + lst, key=lambda p: (p[1], p[0]))[:k]
    return best


def bm25_topk(tfs: dict[int, Counter], query: str, k: int, k1: float = 1.2, b: float = 0.75):
    """BM25 over whitespace/lowercase tokens, the formula and tie rule of
    ``bm25_match_stored`` (rank by score rounded to 6 places desc, id asc).
    ``tfs`` maps each live doc id to the term counts of its text."""
    n_docs = len(tfs)
    lens = {i: sum(c.values()) for i, c in tfs.items()}
    avgdl = sum(lens.values()) / n_docs
    terms = sorted({t for t in query.lower().split() if t})
    df = {t: sum(1 for c in tfs.values() if t in c) for t in terms}
    scores = {}
    for i, c in tfs.items():
        s, hit = 0.0, False
        dl = lens[i]
        for t in terms:
            tf = c.get(t, 0)
            if tf:
                hit = True
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        if hit:
            scores[i] = s
    ranked = sorted(scores.items(), key=lambda p: (-round(p[1], 6), p[0]))[:k]
    return ranked
