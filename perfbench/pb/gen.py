"""Seeded input generators. Everything a workload sends to the engine is
derived here from ``--seed``; the same seed gives the same inputs, bit for
bit, on any partitioning, because each chunk of rows draws from its own
generator keyed by (seed, stream, chunk)."""

from __future__ import annotations

import numpy as np

# -- docstore_1m: documents with a 128-d embedding and one int tag -----------

N_CLUSTERS = 256
NOISE = 0.5
TAG_MOD = 1000
TAG_MUL = 7919  # coprime with TAG_MOD, so id -> tag is uniform over ids


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *map(int, stream)])


def centers(seed: int, dim: int) -> np.ndarray:
    return rng(seed, 0).standard_normal((N_CLUSTERS, dim)).astype(np.float32)


def tags_of(ids: np.ndarray, seed: int) -> np.ndarray:
    """The tag is arithmetic in the id, so counts of any tag condition
    follow from the generator without reading the data back."""
    return (ids.astype(np.int64) * TAG_MUL + int(seed)) % TAG_MOD


def chunk_bounds(n_docs: int, n_chunks: int, chunk: int) -> tuple[int, int]:
    per = -(-n_docs // n_chunks)
    return min(chunk * per, n_docs), min((chunk + 1) * per, n_docs)


def doc_chunk(seed: int, n_docs: int, n_chunks: int, chunk: int, dim: int):
    """Rows ``[lo, hi)`` of the corpus → (ids, tags, float32 embeddings).
    Embeddings are cluster centres plus Gaussian noise, so an IVF
    quantizer has structure to find."""
    lo, hi = chunk_bounds(n_docs, n_chunks, chunk)
    ids = np.arange(lo, hi, dtype=np.int64)
    r = rng(seed, 1, chunk)
    labels = r.integers(0, N_CLUSTERS, size=hi - lo)
    emb = centers(seed, dim)[labels] + NOISE * r.standard_normal((hi - lo, dim), dtype=np.float32)
    return ids, tags_of(ids, seed), emb.astype(np.float32)


def query_batch(seed: int, stream: int, n: int, dim: int) -> np.ndarray:
    """``n`` query vectors near random cluster centres (float64)."""
    r = rng(seed, 2, stream)
    c = centers(seed, dim)[r.integers(0, N_CLUSTERS, size=n)].astype(np.float64)
    return c + NOISE * r.standard_normal((n, dim))


def tag_condition(seed: int, stream: int) -> dict:
    """A Mongo-QL condition over ``tag`` (and ``id``): one-tag equality or a
    compound of range and membership clauses."""
    r = rng(seed, 3, stream)
    kind = int(r.integers(0, 3))
    t = int(r.integers(0, TAG_MOD))
    if kind == 0:
        return {"tag": {"$eq": t}}
    if kind == 1:
        width = int(r.integers(5, 50))
        return {"$and": [{"tag": {"$gte": t}}, {"tag": {"$lt": t + width}}]}
    others = sorted({int(x) for x in r.integers(0, TAG_MOD, size=4)})
    cut = int(r.integers(0, 1_000_000))
    return {"$or": [{"tag": {"$in": others}}, {"$and": [{"tag": {"$eq": t}}, {"id": {"$lt": cut}}]}]}


def expected_count(cond: dict, n_docs: int, seed: int) -> int:
    """Count of documents matching ``cond``, evaluated with numpy over the
    generator's id -> tag arithmetic (no engine involved)."""
    ids = np.arange(n_docs, dtype=np.int64)
    cols = {"id": ids, "tag": tags_of(ids, seed)}
    return int(_eval(cond, cols).sum())


def _eval(cond: dict, cols: dict) -> np.ndarray:
    out = None
    for key, val in cond.items():
        if key == "$and":
            m = np.logical_and.reduce([_eval(c, cols) for c in val])
        elif key == "$or":
            m = np.logical_or.reduce([_eval(c, cols) for c in val])
        else:
            col = cols[key]
            parts = []
            for op, v in val.items():
                if op == "$eq":
                    parts.append(col == v)
                elif op == "$gte":
                    parts.append(col >= v)
                elif op == "$lt":
                    parts.append(col < v)
                elif op == "$in":
                    parts.append(np.isin(col, list(v)))
                else:
                    raise ValueError(f"unsupported operator {op}")
            m = np.logical_and.reduce(parts)
        out = m if out is None else out & m
    return out


def id_batch(seed: int, stream: int, n: int, n_docs: int) -> list[int]:
    r = rng(seed, 4, stream)
    return sorted(int(x) for x in r.choice(n_docs, size=n, replace=False))


# -- store_crud: documents with text and a 64-d embedding --------------------

VOCAB = 400


def words(r: np.random.Generator, n: int) -> list[str]:
    """Zipf-like word draws over a fixed vocabulary ``w0 .. w{VOCAB-1}``."""
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()
    return [f"w{int(i)}" for i in r.choice(VOCAB, size=n, p=p)]


def crud_docs(seed: int, stream: int, ids, dim: int) -> dict:
    """Columns (id, text, embedding float64) for ``ids``."""
    ids = np.asarray(ids, dtype=np.int64)
    r = rng(seed, 5, stream)
    lens = r.integers(24, 37, size=len(ids))  # 30 words on average
    toks = words(r, int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(toks[at : at + n]))
        at += n
    emb = centers(seed, dim)[r.integers(0, N_CLUSTERS, size=len(ids))].astype(np.float64)
    emb = emb + NOISE * r.standard_normal((len(ids), dim))
    return {"id": ids, "text": texts, "embedding": emb}


def text_queries(seed: int, stream: int, n: int, terms: int = 3) -> list[str]:
    r = rng(seed, 6, stream)
    return [" ".join(f"w{int(i)}" for i in r.integers(5, 120, size=terms)) for _ in range(n)]


def permutation(seed: int, stream: int, items: list) -> list:
    order = rng(seed, 7, stream).permutation(len(items))
    return [items[i] for i in order]
