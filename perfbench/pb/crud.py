"""store_crud: writes beside reads on a hash-bucketed parquet store.

The store (``init_parquet_store``) is on disk and not Spark-cached; next to
it live an IVF-PQ vector index (``ivfpq_refresh``) and a BM25 index
(``bm25_refresh``). One closed-loop client alternates upsert/delete batches
made visible by refreshing the touched buckets, index-served vector and
text searches, and bucket-pruned id reads. A numpy/pandas mirror of the
live documents is the oracle for every read.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import numpy as np

from pb import gen, oracle

# Sizes follow the engine's measured 1M-doc CRUD probes (NOTES.md: the
# stored-hybrid serving probe and the BM25-refresh probe), scaled down so
# a run fits the benchmark's time budget:
#   corpus   1M docs, 64-d, ~30-word texts -> 8k docs (1/125), 64-d,
#            ~30-word texts
#   batch    100-row upserts per 1M docs; scaled with the corpus that is
#            under one row, so a batch is the smallest that holds each kind
#            of change: one update, one insert and one delete
#   store    32 buckets, ~10x the batch, so a merge rewrites only the few
#            buckets it touches, as merge_parquet_store asks (n_buckets well
#            above the batch). The engine default is 64; at 64 bucket
#            directories every read of the store pays a Spark file-listing
#            job (parallel partition discovery starts above 32 paths): in
#            a 40k-doc trial an id read took 0.77 s, against 0.25 s on a
#            16-bucket store.
#   vector   16 IVF cells, PQ m=8 / ksub=64, group_buckets=4, n_probe=4,
#            exact rerank with factor 64, 20 queries a call
#   text     one 3-term query a call
N_DOCS = 8_000
DIM = 64
N_BUCKETS = 32
GROUP_BUCKETS = 4
N_CELLS = 16
N_PROBE = 4
RERANK_FACTOR = 64
PQ_M, PQ_KSUB = 8, 64
K = 10
N_VEC_QUERIES = 20
N_TEXT_QUERIES = 1
UPDATES, NEW_DOCS, DELETES = 1, 1, 1
# the four ops alternate; id reads, the cheap op, outnumber the vector op
# 10:1 as in docstore_1m
PER_PASS = {"write_visible": 1, "find_vector": 1, "text_search": 1, "read_id": 10}
SCORE_TOL = 1e-6  # relative, for scores above 1


def logical_bytes(text: str, dim: int) -> int:
    return 8 + len(text.encode()) + 8 * dim


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Crud:
    def __init__(self, bench, n_docs: int = N_DOCS, dim: int = DIM):
        self.b, self.n, self.dim, self.seed = bench, n_docs, dim, bench.seed
        self.per_pass = PER_PASS
        self.root = os.path.join(bench.work, "crud")
        self.store = os.path.join(self.root, "store")
        self.ivfpq = os.path.join(self.root, "ivfpq")
        self.bm25 = os.path.join(self.root, "bm25")
        self.streams: dict[str, int] = {}
        self.recalls: list[float] = []
        self.buckets_touched: list[int] = []
        self.next_id = n_docs

    # -- setup ---------------------------------------------------------------

    def _frame(self, cols: dict):
        import pandas as pd

        pdf = pd.DataFrame({"id": cols["id"], "text": cols["text"],
                            "embedding": list(cols["embedding"])})
        return self.b.spark.createDataFrame(pdf, "id long, text string, embedding array<double>")

    def _setup_rep(self, prev):
        from docarray_spark.operators.ann import ivf_index
        from docarray_spark.operators.index_store import bm25_refresh, ivfpq_refresh
        from docarray_spark.operators.pq import pq_train
        from docarray_spark.sources.writers import init_parquet_store

        spark, span = self.b.spark, self.b.tracer.span
        shutil.rmtree(self.root, ignore_errors=True)
        docs = gen.crud_docs(self.seed, 0, np.arange(self.n), self.dim)
        with span("sources.writers", phase="build"):
            init_parquet_store(self._frame(docs), self.store, n_buckets=N_BUCKETS)
        with span("operators.index_store.refresh", phase="build"):
            store = spark.read.parquet(self.store)
            cent, _ = ivf_index(store, N_CELLS)
            cents = [(int(r.cell), [float(x) for x in r.centroid]) for r in cent.collect()]
            books = pq_train(store, m=PQ_M, ksub=PQ_KSUB, sample=4096, n_iter=8)
            ivfpq_refresh(spark, self.store, self.ivfpq, centroids=cents, codebooks=books,
                          group_buckets=GROUP_BUCKETS)
            bm25_refresh(spark, self.store, self.bm25)
        return docs

    def prepare(self):
        pass  # the oracle is the mirror of the live docs, filled in setup

    def setup(self, reps: int = 1):
        docs = self.b.setup(self._setup_rep, reps)
        self.text = dict(zip(docs["id"].tolist(), docs["text"]))
        self.emb = dict(zip(docs["id"].tolist(), docs["embedding"]))
        self.tfs = {i: Counter(t.lower().split()) for i, t in self.text.items()}

    def finish(self):
        self.disk_bytes = tree_bytes(self.root)

    # -- helpers -------------------------------------------------------------

    def _stream(self, op: str) -> int:
        s = self.streams.get(op, 0)
        self.streams[op] = s + 1
        return s

    def _live(self) -> np.ndarray:
        return np.fromiter(sorted(self.text), dtype=np.int64)

    def _bucket_filter(self, df, i: int):
        from pyspark.sql import functions as F

        b = F.pmod(F.xxhash64(F.lit(str(i))), F.lit(N_BUCKETS)).cast("int")
        return df.filter(F.col("_bucket") == b)

    # -- ops -----------------------------------------------------------------

    def write_visible(self):
        from docarray_spark.operators.index_store import bm25_refresh, ivfpq_refresh
        from docarray_spark.sources.writers import merge_parquet_store

        s = self._stream("write_visible")
        r = gen.rng(self.seed, 8, s)
        live = self._live()
        pick = r.choice(live, size=UPDATES + DELETES, replace=False)
        upd_ids = np.concatenate([pick[:UPDATES], np.arange(self.next_id, self.next_id + NEW_DOCS)])
        del_ids = [int(x) for x in pick[UPDATES:]]
        self.next_id += NEW_DOCS
        docs = gen.crud_docs(self.seed, 1000 + s, upd_ids, self.dim)
        spark = self.b.spark

        def body(ctx):
            updates = self._frame(docs)
            deletes = spark.createDataFrame([(i,) for i in del_ids], "id long")
            summary = ctx.build("sources.writers", lambda: merge_parquet_store(
                spark, self.store, updates, n_buckets=N_BUCKETS, delete_ids=deletes))
            buckets = summary["buckets"]
            ctx.build("operators.index_store.refresh", lambda: ivfpq_refresh(
                spark, self.store, self.ivfpq, buckets=buckets))
            ctx.build("operators.index_store.refresh", lambda: bm25_refresh(
                spark, self.store, self.bm25, buckets=buckets))
            ctx.rec.info["user_bytes"] = sum(logical_bytes(t, self.dim) for t in docs["text"])
            return summary

        def check(summary):
            for i, t, e in zip(docs["id"].tolist(), docs["text"], docs["embedding"]):
                self.text[i], self.emb[i] = t, e
                self.tfs[i] = Counter(t.lower().split())
            for i in del_ids:
                self.text.pop(i, None)
                self.emb.pop(i, None)
                self.tfs.pop(i, None)
            self.buckets_touched.append(summary["affected_buckets"])
            return self._check_visible(docs["id"].tolist(), del_ids)

        self.b.op("write_visible", body, check)

    def _check_visible(self, upd_ids, del_ids):
        """Read-after-write from a fresh read of the files on disk."""
        from pyspark.sql import functions as F

        rows = (self.b.spark.read.parquet(self.store)
                .filter(F.col("id").isin(list(upd_ids) + list(del_ids))).collect())
        got = {int(r.id): r for r in rows}
        for i in del_ids:
            if i in got:
                return f"deleted id {i} still visible"
        for i in upd_ids:
            row = got.get(i)
            if row is None or row.text != self.text[i] or not np.array_equal(
                    np.asarray(row.embedding), self.emb[i]):
                return f"upserted id {i} not visible as written"
        return True

    def find_vector(self):
        from docarray_spark.operators.match import find_by_vectors

        q = gen.query_batch(self.seed, 10_000 + self._stream("find_vector"), N_VEC_QUERIES, self.dim)
        spark = self.b.spark

        def body(ctx):
            store = spark.read.parquet(self.store)
            df = ctx.build("operators.index_store.serve", lambda: find_by_vectors(
                store, q, k=K, backend="ivfpq", index_path=self.ivfpq, n_probe=N_PROBE,
                metric="sqeuclidean", rerank_corpus=store, rerank_factor=RERANK_FACTOR))
            rows = ctx.run("operators.index_store.serve", df.collect)
            ctx.rec.info["rows"] = len(rows)
            return rows

        self.b.op("find_vector", body, lambda rows: self._check_knn(rows, q))

    def _check_knn(self, rows, q):
        live = self._live()
        mat = np.stack([self.emb[int(i)] for i in live])
        want = oracle.topk(oracle.sqeuclidean_dist(q, mat), live, K)
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(int(r.query_id), []).append((int(r.match_id), float(r.score)))
        hits = 0
        for qi in range(len(q)):
            g = got.get(qi, [])
            if len(g) != K:
                return f"query {qi}: {len(g)} results, expected {K}"
            for mid, score in g:
                if mid not in self.emb:
                    return f"query {qi}: id {mid} is not a live document"
                d = float(oracle.sqeuclidean_dist(q[qi:qi + 1], self.emb[mid][None, :])[0, 0])
                if abs(score - d) > SCORE_TOL * max(1.0, d):
                    return f"query {qi}: score {score} of id {mid} != {d}"
            hits += len({m for m, _ in g} & {m for m, _ in want[qi]})
        self.recalls.append(hits / (K * len(q)))
        return True

    def text_search(self):
        from docarray_spark.operators.index_store import bm25_match_stored

        queries = gen.text_queries(self.seed, self._stream("text_search"), N_TEXT_QUERIES)
        spark = self.b.spark

        def body(ctx):
            df = ctx.build("operators.index_store.serve", lambda: bm25_match_stored(
                spark, self.bm25, queries, k=K, round_to=6))
            rows = ctx.run("operators.index_store.serve", df.collect)
            ctx.rec.info["rows"] = len(rows)
            return rows

        def check(rows):
            for qi, text in enumerate(queries):
                got = [(int(r.id), float(r.score)) for r in sorted(rows, key=lambda r: r.rank)
                       if r.query_id == qi]
                ranked = oracle.bm25_topk(self.tfs, text, len(self.tfs))
                scores = dict(ranked)
                want = ranked[:K]
                if len(got) != len(want):
                    return f"{text!r}: {len(got)} hits, expected {len(want)}"
                for (gi, gs), (_, ws) in zip(got, want):
                    # same score sequence as the oracle's top-k, and each
                    # returned id carries its own oracle score (a tie at
                    # the k-th place may pick either id)
                    if abs(gs - round(ws, 6)) > 2e-6 or abs(gs - round(scores.get(gi, -1.0), 6)) > 2e-6:
                        return f"{text!r}: id {gi} scored {gs}, oracle {scores.get(gi)} / {ws}"
            return True

        self.b.op("text_search", body, check)

    def read_id(self):
        from docarray_spark.operators.indexing import get_by_ids

        live = self._live()
        i = int(live[gen.rng(self.seed, 9, self._stream("read_id")).integers(0, len(live))])
        spark = self.b.spark

        def body(ctx):
            store = self._bucket_filter(spark.read.parquet(self.store), i)
            df = ctx.build("operators.indexing", lambda: get_by_ids(store, [i]))
            rows = ctx.run("operators.indexing", df.collect)
            ctx.rec.info["rows"] = len(rows)
            return rows

        def check(rows):
            if len(rows) != 1 or int(rows[0].id) != i:
                return f"id {i}: got {[r.id for r in rows]}"
            if rows[0].text != self.text[i] or not np.array_equal(
                    np.asarray(rows[0].embedding), self.emb[i]):
                return f"id {i}: stale content"
            return True

        self.b.op("read_id", body, check)

    def warmup_ops(self):
        return [getattr(self, op) for op in PER_PASS]

    def next_pass(self, i: int):
        ops = [op for op, n in PER_PASS.items() for _ in range(n)]
        return [getattr(self, op) for op in gen.permutation(self.seed, 100 + i, ops)]

    def extra(self) -> dict:
        live_bytes = sum(logical_bytes(t, self.dim) for t in self.text.values())
        return {
            "ann_recall_at_10": float(np.mean(self.recalls)) if self.recalls else None,
            "bytes_per_user_byte": getattr(self, "disk_bytes", 0) / live_bytes,
            "buckets_touched_per_merge": (float(np.mean(self.buckets_touched))
                                          if self.buckets_touched else None),
        }
