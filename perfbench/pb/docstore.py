"""docstore_1m: the source paper's "One Million" serving workload.

1M documents with a 128-d float32 embedding and one int tag, generated from
the seed and Spark-cached in setup (about 0.5 GB of raw floats, which fits
in the driver's cache). One closed-loop client sends the seeded op mix:
exact kNN, IVF kNN with a quantizer trained in setup, Mongo-QL conditions
and id reads, cheap ops outnumbering vector ops 10:1.
"""

from __future__ import annotations

import functools

import numpy as np

from pb import gen, oracle

N_DOCS = 1_000_000
DIM = 128
N_CHUNKS = 16
N_QUERIES = 10
K = 10
N_CELLS = 32
N_PROBE = 8
PER_PASS = {"find_vector": 1, "ann_find": 1, "find_condition": 10, "read_id": 10}
ORACLE_CHUNK = 125_000
SCORE_TOL = 1e-6


def arrow_chunks(batches, seed: int, n_docs: int, n_chunks: int, dim: int):
    """mapInArrow body: each input row is a chunk number; emit its docs."""
    import pyarrow as pa

    for batch in batches:
        for c in batch.column(0).to_pylist():
            ids, tags, emb = gen.doc_chunk(seed, n_docs, n_chunks, c, dim)
            offsets = pa.array(np.arange(0, (len(ids) + 1) * dim, dim, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(tags),
                 pa.ListArray.from_arrays(offsets, pa.array(emb.ravel(), type=pa.float32()))],
                names=["id", "tag", "embedding"],
            )


def corpus_frame(spark, seed: int, n_docs: int, n_chunks: int, dim: int):
    body = functools.partial(arrow_chunks, seed=seed, n_docs=n_docs, n_chunks=n_chunks, dim=dim)
    return spark.range(n_chunks, numPartitions=n_chunks).mapInArrow(
        body, "id long, tag long, embedding array<float>")


class Docstore:
    def __init__(self, bench, n_docs: int = N_DOCS, dim: int = DIM, n_chunks: int = N_CHUNKS):
        self.b, self.n, self.dim, self.n_chunks = bench, n_docs, dim, n_chunks
        self.seed = bench.seed
        self.per_pass = PER_PASS
        self.streams: dict[str, int] = {}

    # -- setup ---------------------------------------------------------------

    def _setup_rep(self, prev):
        from docarray_spark.operators.ann import ivf_index

        spark = self.b.spark
        if prev is not None:
            prev["corpus"].unpersist(blocking=True)
        corpus = corpus_frame(spark, self.seed, self.n, self.n_chunks, self.dim).cache()
        n = corpus.count()
        if n != self.n:
            raise RuntimeError(f"corpus has {n} rows, expected {self.n}")
        with self.b.tracer.span("operators.ann", phase="build"):
            cent, _ = ivf_index(corpus, min(N_CELLS, self.n))
            cents = [(int(r.cell), [float(x) for x in r.centroid]) for r in cent.collect()]
        return {"corpus": corpus, "centroids": cents}

    def prepare(self):
        """The oracle's copy of the corpus, regenerated in the client."""
        parts = [gen.doc_chunk(self.seed, self.n, self.n_chunks, c, self.dim)
                 for c in range(self.n_chunks)]
        self.ids = np.concatenate([p[0] for p in parts])
        self.emb = np.concatenate([p[2] for p in parts])
        del parts
        self.norms = np.sqrt(np.einsum("ij,ij->i", self.emb, self.emb, dtype=np.float64))

    def setup(self, reps: int = 1):
        self.state = self.b.setup(self._setup_rep, reps)
        self.corpus = self.state["corpus"]
        self.recalls: list[float] = []
        self.user_bytes = self.n * (8 + 8 + 4 * self.dim)
        self.cache_bytes = self.cached_bytes()

    def cached_bytes(self) -> int:
        jsc = self.b.spark.sparkContext._jsc.sc()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in jsc.getRDDStorageInfo())

    # -- ops -----------------------------------------------------------------

    def _stream(self, op: str) -> int:
        s = self.streams.get(op, 0)
        self.streams[op] = s + 1
        return s

    def _exact(self, q: np.ndarray):
        step = ORACLE_CHUNK
        return oracle.chunked_cosine_topk(
            ((self.ids[i:i + step], self.emb[i:i + step], self.norms[i:i + step])
             for i in range(0, self.n, step)), q, K)

    def _check_knn(self, rows, q, exact_required: bool):
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got.setdefault(int(r.query_id), []).append((int(r.match_id), float(r.score)))
        want = self._exact(q)
        hits = 0
        for qi in range(len(q)):
            g = got.get(qi, [])
            if len(g) != K:
                return f"query {qi}: {len(g)} results, expected {K}"
            true_d = oracle.cosine_dist(q[qi:qi + 1], self.emb[[m for m, _ in g]])[0]
            for (mid, score), d in zip(g, true_d):
                if abs(score - d) > SCORE_TOL:
                    return f"query {qi}: score {score} of id {mid} != {d}"
            hits += len({m for m, _ in g} & {m for m, _ in want[qi]})
            if exact_required:
                for (_, s), (_, w) in zip(g, want[qi]):
                    if abs(s - w) > SCORE_TOL:
                        return f"query {qi}: top-{K} scores differ from the exact top-{K}"
        if not exact_required:
            self.recalls.append(hits / (K * len(q)))
        return True

    def find_vector(self, check: bool = True):
        from docarray_spark.operators.match import find_by_vectors

        q = gen.query_batch(self.seed, 2 * self._stream("find_vector"), N_QUERIES, self.dim)

        def body(ctx):
            df = ctx.build("operators.match", lambda: find_by_vectors(self.corpus, q, k=K))
            rows = ctx.run("operators.match", df.collect)
            ctx.rec.info["rows"] = len(rows)
            return rows

        self.b.op("find_vector", body, (lambda rows: self._check_knn(rows, q, True)) if check else None)

    def ann_find(self, check: bool = True):
        from docarray_spark.operators.match import find_by_vectors

        q = gen.query_batch(self.seed, 2 * self._stream("ann_find") + 1, N_QUERIES, self.dim)
        cents = self.state["centroids"]

        def body(ctx):
            df = ctx.build("operators.ann", lambda: find_by_vectors(
                self.corpus, q, k=K, backend="ivf", centroids=cents, n_cells=len(cents),
                n_probe=N_PROBE, vectorized=True))
            rows = ctx.run("operators.ann", df.collect)
            ctx.rec.info["rows"] = len(rows)
            return rows

        self.b.op("ann_find", body, (lambda rows: self._check_knn(rows, q, False)) if check else None)

    def find_condition(self, check: bool = True):
        from docarray_spark.queryset import find

        cond = gen.tag_condition(self.seed, self._stream("find_condition"))

        def body(ctx):
            df = ctx.build("queryset", lambda: find(self.corpus, cond))
            n = ctx.run("queryset", df.count)
            ctx.rec.info["rows"] = n
            return n

        def verify(n):
            want = gen.expected_count(cond, self.n, self.seed)
            return True if n == want else f"{cond}: {n} rows, expected {want}"

        self.b.op("find_condition", body, verify if check else None)

    def read_id(self, check: bool = True):
        from docarray_spark.operators.indexing import get_by_ids

        ids = gen.id_batch(self.seed, self._stream("read_id"), 10, self.n)

        def body(ctx):
            df = ctx.build("operators.indexing", lambda: get_by_ids(self.corpus, ids))
            rows = ctx.run("operators.indexing", lambda: df.select("id", "tag").collect())
            ctx.rec.info["rows"] = len(rows)
            return rows

        def verify(rows):
            got = sorted((int(r.id), int(r.tag)) for r in rows)
            want = [(i, int(t)) for i, t in zip(ids, gen.tags_of(np.asarray(ids), self.seed))]
            return True if got == want else f"ids {ids}: got {got}"

        self.b.op("read_id", body, verify if check else None)

    def warmup_ops(self):
        """One op of each type on a ~0.2% sample of the corpus (every
        partition keeps rows, so every Python worker runs each kernel once).
        Unchecked: the oracle is still being built."""
        full = self.corpus
        sample = full.sample(fraction=0.002, seed=self.seed)

        def on_sample(op):
            def thunk():
                self.corpus = sample
                try:
                    op(check=False)
                finally:
                    self.corpus = full
            return thunk
        return [on_sample(getattr(self, op)) for op in PER_PASS]

    def next_pass(self, i: int):
        ops = [op for op, n in PER_PASS.items() for _ in range(n)]
        return [getattr(self, op) for op in gen.permutation(self.seed, i, ops)]

    def finish(self):
        self.corpus.unpersist(blocking=True)

    def extra(self) -> dict:
        return {
            "ann_recall_at_10": float(np.mean(self.recalls)) if self.recalls else None,
            "bytes_per_user_byte": self.cache_bytes / self.user_bytes,
        }
