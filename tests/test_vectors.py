"""The Arrow vector path shared by the kNN scorers: ``arrow_matrix`` on
degenerate and sliced inputs, the tie-exact per-partition top-k, and the
fused IVF serving pass against the SQL path."""

import math

import numpy as np
import pyarrow as pa
import pytest

from docarray_spark.functions.vectors import arrow_matrix, smallest_k, topk_pairs
from docarray_spark.operators.ann import ivf_match
from docarray_spark.operators.match import knn_graph, match

# ------------------------------------------------------------ arrow_matrix


def _stacked(rows):
    """The per-row stacking the Arrow path replaced."""
    return np.asarray([np.asarray(r, dtype=np.float64) for r in rows])


@pytest.mark.parametrize("value_type", [pa.float32(), pa.float64()])
@pytest.mark.parametrize(
    "list_type",
    [pa.list_, pa.large_list, lambda t: pa.list_(t, 3)],
    ids=["list", "large_list", "fixed_size_list"],
)
def test_arrow_matrix_bit_identical_to_row_stacking(value_type, list_type):
    rng = np.random.default_rng(7)
    rows = rng.normal(size=(50, 3)).astype(value_type.to_pandas_dtype())
    arr = pa.array(list(rows), type=list_type(value_type))
    X, valid = arrow_matrix(arr, 3)
    assert X.dtype == np.float64 and valid.all()
    assert X.tobytes() == _stacked(rows).tobytes()
    # sliced (nonzero offset) and chunked inputs read the same rows
    Xs, vs = arrow_matrix(arr.slice(7, 20), 3)
    assert vs.all() and Xs.tobytes() == _stacked(rows[7:27]).tobytes()
    Xc, vc = arrow_matrix(pa.chunked_array([arr.slice(0, 5), arr.slice(5)]), 3)
    assert vc.all() and Xc.tobytes() == X.tobytes()


@pytest.mark.parametrize("list_type", [pa.list_, pa.large_list], ids=["list", "large_list"])
def test_arrow_matrix_degenerate_rows(list_type):
    arr = pa.array(
        [[1.0, 2.0], None, [3.0, None], [4.0, 5.0, 6.0], [], [7.0, 8.0]],
        type=list_type(pa.float32()),
    )
    X, valid = arrow_matrix(arr, 2)
    # NULL row, ragged rows (3 elements, 0 elements) are invalid
    assert valid.tolist() == [True, False, True, False, False, True]
    assert X[0].tolist() == [1.0, 2.0] and X[2].tolist() == [7.0, 8.0]
    # a NULL element becomes NaN, the row stays
    assert X[1][0] == 3.0 and math.isnan(X[1][1])
    # slices starting past the degenerate rows keep their own offsets
    Xs, vs = arrow_matrix(arr.slice(2, 4), 2)
    assert vs.tolist() == [True, False, False, True]
    assert Xs[1].tolist() == [7.0, 8.0]


def test_arrow_matrix_fixed_size_list_nulls_and_slices():
    arr = pa.array([[1.0, 2.0], None, [3.0, 4.0], [5.0, 6.0]], type=pa.list_(pa.float64(), 2))
    X, valid = arrow_matrix(arr.slice(1), 2)
    assert valid.tolist() == [False, True, True]
    assert X.tolist() == [[3.0, 4.0], [5.0, 6.0]]
    # a fixed size other than dim: every row is ragged
    X, valid = arrow_matrix(arr, 3)
    assert X.shape == (0, 3) and not valid.any()


def test_arrow_matrix_all_null_and_empty():
    X, valid = arrow_matrix(pa.array([None, None], type=pa.list_(pa.float32())), 4)
    assert X.shape == (0, 4) and valid.tolist() == [False, False]
    X, valid = arrow_matrix(pa.array([], type=pa.list_(pa.float32())), 4)
    assert X.shape == (0, 4) and len(valid) == 0
    X, valid = arrow_matrix(pa.chunked_array([], type=pa.list_(pa.float32())), 4)
    assert X.shape == (0, 4) and len(valid) == 0


# ----------------------------------------------------------- tie-exact top-k


def test_topk_pairs_breaks_ties_on_id():
    d = np.array([[0.5, 0.1, 0.5, 0.5, np.nan], [np.nan, 0.2, np.nan, 0.3, 0.2]])
    ids = np.array([40, 10, 20, 30, 5])
    r, c = topk_pairs(d, ids, 3)
    got = [(int(q), int(ids[i])) for q, i in zip(r, c)]
    # query 0: 0.1 (id 10), then the 0.5 tie → ids 20, 30 (not 40);
    # query 1: the 0.2 tie → ids 5, 10, then 0.3; NaN sorts last
    assert got == [(0, 10), (0, 20), (0, 30), (1, 5), (1, 10), (1, 30)]
    # fewer finite scores than k: NaN rows fill up, ordered by id
    r, c = topk_pairs(d[:1], ids, 5)
    assert [int(ids[i]) for i in c] == [10, 20, 30, 40, 5]
    # string ids rank like Spark's ascending order
    names = np.array(["b", "a", "c"], dtype=object)
    sel = smallest_k(np.zeros(3, dtype=int), np.zeros(3), names, 2)
    assert sel.tolist() == [1, 0]


@pytest.fixture(scope="module")
def line(spark):
    """400 points on a line: every query at id % 10 == 5 has neighbours
    tied pairwise at the k-th distance."""
    rows = [(i, [i * 0.1, 1.0, 0.0, 0.0]) for i in range(400)]
    return spark.createDataFrame(rows, "id long, embedding array<double>")


def test_match_and_knn_graph_do_not_depend_on_partitioning(line):
    queries = line.filter("id % 10 = 5")
    seen_match, seen_graph = set(), set()
    for parts in (1, 2, 4, 8):
        corpus = line.repartition(parts)
        seen_match.add(tuple(sorted(map(tuple, match(
            corpus, queries, k=10, metric="sqeuclidean", eps=0.0,
        ).collect()))))
        seen_graph.add(tuple(sorted(map(tuple, knn_graph(
            corpus, k=10, metric="sqeuclidean", n_blocks=4,
        ).collect()))))
    assert len(seen_match) == 1
    assert len(seen_graph) == 1


# ------------------------------------------------- degenerate corpus rows


@pytest.fixture(scope="module")
def ragged(spark):
    """Three good rows among a NULL row, a NULL-element row and a ragged
    row, spread over more partitions than rows (empty partitions)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, None),
        (3, [0.0, 1.0, 0.0]),
        (4, [1.0, 1.0]),
        (5, [0.9, 0.1, None]),
        (6, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "id long, embedding array<float>").repartition(8)


def test_match_skips_null_and_ragged_rows(spark, ragged):
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], "id long, embedding array<double>")
    got = match(ragged, q, k=10, metric="sqeuclidean", eps=0.0).collect()
    # the NULL-element row scores NaN and ranks after every number
    assert [r.match_id for r in got] == [1, 6, 3, 5]
    assert math.isnan(got[-1].score)
    graph = knn_graph(ragged, k=10, metric="sqeuclidean", n_blocks=2).collect()
    assert {r.query_id for r in graph} <= {1, 3, 5, 6}
    assert {r.match_id for r in graph} <= {1, 3, 5, 6}


def test_match_refuses_mixed_query_dimensions(spark, ragged):
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0])], "id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="one dimension"):
        match(ragged, q, k=2)
    with pytest.raises(ValueError, match="one dimension"):
        ivf_match(ragged, q, k=2, n_cells=2, vectorized=True)


def test_ivf_vectorized_gives_null_and_ragged_rows_no_cell(spark, ragged):
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], "id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    for vectorized in (False, True):
        got = ivf_match(
            ragged, q, k=10, n_probe=2, metric="sqeuclidean", centroids=cents,
            vectorized=vectorized,
        ).collect()
        # the NaN row has no finite centroid distance → cell -1, never probed
        assert [r.match_id for r in got] == [1, 6, 3], vectorized
    # an all-NULL corpus returns nothing instead of failing
    empty = spark.createDataFrame([(1, None), (2, None)], "id long, embedding array<float>")
    assert ivf_match(
        empty, q, k=3, n_probe=2, centroids=cents, vectorized=True
    ).collect() == []
    with pytest.raises(ValueError, match="query dimension"):
        ivf_match(ragged, q, k=3, centroids=[(0, [1.0, 0.0])], vectorized=True)


def test_assign_cells_null_and_ragged_rows_on_both_branches(spark):
    from docarray_spark.operators.cluster import _assign_cells_broadcast, _assign_cells_exact

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0, 0.0]), (4, [float("nan"), 0.0])],
        "id long, v array<double>",
    )
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    for assign in (_assign_cells_exact, _assign_cells_broadcast):
        got = {r.id: r.cell for r in assign(base, cents).collect()}
        assert got == {1: 1, 2: -1, 3: -1, 4: -1}, assign.__name__


# ------------------------------------------- fused IVF pass == the SQL path


def _clustered(spark, n, dim, n_blobs, seed):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_blobs, dim)) * 3.0
    mat = centers[np.arange(n) % n_blobs] + rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, embedding array<float>"), mat


@pytest.mark.parametrize("metric", ["cosine", "sqeuclidean"])
def test_ivf_vectorized_equals_sql_path_both_argmin_branches(spark, metric):
    from docarray_spark.operators.cluster import LITERAL_ARGMIN_MAX_KD

    # k·d ≤ LITERAL_ARGMIN_MAX_KD: hash-sampled 16 cells × 16-d
    small, _ = _clustered(spark, 600, 16, 12, seed=3)
    # above it: a caller-trained 32-cell × 128-d quantizer (the serving
    # benchmark's shape), centroids = perturbed corpus rows
    big, mat = _clustered(spark, 1500, 128, 40, seed=4)
    rng = np.random.default_rng(5)
    trained = [
        (c, [float(x) for x in mat[c * 40] + 0.1 * rng.normal(size=128)]) for c in range(32)
    ]
    assert 16 * 16 <= LITERAL_ARGMIN_MAX_KD < 32 * 128
    for corpus, kw in ((small, {"n_cells": 16}), (big, {"centroids": trained, "n_cells": 32})):
        queries = corpus.filter("id % 97 = 3")
        args = dict(k=7, n_probe=3, metric=metric, round_scores=6, **kw)
        sql_rows = sorted(map(tuple, ivf_match(corpus, queries, **args).collect()))
        vec_rows = sorted(map(tuple, ivf_match(
            corpus.repartition(3), queries, vectorized=True, **args
        ).collect()))
        assert len(sql_rows) == queries.count() * 7
        assert vec_rows == sql_rows


def test_ivf_vectorized_plan_is_one_arrow_pass(spark):
    """The serving path scans (id, embedding) once: cell assignment runs
    inside the scorer, so the plan holds one MapInArrow and no Python
    UDF evaluation (the assign_cells stage it used to read)."""
    from docarray_spark.plans import explain_str, shuffle_count

    corpus, _ = _clustered(spark, 200, 8, 4, seed=1)
    out = ivf_match(corpus, corpus.filter("id < 3"), k=5, n_cells=4, vectorized=True)
    plan = explain_str(out)
    assert "MapInArrow" in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert shuffle_count(out) == 1  # the rank window's exchange only
