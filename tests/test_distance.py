"""The numpy distance kernel (operators/_distance.py): the fold is
bit-identical to Spark's evaluation of functions/vector.py, and the GEMM-
ranked selections return exactly what a full fold scan returns."""

import numpy as np
import pytest

from lantern_extras_spark.functions.vector import cos_dist, inner_product, l2sq_dist
from lantern_extras_spark.operators import _distance as K


def _pairs(n=300, dim=24, seed=11):
    """Random pairs mixing float32-representable values (the embedding
    columns' type), wide magnitudes, near-identical pairs and all-zero rows."""
    rng = np.random.RandomState(seed)
    A = rng.randn(n, dim) * rng.choice([1e-3, 1.0, 1e3], size=(n, 1))
    B = rng.randn(n, dim) * rng.choice([1e-3, 1.0, 1e3], size=(n, 1))
    A[: n // 3] = A[: n // 3].astype(np.float32)
    B[n // 3 : n // 2] = A[n // 3 : n // 2] + 1e-9 * rng.randn(n // 2 - n // 3, dim)
    A[0] = 0.0
    B[1] = 0.0
    A[2] = B[2] = 0.0
    return A, B


def test_fold_is_bit_identical_to_spark(spark):
    A, B = _pairs()
    df = spark.createDataFrame(
        [(i, a.tolist(), b.tolist()) for i, (a, b) in enumerate(zip(A, B))],
        "i long, a array<double>, b array<double>",
    )
    rows = sorted(
        df.select(
            "i",
            l2sq_dist("a", "b").alias("l2sq"),
            cos_dist("a", "b").alias("cos"),
            (-inner_product("a", "b")).alias("dot"),
        ).collect()
    )
    for metric in ("l2sq", "cos", "dot"):
        spark_vals = np.array([r[metric] for r in rows], dtype=np.float64)
        mine = K.fold(metric, A, B)
        # bit patterns, so a -0.0/0.0 or last-ulp difference fails too
        assert (spark_vals.view(np.int64) == mine.view(np.int64)).all(), metric
    # the zero-norm rule: similarity 0, so cos distance exactly 1
    assert [r["cos"] for r in rows[:3]] == [1.0, 1.0, 1.0]


def _brute_topk(metric, X, Q, k, ids, dist_scale):
    out_r, out_d = [], []
    for q in Q:
        d = K._round(K.fold(metric, X, np.repeat(q[None, :], len(X), 0)), dist_scale)
        order = np.lexsort((ids, d))[:k]
        out_r.append(order)
        out_d.append(d[order])
    return np.array(out_r), np.array(out_d)


@pytest.mark.parametrize("metric", ["l2sq", "cos", "dot", "hamming"])
@pytest.mark.parametrize("dist_scale", [None, 3])
def test_topk_equals_full_fold_scan(metric, dist_scale):
    rng = np.random.RandomState(5)
    X = rng.randn(120, 8)
    X[60:] = X[:60] + 1e-12 * rng.randn(60, 8)  # near-identical twins
    X[5] = 0.0
    if metric == "hamming":
        X = rng.randint(0, 2, size=(120, 8)).astype(np.float64)
    Q = X[rng.choice(120, 15, replace=False)] + (0.0 if metric == "hamming" else 1e-13)
    ids = rng.permutation(120)
    rows, dist = K.topk(metric, X, Q, 7, ids=ids, dist_scale=dist_scale)
    want_r, want_d = _brute_topk(metric, X, Q, 7, ids, dist_scale)
    assert (rows == want_r).all() and (dist.view(np.int64) == want_d.view(np.int64)).all()


def test_topk_small_sides():
    X = np.array([[0.0, 1.0], [1.0, 0.0]])
    rows, dist = K.topk("l2sq", X, np.array([[0.5, 0.5]]), 5)
    assert rows.tolist() == [[0, 1]] and dist.tolist() == [[0.5, 0.5]]  # first wins
    rows, dist = K.topk("l2sq", X, np.empty((0, 2)), 3)
    assert rows.shape == (0, 2)


@pytest.mark.parametrize("metric", ["l2sq", "cos", "dot"])
def test_within_equals_full_fold_scan(metric):
    rng = np.random.RandomState(9)
    X = rng.randn(80, 6)
    Q = X[:10] + 1e-3 * rng.randn(10, 6)
    full = np.array([K.fold(metric, X, np.repeat(q[None, :], 80, 0)) for q in Q]).T
    radius = float(np.sort(full.ravel())[40])  # lies exactly on a fold value
    r, c, d = K.within(metric, X, Q, radius)
    want_r, want_c = np.nonzero(full <= radius)
    assert r.tolist() == want_r.tolist() and c.tolist() == want_c.tolist()
    assert (d == full[want_r, want_c]).all()


def test_vectors_decodes_chunked_and_rejects_ragged():
    import pyarrow as pa

    arr = pa.chunked_array([pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
                            pa.array([[3.0, 4.0]], pa.list_(pa.float32()))])
    assert K.vectors(arr).tolist() == [[1.0, 2.0], [3.0, 4.0]]
    with pytest.raises(ValueError, match="differ in length"):
        K.vectors(pa.array([[1.0], [1.0, 2.0]]))
    with pytest.raises(ValueError, match="null"):
        K.vectors(pa.array([[1.0], None]))
