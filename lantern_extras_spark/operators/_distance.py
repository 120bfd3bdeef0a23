"""The numpy distance kernel of the Arrow operators: fast GEMM ranking,
exact fold scores.

`functions/vector.py` defines every metric as a Spark Column fold: one
left-to-right double sum per vector pair. The expansion a GEMM computes
(‖x‖² + ‖q‖² − 2x·q for l2sq) is far faster, but it rounds differently, so
near-ties can rank differently than the fold (and the DuckDB oracle, which
replays the fold). This module closes that gap:

- `vectors`: (n, dim) float64 matrix of an Arrow list column;
- `gemm`: the BLAS distance matrix (approximate in the last bits);
- `fold`: the exact per-pair fold, bit-identical to Spark's evaluation of
  `functions/vector.py` (same operations in the same order, IEEE doubles);
- `topk`, `within`: exact selections. GEMM ranks every pair; the fold then
  re-scores each pair whose GEMM value lies within the expansion's rounding
  bound (`_slack`) of the decision value (the k-th value, or the radius).
  Every distance and order they return comes from the fold, so results
  equal the Column fold's bit for bit at close to GEMM cost.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_EPS = np.finfo(np.float64).eps


def vectors(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """(n, dim) float64 matrix of an Arrow list column of equal-length
    vectors: one reshape of the flattened values, no per-row objects."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks() if arr.num_chunks != 1 else arr.chunk(0)
    if arr.null_count:
        raise ValueError("null vector")
    lens = np.diff(arr.offsets.to_numpy())
    if len(lens) and (lens != lens[0]).any():
        raise ValueError("vectors differ in length")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return flat.reshape(len(arr), int(lens[0]) if len(lens) else 0)


def gemm(metric: str, X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Distance matrix |X| × |Q| in float64 (one BLAS call for the GEMM
    metrics). Within `_slack` of the fold, not equal to it."""
    if metric == "l2sq":
        # ||x||^2 + ||q||^2 - 2 x·q  — one GEMM instead of a python loop
        xq = X @ Q.T
        return (X * X).sum(axis=1)[:, None] + (Q * Q).sum(axis=1)[None, :] - 2.0 * xq
    if metric == "cos":
        xn = np.linalg.norm(X, axis=1)
        qn = np.linalg.norm(Q, axis=1)
        denom = xn[:, None] * qn[None, :]
        sim = np.divide(X @ Q.T, denom, out=np.zeros((X.shape[0], Q.shape[0])), where=denom != 0)
        return 1.0 - sim
    if metric == "dot":
        return -(X @ Q.T)
    if metric == "hamming":
        return (X[:, None, :] != Q[None, :, :]).sum(axis=2).astype(np.float64)
    raise ValueError(metric)


def _sum(terms: np.ndarray) -> np.ndarray:
    """Row sums accumulated left to right from 0.0: Spark's
    `aggregate(arr, 0.0, (acc, x) -> acc + x)`."""
    acc = np.zeros(len(terms))
    for col in np.ascontiguousarray(terms.T):
        acc += col
    return acc


def fold(metric: str, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Distance of each row pair (A[i], B[i]), evaluated exactly as
    `knn.distance_col` evaluates it in Spark: l2sq Σ(a−b)², cos
    1 − a·b/(‖a‖‖b‖) with similarity 0 on a zero norm, dot −a·b,
    hamming the count of differing positions."""
    if metric == "l2sq":
        d = A - B
        return _sum(d * d)
    if metric == "dot":
        return -_sum(A * B)
    if metric == "cos":
        denom = np.sqrt(_sum(A * A)) * np.sqrt(_sum(B * B))
        zero = denom == 0.0
        sim = _sum(A * B) / np.where(zero, 1.0, denom)
        return 1.0 - np.where(zero, 0.0, sim)
    if metric == "hamming":
        return (A != B).sum(axis=1).astype(np.float64)
    raise ValueError(metric)


def _slack(metric: str, X: np.ndarray, Q: np.ndarray) -> np.ndarray | float:
    """Upper bound on |gemm − fold| per pair. Both are sums of `dim` rounded
    terms; together their errors stay under ~4·dim·ε times the magnitudes
    summed (‖x‖² + ‖q‖² for l2sq, ‖x‖‖q‖ for dot, 1 for cos, whose
    similarity is normalized). 8·(dim + 4)·ε keeps a 2× margin over that."""
    c = 8.0 * (X.shape[1] + 4) * _EPS
    if metric == "l2sq":
        return c * ((X * X).sum(axis=1)[:, None] + (Q * Q).sum(axis=1)[None, :])
    if metric == "dot":
        return c * np.sqrt((X * X).sum(axis=1))[:, None] * np.sqrt((Q * Q).sum(axis=1))[None, :]
    if metric == "cos":
        return c
    return 0.0  # hamming counts are exact


def _round(d: np.ndarray, dist_scale: int | None) -> np.ndarray:
    """`portable.pround`: floor(d·10ˢ + 0.5) / 10ˢ, the same IEEE steps."""
    if dist_scale is None:
        return d
    s = float(10**dist_scale)
    return np.floor(d * s + 0.5) / s


def _step(dist_scale: int | None) -> float:
    """How far above its decision value a distance can lie and still round
    onto it: one rounding step."""
    return 0.0 if dist_scale is None else 1.0 / float(10**dist_scale)


def topk(
    metric: str,
    X: np.ndarray,
    Q: np.ndarray,
    k: int,
    ids: np.ndarray | None = None,
    dist_scale: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """For each row of Q, its min(k, |X|) nearest rows of X under the
    (distance, id) order; `ids` defaults to the row index (first-wins ties).
    Distances are fold values, rounded by `dist_scale` before ranking.
    Returns (rows, dist), each (|Q|, min(k, |X|)), rows indexing X in rank
    order.

    A row whose GEMM value is more than the slack above the k-th smallest
    upper bound (GEMM + slack) cannot reach the top k: at least k rows have
    a fold value at or under that bound. Every other pair is re-scored."""
    kk = min(k, len(X))
    if ids is None:
        ids = np.arange(len(X))
    if kk == 0 or len(Q) == 0:
        return np.empty((len(Q), kk), dtype=np.int64), np.empty((len(Q), kk))
    G = gemm(metric, X, Q)
    e = _slack(metric, X, Q)
    bound = np.partition(G + e, kk - 1, axis=0)[kk - 1] + _step(dist_scale)
    G -= e
    # negated so NaN scores stay candidates (the fold then ranks them last)
    cols, rows = np.nonzero(~(G > bound[None, :]).T)
    d = _round(fold(metric, X[rows], Q[cols]), dist_scale)
    order = np.lexsort((ids[rows], d, cols))
    starts = np.concatenate(([0], np.cumsum(np.bincount(cols, minlength=len(Q)))[:-1]))
    take = order[starts[:, None] + np.arange(kk)[None, :]]
    return rows[take], d[take]


def within(
    metric: str,
    X: np.ndarray,
    Q: np.ndarray,
    radius: float,
    dist_scale: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every pair (X[r], Q[c]) whose fold distance, rounded by `dist_scale`,
    is at most `radius`. Returns (rows, cols, dist) in row-major order."""
    G = gemm(metric, X, Q)
    e = _slack(metric, X, Q)
    G -= e
    rows, cols = np.nonzero(~(G > radius + _step(dist_scale)))
    d = _round(fold(metric, X[rows], Q[cols]), dist_scale)
    keep = d <= radius
    return rows[keep], cols[keep], d[keep]
