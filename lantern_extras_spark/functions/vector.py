"""Vector distance/similarity functions as native Spark Column expressions.

Reference surface: `l2sq_dist`, `cos_dist`, `hamming_dist` and the `<->`/`<=>`/`<+>`
operator map (reference: lantern_cli/src/external_index/cli.rs:97-123, SURVEY.md §2.7 X15).

Everything here is pure `pyspark.sql.functions` — higher-order functions over
`array<float|double>` columns. That keeps the hot path inside JVM whole-stage codegen:
no Python round-trip, vectorized parquet scan straight into the expression. For a
100 TB scan with a distance in the predicate or projection this is the difference
between a bandwidth-bound job and a Python-bound one. The numpy mirror for the
Arrow kernels is operators/_distance.py: `fold` evaluates these same folds bit
for bit, and `gemm` is the batch-BLAS ranking they are re-scored from.

All functions cast inputs to double before arithmetic so results are deterministic
and match the DuckDB oracle (which computes list functions in double after a
`::DOUBLE[]` cast).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def inner_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ. Reference metric `<+>` returns the *negative* inner product for
    index ordering; we expose the plain dot product and let callers negate."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2sq_dist(a: Column | str, b: Column | str) -> Column:
    """Squared euclidean distance (reference `<->` / `l2sq`)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_dist(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(l2sq_dist(a, b))


def vector_norm(a: Column | str) -> Column:
    return F.sqrt(inner_product(a, a))


def cos_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either norm is zero (instead of NaN) so that
    all-zero vectors (FIXTURES.md §5 has an exact-zero row) behave deterministically."""
    denom = vector_norm(a) * vector_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(inner_product(a, b) / denom)


def cos_dist(a: Column | str, b: Column | str) -> Column:
    """Cosine distance 1 - cos_sim (reference `<=>`)."""
    return F.lit(1.0) - cos_sim(a, b)


def hamming_dist(a: Column | str, b: Column | str) -> Column:
    """Hamming distance over element-wise comparison of integer arrays
    (reference hamming operates on bit vectors; here an `array<int>` of
    {0,1} — or any ints — counts differing positions)."""
    return F.aggregate(
        F.zip_with(F.col(a) if isinstance(a, str) else a,
                   F.col(b) if isinstance(b, str) else b,
                   lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def vector_checksum(a: Column | str, scale: int = 5) -> Column:
    """Rounded element sum — a scalar fingerprint of a vector used by the
    correctness harness to compare array columns across engines without
    depending on array serialization formats."""
    from lantern_extras_spark.functions.portable import pround

    return pround(F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x), scale)
