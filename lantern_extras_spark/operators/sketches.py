"""Count-Min sketch: fixed-size frequency summaries with one-sided error.

Reference parity: the reference keeps no CMS, but its daemon/usage layer
tracks per-key counters in bounded state (`lantern_cli/src/daemon` row-count
accounting); this module is the engine's bounded-memory generalization for
corpus-scale frequency questions — the training-pipeline companion to the
exact `textstats.heavy_hitters` (which answers "the top K exactly") for the
cases where the *keys arrive later* or sketches from disjoint corpus shards /
streaming micro-batches must be merged by addition.

Why a sketch in a batch engine at all: a groupBy(token) over a 100 TB corpus
shuffles the full vocabulary (billions of keys for URLs/ids). `cms_build`
shuffles at most depth*width cells per map task regardless of key
cardinality — the map-side combine collapses every partition to the sketch
size, so the reduce stage is O(depth*width*partitions) no matter the data.
Estimates are deterministic (portable md5 hashing) and one-sided:
est >= true count always; est <= true + eps*N with prob 1-delta for
width = ceil(e/eps), depth = ceil(ln(1/delta)) (Cormode & Muthukrishnan 2005).

All expressions are engine-portable (md5 bucket hashing) so the DuckDB
oracle replays the sketch bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lantern_extras_spark.functions.hashing import hash32
from lantern_extras_spark.functions.portable import pround
from lantern_extras_spark.session import local_frame

__all__ = [
    "cms_build",
    "cms_estimate",
    "cms_merge",
    "hll_build",
    "hll_estimate",
    "hll_merge",
    "hll_rho",
]


def _cells(key: Column, depth: int, width: int) -> Column:
    """Array of (row, bucket) cells for one key — row r uses md5 seeded
    'cms{r}', bucket = hash % width (hash32 is unsigned, so % is safe)."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (hash32(key, seed=f"cms{r}") % width).alias("b"),
            )
            for r in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min sketch over a key column → (r, b, c) cell rows.

    One narrow pass: each input row contributes `depth` (row, bucket)
    increments; the partial aggregation collapses every map task to at most
    depth*width cells before the (only) shuffle, so the exchange carries
    O(depth*width*tasks) rows however large the corpus or vocabulary is.

    `weight_col` counts that column's sum instead of row occurrences
    (e.g. pre-aggregated (token, n) inputs — equivalent by CMS linearity).
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    cell = F.explode(_cells(F.col(key_col), depth, width)).alias("cell")
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    return (
        df.select(cell, w.alias("__w"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.sum("__w").alias("c"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with identical (depth, width) by cell-wise
    addition — the property that lets disjoint corpus shards (or streaming
    micro-batches) sketch independently and combine afterwards."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("r", "b").agg(F.sum("c").alias("c"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    est_col: str = "cms_est",
) -> DataFrame:
    """Point-query the sketch for each key: min over the key's depth cells
    (absent cell = 0). The sketch is depth*width rows by construction, so it
    is always broadcast — estimating any number of keys is one narrow pass
    over the key frame plus a broadcast hash join.
    """
    e = (
        keys.select(key_col, F.explode(_cells(F.col(key_col), depth, width)).alias("cell"))
        .select(key_col, F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
    )
    j = e.join(F.broadcast(sketch), ["r", "b"], "left")
    return (
        j.withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("bigint")))
        .groupBy(key_col)
        .agg(F.min("c").alias(est_col))
    )


# ---------------------------------------------------------------------------
# HyperLogLog-style distinct sketch (Flajolet et al. 2007), portable variant
# ---------------------------------------------------------------------------
#
# Fixed-size (m registers) mergeable distinct-count sketch — the third leg of
# the bounded-state family: CMS answers "how often", KMV/this answer "how
# many distinct". `textstats.kmv_distinct` keeps the k smallest hashes (exact
# two-phase partials, good one-shot accuracy); the HLL registers here are the
# *streaming/mergeable* variant: epoch sketches combine by register-wise MAX,
# which is idempotent — a retried micro-batch cannot perturb the estimate at
# all (strictly stronger than CMS's linearity argument).
#
# Portability: bucket = hash32(key, 'hllb') % m; the register observation is
# rho = 1-based position of the lowest set bit of an independent hash32(key,
# 'hllr') (P[rho >= r+1] = 2^-r — the same geometric law as HLL's
# leading-zero rank, via plain integer arithmetic both Spark and the DuckDB
# oracle evaluate identically; no engine-specific bit intrinsics).
# Estimator: alpha_m * m^2 / sum_j 2^(-M_j) with empty registers counting
# 2^0, linear counting m*ln(m/V) when raw <= 2.5m and V empty registers
# remain (the standard small-range correction). The 32-bit large-range
# correction is omitted: with hash32's 2^32 space it only matters past ~10^8
# distinct keys per sketch — shard sketches (they merge) before that.


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_rho(h: Column) -> Column:
    """1-based position of the lowest set bit of an unsigned 32-bit value
    (33 for 0): CASE over exact integer congruences — h mod 2^r == 2^(r-1)
    iff the lowest set bit is bit r. Engine-portable by construction."""
    expr = F.when(h % 2 == 1, F.lit(1))
    for r in range(2, 33):
        expr = expr.when(h % (2**r) == 2 ** (r - 1), F.lit(r))
    return expr.otherwise(F.lit(33))


def hll_build(
    df: DataFrame,
    key_col: str,
    m: int = 256,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build the register table -> (group_cols..., b, r) rows, at most m per
    group. One narrow pass; the map-side partial MAX collapses every task to
    <= groups*m rows before the only shuffle — key cardinality never moves.
    With `group_cols` this is "distinct per group" with m registers of state
    per group (the bounded alternative to countDistinct's full-value
    shuffle), still MAX-mergeable across shards and epochs."""
    if m < 16 or m & (m - 1) != 0:
        raise ValueError(f"m must be a power of two >= 16, got {m}")
    key = F.col(key_col).cast("string")
    return (
        df.select(
            *group_cols,
            (hash32(key, seed="hllb") % m).alias("b"),
            hll_rho(hash32(key, seed="hllr")).alias("r"),
        )
        .groupBy(*group_cols, "b")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(*sketches: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Register-wise MAX — associative, commutative, and idempotent: shards
    and retried streaming epochs merge without any double-count risk."""
    if not sketches:
        raise ValueError("hll_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy(*group_cols, "b").agg(F.max("r").alias("r"))


def hll_estimate(
    sketch: DataFrame,
    m: int = 256,
    est_col: str = "hll_est",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct-count estimate from the register table: one row (per group)
    with the register occupancy, the raw HLL estimate, and the corrected
    estimate (linear counting in the small range). All arithmetic over
    <= groups*m rows."""
    if m < 16 or m & (m - 1) != 0:
        raise ValueError(f"m must be a power of two >= 16, got {m}")
    alpha = _hll_alpha(m)
    base = sketch.groupBy(*group_cols) if group_cols else sketch
    agg = base.agg(
        F.count("*").alias("n_obs"),
        # coalesce so an EMPTY sketch estimates 0 via linear counting
        # (v = m, m*ln(m/m) = 0) instead of propagating NULL
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("r").cast("double"))), F.lit(0.0)
        ).alias("__z_obs"),
    )
    z = F.col("__z_obs") + (F.lit(float(m)) - F.col("n_obs").cast("double"))
    raw = F.lit(alpha * m * m) / z
    v = F.lit(float(m)) - F.col("n_obs").cast("double")
    corrected = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.col("n_obs").cast("bigint").alias("n_registers"),
        v.cast("bigint").alias("n_zero_registers"),
        pround(raw, 4).alias("hll_raw"),
        pround(corrected, 4).alias(est_col),
    )


# ---------------------------------------------------------------------------
# Bottom-k sample sketch (mergeable fixed-size uniform sample)
# ---------------------------------------------------------------------------
#
# The fourth bounded-state sketch: CMS answers "how often", HLL/KMV "how many
# distinct", this one carries an actual k-row SIMPLE RANDOM SAMPLE of the
# rows themselves — the substrate for quantiles, means, group shares, or
# eyeballing, with every estimator inheriting the sample's determinism.
# hash32(salt:id) is a uniform random permutation of the rows (ids unique),
# so the k smallest hashes are exactly a uniform sample without replacement;
# and bottom-k of a union is the bottom-k of the merged sets, so per-shard /
# per-epoch samples MERGE exactly (Cohen & Kaplan 2007, bottom-k sketches).
# Unlike `sampling.sampled_percentiles` (hash-threshold, needs n up front,
# not mergeable) this is fixed-size, count-free, and streaming-safe.


def bottomk_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "bks",
    hash_col: str = "bk_hash",
) -> DataFrame:
    """The k rows of `df` with the smallest hash32(salt:id) (id tiebreak),
    with the hash kept in `hash_col` so downstream merges re-rank exactly.
    Executes as TakeOrderedAndProject: per-partition partial bottom-k,
    k*P-row driver merge — no global sort, no ranking window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = hash32(F.col(id_col).cast("string"), seed=salt)
    return (
        df.withColumn(hash_col, h)
        .orderBy(F.col(hash_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def bottomk_merge(
    k: int, *samples: DataFrame, id_col: str = "doc_id", hash_col: str = "bk_hash"
) -> DataFrame:
    """Merge bottom-k samples built with the same salt: union, dedupe by id
    (overlapping shards contribute a row once), keep the k smallest hashes.
    The result is IDENTICAL to a single bottom-k over the combined data —
    per-epoch streaming stores and per-shard samples compose exactly."""
    if not samples:
        raise ValueError("bottomk_merge needs at least one sample")
    u = samples[0]
    for s in samples[1:]:
        u = u.unionByName(s)
    return (
        u.dropDuplicates([id_col])
        .orderBy(F.col(hash_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def bottomk_percentiles(
    sample: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    id_col: str = "doc_id",
) -> DataFrame:
    """Discrete lower quantiles over a bottom-k sample: value at rank
    ceil(q*m) of the sample sorted by (value, id) — rank error ~sqrt(q(1-q)/k)
    of the true corpus quantile. The ranking window runs over the <= k
    sample rows only (the `sampled_percentiles` convention)."""
    from pyspark.sql.window import Window

    if not probs or any(not (0.0 < q <= 1.0) for q in probs):
        raise ValueError(f"probs must be in (0, 1]: {probs}")
    ranked = sample.select(
        F.col(value_col).alias("__v"), F.col(id_col).alias("__id")
    ).withColumn(
        "__rn",
        F.row_number().over(Window.orderBy(F.col("__v").asc(), F.col("__id").asc())),
    )
    m = ranked.agg(F.count("*").alias("__m"))
    qdf = local_frame(
        sample.sparkSession, [(float(q),) for q in sorted(probs)], "prob double"
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(qdf),
            F.col("__rn") == F.greatest(F.lit(1), F.ceil(F.col("prob") * F.col("__m"))),
        )
        .select("prob", F.col("__v").alias("estimate"), F.col("__m").alias("n_sample"))
        .orderBy("prob")
    )
