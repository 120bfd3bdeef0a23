"""Scalar quantization (SQ8) — the third member of the compressed-search
family next to PQ (operators/pq.py) and IVF (operators/ivf.py).

Per-dimension affine int8 quantization: code_i = round((v_i − min_i) ·
255 / (max_i − min_i)), clamped to [0, 255]. Search runs on DEQUANTIZED
codes (v̂_i = min_i + code_i·step_i), so a scan reads ~¼ of the float32
bytes (half that again if stored byte-shifted) at a quantization error
bounded by step/2 per dimension — the classic accuracy/IO middle ground
between exact float scan and PQ's 32× compression. The reference's index
server speaks exactly this representation on the wire (I8 element frames,
serving/index_server.py; lantern_cli/src/external_index/server.rs element
types), so SQ8 is the storage-side twin of that protocol surface.

Everything is a pure Column expression (whole-stage codegen, no Python
workers) and every step — bounds, encode, dequantized distance, top-k — is
exact double arithmetic, so a DuckDB oracle replays the whole pipeline
bit-for-bit (the engine's cross-engine determinism contract).

Scale shape: `sq8_train` is one posexplode + groupBy(dim) whose shuffle
carries partitions×dim partial rows (same contract as `embedding_drift`);
encode is a narrow projection; `sq8_topk` is orderBy(limit) →
TakeOrderedAndProject (per-partition partial top-k, k rows to the driver,
never a global sort); the multi-query join broadcasts the query side and
streams the corpus exactly like `knn_join`'s broadcast path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window



def sq8_train(df: DataFrame, vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Exact per-dimension (min, max) bounds — the entire SQ8 'codebook'
    (2·dim doubles; persist them next to the coded table). One narrow
    posexplode + partial-aggregated groupBy(dim); only the dim-sized result
    is collected."""
    rows = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train: empty input — no bounds to fit")
    by_dim = {r["dim"]: (r["mn"], r["mx"]) for r in rows}
    dims = sorted(by_dim)
    counts = {r["n"] for r in rows}
    if dims != list(range(len(dims))) or len(counts) != 1:
        raise ValueError(
            f"sq8_train: ragged vectors (dims seen: {dims[:8]}…, "
            f"per-dim counts: {sorted(counts)[:4]})"
        )
    mins = [float(by_dim[d][0]) for d in dims]
    maxs = [float(by_dim[d][1]) for d in dims]
    return mins, maxs


def _consts(mins: list[float], maxs: list[float]):
    scales = [255.0 / (mx - mn) if mx > mn else 0.0 for mn, mx in zip(mins, maxs)]
    steps = [(mx - mn) / 255.0 if mx > mn else 0.0 for mn, mx in zip(mins, maxs)]
    return scales, steps


def sq8_encode(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    vec_col: str = "embedding",
    out_col: str = "sq8",
    drop_vec: bool = True,
) -> DataFrame:
    """Attach the SQ8 code array (`array<smallint>`, values 0–255; subtract
    128 and cast to tinyint at the storage layer for the final 2×).
    Constant-dim degenerate case (max == min) codes to 0 and dequantizes
    back to the constant exactly."""
    v = F.col(vec_col).cast("array<double>")
    mins_a = F.lit([float(x) for x in mins]).cast("array<double>")
    scales, _ = _consts(mins, maxs)
    scales_a = F.lit(scales).cast("array<double>")
    shifted = F.zip_with(v, mins_a, lambda a, b: a - b)
    codes = F.zip_with(
        shifted, scales_a,
        lambda a, s: F.least(
            F.lit(255), F.greatest(F.lit(0), F.floor(a * s + F.lit(0.5)).cast("int"))
        ),
    ).cast("array<smallint>")
    out = df.withColumn(out_col, codes)
    return out.drop(vec_col) if drop_vec else out


def sq8_distance_col(
    code_col: Column | str,
    mins: list[float],
    maxs: list[float],
    query_vec: list[float],
) -> Column:
    """l2sq distance between a code array and a float query, evaluated on the
    dequantized values: diff_i = (min_i − q_i) + code_i·step_i, summed as a
    left fold (the same summation order every engine replays)."""
    codes = (F.col(code_col) if isinstance(code_col, str) else code_col).cast("array<double>")
    _, steps = _consts(mins, maxs)
    c1 = [float(mn - q) for mn, q in zip(mins, query_vec)]
    steps_a = F.lit(steps).cast("array<double>")
    c1_a = F.lit(c1).cast("array<double>")
    scaled = F.zip_with(codes, steps_a, lambda c, s: c * s)
    diff = F.zip_with(scaled, c1_a, lambda a, b: a + b)
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)


def sq8_topk(
    coded: DataFrame,
    mins: list[float],
    maxs: list[float],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq8",
) -> DataFrame:
    """Single-query top-k over the coded table: orderBy(distance, id).limit(k)
    plans as TakeOrderedAndProject — partial per-partition top-k, k rows to
    the driver, the scan reading only (id, codes)."""
    d = sq8_distance_col(code_col, mins, maxs, query_vec)
    return (
        coded.select(id_col, d.alias("distance"))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sq8_knn_join(
    coded: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq8",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    dist_scale: int | None = None,
) -> DataFrame:
    """Multi-query top-k: broadcast the query side onto the code scan (the
    `knn_join` shape — the corpus never shuffles), fold the dequantized
    distance per (row, query), finish with one per-query rank window over
    the scored pairs. Returns (qid_col, id_col, distance, rank ≤ k).
    `dist_scale` rounds the distance (pround) BEFORE ranking — the
    engine-parity config, so an oracle ranking rounded values can never
    disagree on near-tie order.

    Dequantization constants are per-QUERY expressions, so the join stays a
    single broadcast-nested-loop over q rows — at 100 TB the cost is the
    (¼-sized) code scan, exactly like the float `knn_join` but cheaper IO."""
    _, steps = _consts(mins, maxs)
    steps_a = F.lit(steps).cast("array<double>")
    mins_a = F.lit([float(x) for x in mins]).cast("array<double>")
    codes = F.col(code_col).cast("array<double>")
    dq = F.zip_with(
        F.zip_with(codes, steps_a, lambda c, s: c * s), mins_a, lambda a, b: a + b
    )
    diff = F.zip_with(dq, F.col(qvec_col).cast("array<double>"), lambda a, b: a - b)
    d = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    if dist_scale is not None:
        from lantern_extras_spark.functions.portable import pround

        d = pround(d, dist_scale)
    scored = coded.crossJoin(F.broadcast(queries.select(qid_col, qvec_col))).select(
        qid_col, id_col, d.alias("distance")
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "distance", "rank")
    )


def sq8_recall_vs_exact(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> float:
    """Recall of SQ8 top-k against exact float kNN over sampled queries —
    the honesty dial every approximate path here carries (N4-style eval,
    same harness as `ivf_recall_vs_exact`)."""
    from lantern_extras_spark.operators.knn import EvalSet

    mins, maxs = sq8_train(df, vec_col)
    coded = sq8_encode(df, mins, maxs, vec_col=vec_col, drop_vec=False).cache()
    coded.count()
    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    rec = ev.recall(sq8_knn_join(coded, ev.queries_df, mins, maxs, k=k, id_col=id_col))
    coded.unpersist()
    return rec


def sq8_pack(df: DataFrame, code_col: str = "sq8", out_col: str | None = None) -> DataFrame:
    """Storage form: shift codes 0–255 to −128..127 and cast to
    `array<tinyint>` — one byte per dimension on disk (parquet stores
    tinyint as INT32 logical-annotated int8; columnar encoding + dictionary
    keeps it at byte scale), the honest ¼-of-float32 footprint the module
    docstring claims. `sq8_unpack` restores search-form codes exactly."""
    c = out_col or code_col
    packed = F.transform(F.col(code_col), lambda x: (x - 128).cast("byte"))
    return df.withColumn(c, packed)


def sq8_unpack(df: DataFrame, code_col: str = "sq8", out_col: str | None = None) -> DataFrame:
    """Inverse of `sq8_pack`: bytes −128..127 back to search-form 0–255."""
    c = out_col or code_col
    codes = F.transform(F.col(code_col), lambda x: (x.cast("smallint") + 128).cast("smallint"))
    return df.withColumn(c, codes)
