"""Product quantization: per-subvector k-means codebooks + compact code columns.

Reference surface (SURVEY.md §2.9):
- Q2 codebook creation — kmeans per subvector, k clusters, tol 0.1, ≤20 iters
  (lantern_cli/src/pq/codebook.rs:41-47,90-317); codebook table shape
  (subvector_id, centroid_id, c REAL[]) (pq/setup.rs:27).
- Q3 vector quantization — per row/subvector argmin-l2sq centroid → u8 code
  (pq/quantization.rs:17-79).
- Q6 training sampling — random offset chunk instead of ORDER BY random()
  (pq/mod.rs:125-179); Spark's `df.sample` is a cheap true random sample.
- Q4 "distributed PQ" (GCP Batch fan-out, pq/quantization.rs:180-379) collapses
  entirely into Spark partitioning — nothing to port.

Scale design:
- Codebook fit runs on a bounded sample (`max_train_rows`) — identical to the
  reference's `--dataset-limit` practice and standard for PQ (codebooks
  converge on ~100k samples regardless of corpus size). The fit is seeded
  Lloyd's with kmeans++-style deterministic init → bit-reproducible. The
  sample, its canonical sort and every subvector fit run inside ONE Spark
  task (an Arrow kernel over the limit's single partition); the driver
  receives only the k×splits centroids, and the codebook frame it builds
  keeps its float64 tensor so `quantize` does not collect it back.
- Quantization of the full table is an Arrow kernel (`mapInArrow`) with the
  codebook broadcast as one (splits × k × subdim) numpy tensor: per batch one
  reshape of the vector column and one exact selection per subvector
  (`_distance.topk`: GEMM ranking, fold-settled near-ties), every other
  column passed through as Arrow, no shuffle; scales linearly with the scan.
- Decode and the ADC scans read the code column as one flat Arrow buffer
  (`_codes`), never row by row.
- Codes are `array<smallint>` by default (oracle/array-function friendly);
  `as_binary=True` packs to BinaryType (1 byte/code — the PQVEC layout) for
  storage-bound corpora.
"""

from __future__ import annotations

import weakref
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from lantern_extras_spark.operators._distance import topk, vectors
from lantern_extras_spark.session import local_frame


def split_bounds(dim: int, splits: int) -> list[tuple[int, int]]:
    """Subvector [start, end) bounds; the last split takes the remainder
    (reference pq/codebook.rs:128-133)."""
    base = dim // splits
    bounds = [(i * base, (i + 1) * base) for i in range(splits - 1)]
    bounds.append(((splits - 1) * base, dim))
    return bounds


def _kmeans_fit(X: np.ndarray, k: int, max_iter: int = 20, tol: float = 0.1, seed: int = 42) -> np.ndarray:
    """Seeded Lloyd's k-means matching the reference's budget (tol 1e-1, 1 run,
    ≤20 iters — pq/codebook.rs:43-47). Deterministic kmeans++-style init."""
    n = X.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    # kmeans++ init
    centroids = np.empty((k, X.shape[1]), dtype=np.float64)
    centroids[0] = X[rng.randint(n)]
    d2 = ((X - centroids[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[i] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((X - centroids[i]) ** 2).sum(axis=1))
    prev_inertia = np.inf
    for _ in range(max_iter):
        # assignment via one GEMM
        d = (X * X).sum(1)[:, None] + (centroids * centroids).sum(1)[None, :] - 2.0 * X @ centroids.T
        assign = d.argmin(axis=1)
        inertia = d[np.arange(n), assign].sum()
        for c in range(k):
            mask = assign == c
            if mask.any():
                centroids[c] = X[mask].mean(axis=0)
        if abs(prev_inertia - inertia) < tol:
            break
        prev_inertia = inertia
    return centroids


# float64 tensor of each codebook frame `build_codebook` returned in this
# process, so `quantize`, `decode` and the ADC scans do not collect it back.
# Weak keys: a frame that is garbage-collected drops its entry.
_TENSORS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_FIT_SCHEMA = StructType(
    [
        StructField("subvector_id", IntegerType(), False),
        StructField("centroid_id", IntegerType(), False),
        StructField("c", ArrayType(DoubleType(), False), False),
    ]
)


def _train(
    df: DataFrame,
    vec_col: str,
    splits: int,
    k: int,
    max_train_rows: int,
    seed: int,
    max_iter: int = 20,
    tol: float = 0.1,
    total_rows: int | None = None,
) -> list[np.ndarray]:
    """Fit `k` centroids per subvector on a seeded `df.sample` capped at
    `max_train_rows` (Q6 semantics); returns one float64 (k, subdim) matrix
    per split. The limit leaves the sample in one partition, and one Arrow
    kernel over it sorts it and runs every fit: the driver receives only the
    k×splits centroids."""
    total = total_rows if total_rows is not None else df.count()
    frac = min(1.0, max_train_rows / max(total, 1) * 1.2)
    # the limit keeps the first `max_train_rows` sampled rows in (partition,
    # row) order — the rows a driver-side `limit().collect()` takes — however
    # the exchange into the one partition orders them; Spark plans it as a
    # bounded top-k (TakeOrderedAndProject)
    sample = (
        df.select(vec_col)
        .sample(fraction=frac, seed=seed)
        .withColumn("__pos", F.monotonically_increasing_id())
        .orderBy("__pos")
        .limit(max_train_rows)
        .select(vec_col)
    )

    def fit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from concurrent.futures import ThreadPoolExecutor

        cols = [b.column(0) for b in batches if b.num_rows]
        if not cols:
            return
        X = vectors(pa.concat_arrays(cols))
        # canonical row order before the fit: the sample's row order follows
        # parquet file-enumeration order, which varies with written-file
        # UUIDs; without this sort the seeded init picks different rows per
        # rebuild and "same data, same seed" fits drift between runs
        X = X[np.lexsort(X.T[::-1])]
        bounds = split_bounds(X.shape[1], splits)

        def one(s: int) -> np.ndarray:
            lo, hi = bounds[s]
            return _kmeans_fit(X[:, lo:hi], k, max_iter=max_iter, tol=tol, seed=seed + s)

        # the subvector fits are independent and numpy's GEMMs run outside
        # the GIL, so threads overlap them (the reference uses rayon here,
        # codebook.rs:248); the task's BLAS is single-threaded (Spark sets
        # OMP_NUM_THREADS to spark.task.cpus)
        with ThreadPoolExecutor(max_workers=min(splits, 16)) as pool:
            cents = list(pool.map(one, range(splits)))
        sizes = [len(m) for m in cents]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(np.arange(splits, dtype=np.int32), sizes)),
                pa.array(np.concatenate([np.arange(n, dtype=np.int32) for n in sizes])),
                pa.array([c for m in cents for c in m], pa.list_(pa.float64())),
            ],
            names=_FIT_SCHEMA.fieldNames(),
        )

    rows = sorted(sample.mapInArrow(fit, _FIT_SCHEMA).collect(), key=lambda r: (r[0], r[1]))
    if not rows:
        raise ValueError(f"no training rows in {vec_col!r}")
    return [np.array([r[2] for r in rows if r[0] == s], dtype=np.float64) for s in range(splits)]


def build_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    splits: int = 8,
    k: int = 256,
    max_train_rows: int = 100_000,
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 0.1,
    total_rows: int | None = None,
) -> DataFrame:
    """Fit the PQ codebook; returns a DataFrame (subvector_id, centroid_id, c)
    — the reference codebook table shape (pq/setup.rs:27).

    Training sample is seeded `df.sample` capped at `max_train_rows` (Q6
    semantics); each subvector is fit independently, all of them inside one
    Spark task (see `_train`). Pass `total_rows` to skip the count job (sweeps
    rebuild codebooks per variant — one count suffices). Raises ValueError
    when the sample is empty. `quantize`, `decode` and the ADC scans given the
    returned frame reuse its tensor instead of collecting it.
    """
    mats = _train(df, vec_col, splits, k, max_train_rows, seed, max_iter, tol, total_rows)
    # the table stores float32; encode with exactly the values it holds
    mats = [m.astype(np.float32).astype(np.float64) for m in mats]
    rows = [(s, cid, c.tolist()) for s, m in enumerate(mats) for cid, c in enumerate(m)]
    schema = StructType(
        [
            StructField("subvector_id", IntegerType(), False),
            StructField("centroid_id", IntegerType(), False),
            StructField("c", ArrayType(FloatType(), False), False),
        ]
    )
    frame = local_frame(df.sparkSession, rows, schema)
    _TENSORS[frame] = mats
    return frame


CODEBOOK_SCHEMA = "subvector_id int, centroid_id int, c array<float>"


def save_codebook(codebook: DataFrame, path: str) -> None:
    """Persist the codebook table (reference keeps it in
    `_lantern_internal.pq_<table>_<col>`, pq/setup.rs:27; here it's a tiny
    parquet artifact — one file, it is k×splits rows)."""
    codebook.coalesce(1).write.mode("overwrite").parquet(path)


def load_codebook(spark, path: str) -> DataFrame:
    """Load a persisted codebook; schema-pinned so quantize/ADC consume it
    directly."""
    return spark.read.schema(CODEBOOK_SCHEMA).parquet(path)


def _codebook_tensor(codebook: DataFrame) -> tuple[list[np.ndarray], int]:
    """Per-subvector centroid matrices of the codebook (subdims may differ on
    the last split): the recorded tensor of a frame `build_codebook` returned,
    else collected (e.g. a `load_codebook` frame)."""
    mats = _TENSORS.get(codebook)
    if mats is not None:
        return mats, len(mats)
    rows = codebook.select("subvector_id", "centroid_id", "c").collect()
    splits = max(r[0] for r in rows) + 1
    mats: list[np.ndarray] = []
    for s in range(splits):
        sub = sorted((r for r in rows if r[0] == s), key=lambda r: r[1])
        mats.append(np.array([list(map(float, r[2])) for r in sub], dtype=np.float64))
    return mats, splits


def quantize(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "pqvec",
    as_binary: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Attach the PQ code column: per subvector the argmin-l2sq centroid id
    (reference Q3, pq/quantization.rs:17-79). Ties break toward the lower
    centroid id (argmin first-wins), matching the reference's strict `<` scan.

    Each subvector's argmin is `_distance.topk(…, 1)`: one GEMM ranks the
    centroids and the left-to-right Σ(x−c)² fold settles near-ties, so the
    code is the argmin of the fold a SQL oracle replays, bit for bit.

    Pass `dim` (the vector length) to avoid the driver-side `first()` probe;
    the probe is kept as a fallback for ad-hoc use.
    """
    mats, splits = _codebook_tensor(codebook)
    spark = df.sparkSession
    b_mats = spark.sparkContext.broadcast(mats)
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    bounds = split_bounds(dim, splits)

    out_schema = StructType(
        df.schema.fields
        + [StructField(out_col, BinaryType() if as_binary else ArrayType(ShortType(), False))]
    )
    names = out_schema.fieldNames()

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb = b_mats.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = vectors(batch.column(vec_col))
            codes = np.empty((n, splits), dtype=np.int16)
            for s, (lo, hi) in enumerate(bounds):
                codes[:, s] = topk("l2sq", cb[s], X[:, lo:hi], 1)[0][:, 0]
            # every other column passes through as Arrow; the codes are one
            # fixed-stride list (or binary) array over the flat code buffer
            offsets = pa.py_buffer(np.arange(0, n * splits + 1, splits, dtype=np.int32))
            if as_binary:
                flat = pa.py_buffer(codes.astype(np.uint8).tobytes())
                out = pa.Array.from_buffers(pa.binary(), n, [None, offsets, flat])
            else:
                out = pa.Array.from_buffers(
                    pa.list_(pa.field("element", pa.int16(), False)), n, [None, offsets],
                    children=[pa.array(codes.ravel())],
                )
            yield pa.RecordBatch.from_arrays(batch.columns + [out], names=names)

    return df.mapInArrow(assign, out_schema)


def _codes(arr: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """(n, splits) int64 code matrix of a non-empty code column, read flat:
    `array<smallint>` through `vectors`, binary (one byte per code) straight
    from its data buffer."""
    if not pa.types.is_binary(arr.type):
        return vectors(arr).astype(np.int64)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    flat = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
    return flat.astype(np.int64).reshape(len(arr), -1)


def decode(
    df: DataFrame,
    codebook: DataFrame,
    code_col: str = "pqvec",
    out_col: str = "decoded",
) -> DataFrame:
    """Reconstruct approximate vectors from codes (centroid concatenation)."""
    mats, splits = _codebook_tensor(codebook)
    spark = df.sparkSession
    b_mats = spark.sparkContext.broadcast(mats)
    out_schema = StructType(df.schema.fields + [StructField(out_col, ArrayType(FloatType(), False))])
    names = out_schema.fieldNames()

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb = b_mats.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            codes = _codes(batch.column(code_col))
            V = np.hstack([cb[s][codes[:, s]] for s in range(splits)]).astype(np.float32)
            offsets = pa.py_buffer(np.arange(0, V.size + 1, V.shape[1], dtype=np.int32))
            out = pa.Array.from_buffers(
                pa.list_(pa.field("element", pa.float32(), False)), n, [None, offsets],
                children=[pa.array(V.ravel())],
            )
            yield pa.RecordBatch.from_arrays(batch.columns + [out], names=names)

    return df.mapInArrow(dec, out_schema)


def adc_topk(
    df: DataFrame,
    codebook: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pqvec",
) -> DataFrame:
    """Asymmetric-distance top-k: build the query's per-subvector lookup table
    (splits × k centroid distances) once, then each row's approximate distance is
    `splits` table lookups — the classic ADC scan, Arrow-batched, no shuffle.
    Returns (id, adc_distance) of the k best rows."""
    mats, splits = _codebook_tensor(codebook)
    q = np.asarray(query_vec, dtype=np.float64)
    dim = q.shape[0]
    bounds = split_bounds(dim, splits)
    lut = [((mats[s] - q[lo:hi]) ** 2).sum(axis=1) for s, (lo, hi) in enumerate(bounds)]
    spark = df.sparkSession
    b_lut = spark.sparkContext.broadcast(lut)

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("adc_distance", FloatType())]
    )

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        L = b_lut.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes = _codes(batch.column(code_col))
            dist = np.zeros(batch.num_rows)
            for s in range(splits):
                dist += L[s][codes[:, s]]
            yield pa.RecordBatch.from_arrays(
                [pa.array(batch.column(id_col).to_numpy().astype(np.int64)),
                 pa.array(dist.astype(np.float32))],
                names=out_schema.fieldNames(),
            )

    scanned = df.select(id_col, code_col).mapInArrow(scan, out_schema)
    return scanned.orderBy(F.col("adc_distance").asc(), F.col(id_col).asc()).limit(k)


def _partial_schema(id_col: str) -> StructType:
    """(query_id, id_col, adc_distance): the per-batch candidates of the
    batched ADC scans, before their finishing window."""
    return StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, LongType()),
            StructField("adc_distance", DoubleType()),
        ]
    )


def adc_topk_batch(
    df: DataFrame,
    codebook: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pqvec",
) -> DataFrame:
    """Batched ADC top-k: ALL queries in ONE Spark job. LUTs for every query
    are broadcast as one (splits × nq × n_centroids) tensor; each Arrow batch
    computes every query's ADC distances with vectorized lookups and emits a
    per-batch partial top-k per query (the knn partial-topk shape), then one
    window ranks the reduced set. Per-sweep Spark job count is O(1) in
    n_queries — this is what the autotune/recall loops call.
    Returns (query_id, id_col, adc_distance, rank≤k)."""
    mats, splits = _codebook_tensor(codebook)
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    dim = Q.shape[1]
    bounds = split_bounds(dim, splits)
    # luts[s]: (nq × n_centroids) — query q's distance to each codeword of split s
    luts = [((Q[:, None, lo:hi] - mats[s][None, :, :]) ** 2).sum(axis=2)
            for s, (lo, hi) in enumerate(bounds)]
    spark = df.sparkSession
    b = spark.sparkContext.broadcast((qids, luts))
    out_schema = _partial_schema(id_col)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qi, L = b.value
        nq = len(qi)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            codes = _codes(batch.column(code_col))
            D = np.zeros((n, nq))
            for s in range(splits):
                D += L[s][:, codes[:, s]].T
            ids = batch.column(id_col).to_numpy().astype(np.int64)
            kk = min(k, n)
            order = np.lexsort((np.broadcast_to(ids[:, None], D.shape), D), axis=0)[:kk]
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(qi, kk)), pa.array(ids[order.T.ravel()]),
                 pa.array(np.take_along_axis(D, order, axis=0).T.ravel())],
                names=out_schema.fieldNames(),
            )

    from pyspark.sql.window import Window

    partial = df.select(id_col, code_col).mapInArrow(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_distance").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_distance", "rank")
    )


def pq_recall_vs_exact(
    df: DataFrame,
    codebook: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> float:
    """Recall of ADC top-k vs exact l2 top-k over sampled queries — the
    autotune-style evaluation (reference N4/N5) specialized to PQ. All queries
    run through one batched ADC job (`adc_topk_batch`), not a per-query loop."""
    from lantern_extras_spark.operators.knn import EvalSet

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    # the sampled queries carry the vector length: no quantize `first()` probe
    dim = len(ev.queries[0][1]) if ev.queries else None
    coded = quantize(df, codebook, vec_col=vec_col, dim=dim)
    return ev.recall(adc_topk_batch(coded, codebook, ev.queries, k=k, id_col=id_col))
