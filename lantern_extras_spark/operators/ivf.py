"""IVF (inverted-file) approximate nearest-neighbor search — the scale path
for similarity search over an embedding column.

Brute-force kNN (operators/knn.py) scans everything; at 100 TB the winning
offline structure is coarse quantization: cluster the corpus into `nlist`
cells, co-partition each cell's vectors, and search only the `nprobe` cells
nearest to the query. This is the classic IVF-Flat layout (the same role HNSW
plays for the reference online; reference's index surface N1 is out of Spark
scope per BASELINE.json).

Spark design:
- `build_ivf` fits coarse centroids on a bounded sample (PQ's seeded k-means
  with one split, inside one Spark task) and attaches a `cell` column.
  Persisting the result **partitioned by cell** turns every probe into
  partition pruning: a query reads nprobe/nlist of the data — the scan itself
  shrinks, not just the compute.
- `ivf_topk` ranks centroids driver-side (nlist is small), filters to probed
  cells (`cell IN (...)` pushes to parquet when the table is partitioned), and
  runs exact distance top-k inside the probed subset.
- `ivf_knn_join` / `ivf_range_join` keep both sides distributed: cells are
  assigned and probed by Arrow kernels, then each cell is joined by a
  cogrouped kernel.
- Every numpy distance goes through `_distance`: GEMM ranks, the exact fold
  scores, so cells, distances and order equal the Column fold's
  (`functions/vector.py`) bit for bit.
- `build_ivf_pq` composes IVF with PQ: each cell's residuals (v − centroid)
  are product-quantized, and `ivf_pq_topk[_batch]` scans them with
  per-(query, cell) ADC lookup tables.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from lantern_extras_spark.operators._distance import topk, vectors, within
from lantern_extras_spark.operators.knn import METRICS, distance_col
from lantern_extras_spark.operators.pq import _train
from lantern_extras_spark.session import local_frame


def build_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 16,
    max_train_rows: int = 100_000,
    seed: int = 42,
    cell_col: str = "cell",
    total_rows: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit `nlist` coarse centroids (seeded, sample-bounded) and attach the
    nearest-centroid cell id. Returns (df+cell, centroids).

    Write the result with `.write.partitionBy(cell_col)` so probes prune
    partitions at the storage layer. Pass `total_rows` to skip the count job.
    The fit is PQ's with one split (`pq._train`): it runs in one Spark task
    and only the centroids reach the driver. Raises ValueError when the
    sample is empty."""
    (centroids,) = _train(df, vec_col, 1, nlist, max_train_rows, seed, total_rows=total_rows)
    assigned = assign_cells(df, centroids.tolist(), vec_col, cell_col)
    return assigned, [list(map(float, c)) for c in centroids]


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment: argmin-l2sq over the centroid array with
    first-wins tie-break (same kernel contract as PQ Q3).

    An Arrow kernel: per batch one GEMM ranks the centroids and the exact
    fold (`_distance.topk`) settles near-ties, so the cell is the argmin of
    `l2sq_dist` as Spark (and the DuckDB oracle) evaluate it. Every other
    column passes through as Arrow."""
    C = np.asarray(centroids, dtype=np.float64)
    bC = df.sparkSession.sparkContext.broadcast(C)
    out_schema = StructType(df.schema.fields + [StructField(cell_col, IntegerType())])
    names = out_schema.fieldNames()

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        Cm = bC.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            near, _ = topk("l2sq", Cm, vectors(batch.column(vec_col)), 1)
            cells = pa.array(near[:, 0].astype(np.int32))
            yield pa.RecordBatch.from_arrays(batch.columns + [cells], names=names)

    return df.mapInArrow(kernel, out_schema)


def _auto_nlist(total: int, rows_per_cell: int = 2000) -> int:
    """`nlist=None` auto-scale: ~`rows_per_cell` corpus rows per cell, floor
    16 — the same lever as `semantic_dedup`'s, keeping per-cell work bounded
    as the corpus grows instead of going quadratic past nlist·rows_per_cell."""
    import math

    return max(16, math.ceil(max(total, 1) / rows_per_cell))


def _check_max_cell(ccells: DataFrame, qprobes: DataFrame, max_cell: int, op: str) -> None:
    """Fail-loud hot-cell guard (mirrors `semantic_dedup`'s max_cell,
    dedup.py): the cogrouped per-cell kernel materializes one whole cell —
    plus everything probing it — in a single worker's memory, so a cell that
    outgrew `max_cell` must raise with the remedy spelled out rather than
    OOM an executor mid-join at scale. One aggregation counts both sides'
    cells (a side-tagged union, one shuffle) and collects only violators
    (tiny by definition)."""
    tagged = ccells.select("cell", F.lit("corpus").alias("side")).unionByName(
        qprobes.select("cell", F.lit("query-probe").alias("side"))
    )
    rows = tagged.groupBy("side", "cell").count().where(F.col("count") > max_cell).collect()
    for side in ("corpus", "query-probe"):
        hot = [r for r in rows if r["side"] == side]
        if hot:
            worst = ", ".join(f"cell {r['cell']}={r['count']}" for r in hot[:5])
            raise ValueError(
                f"{op}: {len(hot)} {side} cell(s) exceed max_cell="
                f"{max_cell} ({worst}). Raise nlist (finer clustering; cells "
                f"shrink ~linearly) or max_cell — a cell this hot would OOM the "
                f"per-cell kernel on a real executor."
            )


def probe_cells(centroids: list[list[float]], query_vec: list[float], nprobe: int) -> list[int]:
    """Driver-side centroid ranking (nlist is tiny): the `nprobe` nearest
    cells under the exact (l2sq fold, cell id) order."""
    C = np.asarray(centroids, dtype=np.float64)
    near, _ = topk("l2sq", C, np.asarray([query_vec], dtype=np.float64), nprobe)
    return [int(i) for i in near[0]]


def ivf_topk(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Approximate top-k: exact distance ranking restricted to the nprobe
    nearest cells. With a cell-partitioned table the `isin` filter becomes
    partition pruning — the scan reads only probed cells."""
    cells = probe_cells(centroids, query_vec, nprobe)
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    return (
        indexed_df.where(F.col(cell_col).isin(cells))
        .withColumn("distance", distance_col(metric, F.col(vec_col), q))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _pair_schema(qid_col: str, id_col: str) -> StructType:
    return StructType(
        [
            StructField(qid_col, LongType()),
            StructField(id_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )


def _pairs(schema: StructType, qids, ids, dist) -> pa.Table:
    """One (qid, id, distance) Arrow table of `schema`'s three columns."""
    return pa.table(
        [pa.array(np.asarray(qids, dtype=np.int64)), pa.array(np.asarray(ids, dtype=np.int64)),
         pa.array(np.asarray(dist, dtype=np.float64))],
        names=schema.fieldNames(),
    )


def ivf_topk_batch(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Batched IVF top-k: ALL queries in ONE Spark job. The scan is pruned to
    the UNION of every query's probed cells (still partition pruning on a
    cell-partitioned table); inside the Arrow kernel each query ranks only the
    rows whose cell it probed (`_distance.topk`, exact fold distances),
    emitting a per-batch partial top-k per query; one window finishes the
    ranking. Per-sweep job count is O(1) in n_queries.
    Returns (query_id, id_col, distance, rank≤k)."""
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    qcells = [probe_cells(centroids, list(map(float, q[1])), nprobe) for q in queries]
    union_cells = sorted({c for cs in qcells for c in cs})
    spark = indexed_df.sparkSession
    b = spark.sparkContext.broadcast((qids, Q, qcells))
    out_schema = _pair_schema("query_id", id_col)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qi, Qm, cellsets = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            X = vectors(batch.column(vec_col))
            ids = batch.column(id_col).to_numpy().astype(np.int64)
            cells = batch.column(cell_col).to_numpy()
            for j in range(len(qi)):
                idx = np.nonzero(np.isin(cells, cellsets[j]))[0]
                if len(idx) == 0:
                    continue
                rows, dist = topk(metric, X[idx], Qm[j : j + 1], k, ids=ids[idx])
                yield from _pairs(
                    out_schema, np.full(rows.shape[1], qi[j]), ids[idx][rows[0]], dist[0]
                ).to_batches()

    pruned = indexed_df.where(F.col(cell_col).isin([int(c) for c in union_cells])).select(
        id_col, cell_col, vec_col
    )
    partial = pruned.mapInArrow(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "distance", "rank")
    )


def probe_cells_df(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    qvec_col: str = "query_vec",
    cell_col: str = "cell",
) -> DataFrame:
    """Distributed multi-probe assignment: each query row explodes into its
    `nprobe` nearest cells (ties broken by cell id — same contract as
    `probe_cells`). This is the query-side half of `ivf_knn_join`: queries
    never touch the driver, so the query frame can be as large as the corpus.

    An Arrow kernel: one GEMM per batch ranks the centroids, the exact fold
    (`_distance.topk`) settles near-ties, and each row repeats `nprobe`
    times with every other column passed through as Arrow."""
    C = np.asarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, len(centroids))
    bC = queries.sparkSession.sparkContext.broadcast(C)
    out_schema = StructType(queries.schema.fields + [StructField(cell_col, IntegerType())])
    names = out_schema.fieldNames()

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        Cm = bC.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            near, _ = topk("l2sq", Cm, vectors(batch.column(qvec_col)), nprobe)
            rep = batch.take(pa.array(np.repeat(np.arange(n), nprobe)))
            cells = pa.array(near.reshape(-1).astype(np.int32))
            yield pa.RecordBatch.from_arrays(rep.columns + [cells], names=names)

    return queries.mapInArrow(kernel, out_schema)


def _cogroup_cells(
    op: str,
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int,
    nlist: int | None,
    metric: str,
    centroids: list[list[float]] | None,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    max_train_rows: int,
    seed: int,
    max_cell: int,
):
    """The shared front half of the IVF joins: fit `nlist` centroids unless
    given, assign the corpus to cells (a `cell` column already present is
    honored), explode the queries into their `nprobe` cells, run the
    hot-cell guard, and cogroup both sides on `cell`."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    if centroids is None:
        total = corpus.count()
        if nlist is None:
            nlist = _auto_nlist(total)
        _, centroids = build_ivf(corpus, vec_col=vec_col, nlist=nlist,
                                 max_train_rows=max_train_rows, seed=seed,
                                 total_rows=total)
    nprobe = min(nprobe, len(centroids))
    if "cell" in corpus.columns:
        # pre-assigned corpus (e.g. read from a cell-partitioned table):
        # skip the assignment kernel entirely — with partitioned storage the
        # downstream cell filter/shuffle starts from pruned scans
        ccells = corpus.select(id_col, vec_col, "cell")
    else:
        ccells = assign_cells(corpus.select(id_col, vec_col), centroids, vec_col=vec_col)
    qprobes = probe_cells_df(queries.select(qid_col, qvec_col), centroids,
                             nprobe, qvec_col=qvec_col)
    _check_max_cell(ccells, qprobes, max_cell, op)
    return ccells.groupBy("cell").cogroup(qprobes.groupBy("cell"))


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    nlist: int | None = 16,
    metric: str = "l2sq",
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    max_train_rows: int = 100_000,
    seed: int = 42,
    dist_scale: int | None = None,
    max_cell: int = 100_000,
) -> DataFrame:
    """Cross-corpus approximate kNN join — BOTH sides large and distributed.

    `knn_join` broadcasts the query side in driver-collected blocks (every
    collect bounded at 100k rows) and scans the data side once per block; a
    training pipeline's embedding-level decontamination is corpus-vs-corpus
    (every eval-set vector against every training vector — the vector analog
    of `decontaminate`; the reference's single-query shape is
    index_autotune/mod.rs:196-203). The scale shape here:

    1. fit `nlist` coarse centroids on a bounded corpus sample (skipped when
       `centroids` is passed — reuse a persisted codebook),
    2. assign every corpus row to its cell (narrow, no shuffle),
    3. explode every query row into its `nprobe` nearest cells (narrow),
    4. ONE shuffle of each side on `cell`, then a cogrouped per-cell Arrow
       kernel (`_distance.topk`: GEMM ranking, exact fold distances) emits
       a per-(cell, query) partial top-k — output ≤ |queries|·nprobe·k rows,
    5. one window finishes the global per-query top-k.

    No side is ever collected; skew is bounded by cell granularity (raise
    `nlist` so cells fit executor memory — cells ≈ |corpus|/nlist rows).
    With a cell-partitioned corpus table, pass its `cell` column through by
    pre-assigning and calling with centroids=... to skip step 2 entirely.

    `nlist=None` auto-scales to ~2000 corpus rows/cell (ignored when
    `centroids` is passed). `max_cell` is the fail-loud hot-cell guard for
    the cogrouped kernel: a skewed corpus — one dense cluster holding most
    rows — would otherwise OOM the executor that receives that cell;
    instead the join refuses up-front with the remedy (raise nlist) spelled
    out. Both the corpus side and the query-probe side are checked, in one
    job. `dist_scale` rounds distances (`portable.pround`) before ranking.

    Distances, cells and order equal the Column fold's (`distance_col`) bit
    for bit, which is what the DuckDB oracle replays.
    Returns (qid_col, id_col, distance, rank ≤ k).
    """
    grouped = _cogroup_cells(
        "ivf_knn_join", corpus, queries, nprobe, nlist, metric, centroids, id_col,
        vec_col, qid_col, qvec_col, max_train_rows, seed, max_cell,
    )
    out_schema = _pair_schema(qid_col, id_col)

    def per_cell(left: pa.Table, right: pa.Table) -> pa.Table:
        # left = one cell's corpus rows, right = the queries probing it
        if left.num_rows == 0 or right.num_rows == 0:
            return _pairs(out_schema, [], [], [])
        ids = left.column(id_col).to_numpy().astype(np.int64)
        qids = right.column(qid_col).to_numpy().astype(np.int64)
        rows, dist = topk(metric, vectors(left.column(vec_col)),
                          vectors(right.column(qvec_col)), k, ids=ids,
                          dist_scale=dist_scale)
        return _pairs(out_schema, np.repeat(qids, rows.shape[1]), ids[rows].ravel(), dist.ravel())

    partial = grouped.applyInArrow(per_cell, out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, "distance", "rank")
    )


def ivf_range_join(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    nprobe: int = 4,
    nlist: int | None = 16,
    metric: str = "l2sq",
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    max_train_rows: int = 100_000,
    seed: int = 42,
    dist_scale: int | None = None,
    max_cell: int = 100_000,
) -> DataFrame:
    """Distance-THRESHOLD similarity join through shared IVF cells — the
    companion to `ivf_knn_join` when the contract is "every pair within
    `radius`", not "k nearest". A top-k cap silently under-reports when more
    than k corpus rows sit inside the radius of one query (exactly the
    failure mode embedding-level decontamination cannot afford), so this
    variant emits ALL qualifying pairs inside probed cells and needs no
    finishing window at all: cell-route, per-cell kernel
    (`_distance.within`), filter — one shuffle per side, output bounded by
    the true pair count. A corpus row lives in exactly one cell and a query
    probes each cell at most once, so a pair materializes at most once.

    Returns (qid_col, id_col, distance). Same cell/probe machinery, exact
    fold distances, `nlist=None` auto-scale and fail-loud `max_cell`
    hot-cell guard as `ivf_knn_join`.
    """
    grouped = _cogroup_cells(
        "ivf_range_join", corpus, queries, nprobe, nlist, metric, centroids, id_col,
        vec_col, qid_col, qvec_col, max_train_rows, seed, max_cell,
    )
    out_schema = _pair_schema(qid_col, id_col)

    def per_cell(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _pairs(out_schema, [], [], [])
        ids = left.column(id_col).to_numpy().astype(np.int64)
        qids = right.column(qid_col).to_numpy().astype(np.int64)
        rows, cols, dist = within(metric, vectors(left.column(vec_col)),
                                  vectors(right.column(qvec_col)), radius,
                                  dist_scale=dist_scale)
        return _pairs(out_schema, qids[cols], ids[rows], dist)

    return grouped.applyInArrow(per_cell, out_schema)


def ivf_recall_vs_exact(
    df: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    n_queries: int = 10,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> float:
    """Recall of IVF top-k vs exact kNN over sampled queries (N4-style eval).
    All queries run through one batched probe job (`ivf_topk_batch`)."""
    from lantern_extras_spark.operators.knn import EvalSet

    indexed, centroids = build_ivf(df, vec_col=vec_col, nlist=nlist, seed=seed)
    indexed = indexed.cache()
    indexed.count()
    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    rec = ev.recall(ivf_topk_batch(indexed, centroids, ev.queries, k=k, nprobe=nprobe,
                                   vec_col=vec_col, id_col=id_col))
    indexed.unpersist()
    return rec


def save_centroids(spark, centroids: list[list[float]], path: str) -> None:
    """Persist coarse centroids as a tiny parquet artifact (cell, c) — with a
    cell-partitioned data table this is the entire 'index': centroids +
    partition layout replace the reference's .usearch file for the offline
    search path."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    local_frame(spark, rows, "cell int, c array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.schema("cell int, c array<double>").parquet(path).collect()
    return [list(map(float, r["c"])) for r in sorted(rows, key=lambda r: r["cell"])]


# ---------------------------------------------------------------------------
# IVF-PQ composition: coarse cells + product-quantized residuals
# ---------------------------------------------------------------------------

def build_ivf_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 16,
    splits: int = 8,
    k: int = 256,
    max_train_rows: int = 100_000,
    seed: int = 42,
    total_rows: int | None = None,
):
    """The classic IVF-PQ layout: assign each vector to its nearest coarse
    centroid, then product-quantize the *residual* (v − centroid). Storage per
    vector collapses to (cell id + `splits` bytes); search touches only probed
    cells and reads only codes. Returns (indexed_df, centroids, codebook) where
    indexed_df = df + cell + pqvec (residual codes). Pass `total_rows` to skip
    the sampling count job (autotune sweeps probe the count once)."""
    from lantern_extras_spark.operators import pq as PQ

    total = total_rows if total_rows is not None else df.count()
    indexed, centroids = build_ivf(df, vec_col=vec_col, nlist=nlist,
                                   max_train_rows=max_train_rows, seed=seed,
                                   total_rows=total)
    cents_arr = F.array(*[F.lit([float(x) for x in c]).cast("array<double>") for c in centroids])
    residual = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.element_at(cents_arr, F.col("cell") + 1),
        lambda a, b: (a - b).cast("float"),
    )
    with_res = indexed.withColumn("__residual", residual)
    # with_res has df's rows: the one count serves both samples
    codebook = PQ.build_codebook(with_res, vec_col="__residual", splits=splits, k=k,
                                 max_train_rows=max_train_rows, seed=seed, total_rows=total)
    coded = PQ.quantize(with_res, codebook, vec_col="__residual",
                        dim=len(centroids[0])).drop("__residual")
    return coded, centroids, codebook


def ivf_pq_topk(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    codebook: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    code_col: str = "pqvec",
) -> DataFrame:
    """ADC search over IVF-PQ for one query: a one-query `ivf_pq_topk_batch`
    (per probed cell, one distance lookup table of the query residual vs that
    cell's centroid; the scan is partition-pruned to probed cells and reads
    only (id, cell, codes)), then a global orderBy+limit. Returns
    (id_col, adc_distance)."""
    cand = ivf_pq_topk_batch(indexed_df, centroids, codebook, [(0, list(query_vec))], k=k,
                             nprobe=nprobe, id_col=id_col, cell_col=cell_col, code_col=code_col)
    return (
        cand.select(id_col, "adc_distance")
        .orderBy(F.col("adc_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk_batch(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    codebook: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    code_col: str = "pqvec",
) -> DataFrame:
    """Batched IVF-PQ ADC search: ALL queries in ONE Spark job (the same
    O(1)-jobs-per-variant shape as `ivf_topk_batch`/`adc_topk_batch` — what
    makes an autotune sweep over (nlist, nprobe, splits, clusters) affordable).
    The scan prunes to the UNION of every query's probed cells and reads only
    (id, cell, codes); each (query, probed cell) pair gets its own residual
    LUT, so a candidate row costs `splits` lookups per probing query. Partial
    per-batch top-k per query, one window to finish.
    Returns (query_id, id_col, adc_distance, rank ≤ k)."""
    from lantern_extras_spark.operators.pq import _codebook_tensor, _codes, _partial_schema, split_bounds

    mats, splits = _codebook_tensor(codebook)
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    dim = Q.shape[1]
    bounds = split_bounds(dim, splits)
    C = np.asarray(centroids, dtype=np.float64)
    qcells = [probe_cells(centroids, list(map(float, q[1])), nprobe) for q in queries]
    union_cells = sorted({c for cs in qcells for c in cs})
    # luts[(j, cell)][s] = distances from query j's residual slice to split s's
    # codewords — nq × nprobe small dense tables, broadcast once
    luts: dict[tuple[int, int], list[np.ndarray]] = {}
    for j in range(len(queries)):
        for cell in qcells[j]:
            rq = Q[j] - C[cell]
            luts[(j, cell)] = [
                ((mats[s] - rq[lo:hi]) ** 2).sum(axis=1) for s, (lo, hi) in enumerate(bounds)
            ]
    spark = indexed_df.sparkSession
    b = spark.sparkContext.broadcast((qids, luts))

    out_schema = _partial_schema(id_col)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qi, L = b.value
        nq = len(qi)
        per_query: dict[int, list[tuple[int, int]]] = {}
        for (j, cell), _ in L.items():
            per_query.setdefault(j, []).append(cell)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes = _codes(batch.column(code_col))
            ids = batch.column(id_col).to_numpy().astype(np.int64)
            cells_v = batch.column(cell_col).to_numpy()
            cell_rows = {c: np.nonzero(cells_v == c)[0] for c in np.unique(cells_v)}
            for j in range(nq):
                d_parts, i_parts = [], []
                for cell in per_query.get(j, ()):
                    idx = cell_rows.get(cell)
                    if idx is None or len(idx) == 0:
                        continue
                    lut = L[(j, cell)]
                    d = np.zeros(len(idx))
                    for s in range(len(lut)):
                        d += lut[s][codes[idx, s]]
                    d_parts.append(d)
                    i_parts.append(ids[idx])
                if not d_parts:
                    continue
                dist = np.concatenate(d_parts)
                rid = np.concatenate(i_parts)
                order = np.lexsort((rid, dist))[: min(k, len(dist))]
                yield from _pairs(
                    out_schema, np.full(len(order), qi[j]), rid[order], dist[order]
                ).to_batches()

    pruned = indexed_df.where(F.col(cell_col).isin([int(c) for c in union_cells])).select(
        id_col, cell_col, code_col
    )
    partial = pruned.mapInArrow(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_distance").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_distance", "rank")
    )
