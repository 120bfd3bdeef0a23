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
- Composes with PQ: quantize each cell's residuals for IVF-PQ (future work;
  ADC scan in pq.py already covers the decode side).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.operators.knn import distance_col
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
    impl: str = "pandas",
) -> DataFrame:
    """Nearest-centroid assignment: argmin-l2sq over the centroid array with
    first-wins tie-break (same kernel contract as PQ Q3).

    impl="pandas" (default): Arrow kernel, one GEMM per batch — the fold
    expression evaluates O(nlist·dim) interpreted ops per row and goes
    superlinear at millions of rows (measured 4× slower at 5M×64 cells).
    impl="native" keeps the pure Column expression (no Python workers); both
    produce identical assignments.
    """
    if impl == "native":
        # r13 construction fast path: one F.expr for the whole centroid
        # literal instead of nlist py4j array conversions (repr round-trips
        # doubles exactly; Spark's double-literal parse is correctly rounded,
        # so the literal values are bit-identical to the F.lit form)
        arr_sql = "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centroids
        ) + ")"
        cents = F.expr(arr_sql)
        v = F.col(vec_col).cast("array<double>")
        # stage 1: distances array (each l2sq evaluated once per centroid);
        # stage 2: scalar argmin fold over (index, distance), first-wins
        # ties. Identical values/assignments to folding the distance
        # expression directly (same summation order); measured equal cost —
        # the conditional in the direct fold short-circuits its second
        # distance evaluation — kept for the plainer two-stage shape.
        dists = F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda s, e: s + e,
            ),
        )
        indexed = F.arrays_zip(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)).alias("i"),
            dists.alias("d"),
        )
        best = F.aggregate(
            indexed,
            F.struct(F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")),
            lambda acc, x: F.when(
                x["d"] < acc["d"], F.struct(x["d"].alias("d"), x["i"].alias("i"))
            ).otherwise(acc),
        )
        return df.withColumn(cell_col, best["i"])

    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r}")

    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    spark = df.sparkSession
    bC = spark.sparkContext.broadcast(C)
    out_schema = StructType(df.schema.fields + [StructField(cell_col, IntegerType())])
    cols = [f.name for f in df.schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bC.value
        c2 = (Cm * Cm).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            d = (X * X).sum(1)[:, None] + c2[None, :] - 2.0 * X @ Cm.T
            pdf[cell_col] = d.argmin(axis=1).astype(np.int32)
            yield pdf[cols + [cell_col]]

    return df.mapInPandas(kernel, out_schema)


def _auto_nlist(total: int, rows_per_cell: int = 2000) -> int:
    """`nlist=None` auto-scale: ~`rows_per_cell` corpus rows per cell, floor
    16 — the same lever as `semantic_dedup`'s, keeping per-cell work bounded
    as the corpus grows instead of going quadratic past nlist·rows_per_cell."""
    import math

    return max(16, math.ceil(max(total, 1) / rows_per_cell))


def _check_max_cell(
    cells_df: DataFrame, cell_col: str, max_cell: int, op: str, side: str
) -> None:
    """Fail-loud hot-cell guard (mirrors `semantic_dedup`'s max_cell,
    dedup.py): the cogrouped per-cell GEMM materializes one whole cell — plus
    everything probing it — in a single worker's memory, so a cell that
    outgrew `max_cell` must raise with the remedy spelled out rather than
    OOM an executor mid-join at scale. Collects only violators (tiny by
    definition)."""
    oversized = (
        cells_df.groupBy(cell_col).count().where(F.col("count") > max_cell).collect()
    )
    if oversized:
        worst = ", ".join(f"cell {r[cell_col]}={r['count']}" for r in oversized[:5])
        raise ValueError(
            f"{op}: {len(oversized)} {side} cell(s) exceed max_cell="
            f"{max_cell} ({worst}). Raise nlist (finer clustering; cells "
            f"shrink ~linearly) or max_cell — a cell this hot would OOM the "
            f"per-cell kernel on a real executor."
        )


def probe_cells(centroids: list[list[float]], query_vec: list[float], nprobe: int) -> list[int]:
    """Driver-side centroid ranking (nlist is tiny)."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((C - q) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(C)), d))
    return [int(i) for i in order[:nprobe]]


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
    rows whose cell it probed, emitting a per-batch partial top-k per query;
    one window finishes the ranking. Per-sweep job count is O(1) in n_queries.
    Returns (query_id, id_col, distance, rank≤k)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from pyspark.sql.window import Window

    from lantern_extras_spark.operators.knn import _np_distances

    qids = np.array([q[0] for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    qcells = [probe_cells(centroids, list(map(float, q[1])), nprobe) for q in queries]
    union_cells = sorted({c for cs in qcells for c in cs})
    spark = indexed_df.sparkSession
    b = spark.sparkContext.broadcast((qids, Q, [set(cs) for cs in qcells]))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, Qm, cellsets = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = pdf[cell_col].to_numpy()
            D = _np_distances(metric, X, Qm)
            for j in range(Qm.shape[0]):
                mask = np.isin(cells, list(cellsets[j]))
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                order = idx[np.lexsort((ids[idx], D[idx, j]))][: min(k, len(idx))]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qi[j], dtype=np.int64),
                        id_col: ids[order],
                        "distance": D[order, j],
                    }
                )

    pruned = indexed_df.where(F.col(cell_col).isin([int(c) for c in union_cells])).select(
        id_col, cell_col, vec_col
    )
    partial = pruned.mapInPandas(scan, out_schema)
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
    impl: str = "pandas",
) -> DataFrame:
    """Distributed multi-probe assignment: each query row explodes into its
    `nprobe` nearest cells (ties broken by cell id — same contract as
    `probe_cells`). This is the query-side half of `ivf_knn_join`: queries
    never touch the driver, so the query frame can be as large as the corpus.

    impl="pandas": one GEMM per Arrow batch. impl="native": pure Column
    expressions with the exact left-fold (a−b)² summation the DuckDB oracles
    replay — bit-identical cell choices across engines."""
    if impl == "native":
        v = F.col(qvec_col).cast("array<double>")
        cents = F.array(*[F.lit([float(x) for x in c]).cast("array<double>") for c in centroids])
        indexed = F.arrays_zip(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)).alias("i"), cents.alias("c")
        )
        scored = F.transform(
            indexed,
            lambda x: F.struct(
                F.aggregate(
                    F.zip_with(v, x["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda s, e: s + e,
                ).alias("d"),
                x["i"].alias("i"),
            ),
        )
        # struct array_sort orders by (d, i) — the (distance, cell) tie-break
        probes = F.slice(F.array_sort(scored), 1, nprobe)
        return queries.withColumn("__p", F.explode(probes)).withColumn(
            cell_col, F.col("__p")["i"]
        ).drop("__p")

    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r}")

    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    nprobe = min(nprobe, len(centroids))
    spark = queries.sparkSession
    bC = spark.sparkContext.broadcast(C)
    out_schema = StructType(queries.schema.fields + [StructField(cell_col, IntegerType())])
    cols = [f.name for f in queries.schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bC.value
        c2 = (Cm * Cm).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[qvec_col].to_numpy()])
            d = (X * X).sum(1)[:, None] + c2[None, :] - 2.0 * X @ Cm.T
            # stable argsort on (distance, cell-id): cell-id IS the column order
            near = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
            rep = pdf.loc[pdf.index.repeat(nprobe)].reset_index(drop=True)
            rep[cell_col] = near.reshape(-1)
            yield rep[cols + [cell_col]]

    return queries.mapInPandas(kernel, out_schema)


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
    impl: str = "pandas",
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
    4. ONE shuffle of each side on `cell`, then a cogrouped per-cell GEMM
       computes exact distances inside probed cells only and emits a
       per-(cell, query) partial top-k — output ≤ |queries|·nprobe·k rows,
    5. one window finishes the global per-query top-k.

    No side is ever collected; skew is bounded by cell granularity (raise
    `nlist` so cells fit executor memory — cells ≈ |corpus|/nlist rows).
    With a cell-partitioned corpus table, pass its `cell` column through by
    pre-assigning and calling with centroids=... to skip step 2 entirely.

    `nlist=None` auto-scales to ~2000 corpus rows/cell (ignored when
    `centroids` is passed). `max_cell` is the fail-loud hot-cell guard for
    the cogrouped kernel (impl="pandas"): a skewed corpus — one dense
    cluster holding most rows — would otherwise OOM the executor that
    receives that cell; instead the join refuses up-front with the remedy
    (raise nlist) spelled out. Both the corpus side and the query-probe
    side are checked. The native path streams through an equi-join and
    never materializes a cell, so it skips the guard.

    impl="native" (steps 2-4 as pure Column expressions + an equi-join on
    cell) exists for engine-parity harnesses; identical results, no Python
    workers. Returns (qid_col, id_col, distance, rank ≤ k).
    """
    from lantern_extras_spark.operators.knn import METRICS, _np_distances, distance_col

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
        ccells = assign_cells(corpus.select(id_col, vec_col), centroids,
                              vec_col=vec_col, impl=impl)
    qprobes = probe_cells_df(queries.select(qid_col, qvec_col), centroids,
                             nprobe, qvec_col=qvec_col, impl=impl)
    w = Window.partitionBy(qid_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())

    if impl == "native":
        d = distance_col(metric, F.col(vec_col), F.col(qvec_col))
        if dist_scale is not None:
            from lantern_extras_spark.functions.portable import pround

            d = pround(d, dist_scale)
        joined = ccells.join(qprobes, "cell").withColumn("distance", d)
        return (
            joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, id_col, "distance", "rank")
        )

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(qid_col, LongType()),
            StructField(id_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )

    def per_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = one cell's corpus rows, right = the queries probing it
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({qid_col: [], id_col: [], "distance": []}).astype(
                {qid_col: "int64", id_col: "int64", "distance": "float64"}
            )
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in left[vec_col].to_numpy()])
        ids = left[id_col].to_numpy(dtype=np.int64)
        Q = np.asarray([np.asarray(v, dtype=np.float64) for v in right[qvec_col].to_numpy()])
        qids = right[qid_col].to_numpy(dtype=np.int64)
        D = _np_distances(metric, X, Q)
        if dist_scale is not None:
            s = float(10**dist_scale)
            D = np.floor(D * s + 0.5) / s  # portable rounding (matches pround)
        kk = min(k, len(ids))
        parts = []
        for j in range(len(qids)):
            order = np.lexsort((ids, D[:, j]))[:kk]
            parts.append(pd.DataFrame(
                {qid_col: np.full(kk, qids[j], dtype=np.int64),
                 id_col: ids[order], "distance": D[order, j]}
            ))
        return pd.concat(parts, ignore_index=True)

    _check_max_cell(ccells, "cell", max_cell, "ivf_knn_join", "corpus")
    _check_max_cell(qprobes, "cell", max_cell, "ivf_knn_join", "query-probe")
    partial = (
        ccells.groupBy("cell")
        .cogroup(qprobes.groupBy("cell"))
        .applyInPandas(per_cell, out_schema)
    )
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
    impl: str = "pandas",
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
    finishing window at all: cell-route, per-cell GEMM, filter — one shuffle
    per side, output bounded by the true pair count.

    Returns (qid_col, id_col, distance). Same cell/probe machinery, the same
    impl="native" engine-parity path, and the same `nlist=None` auto-scale +
    fail-loud `max_cell` hot-cell guard as `ivf_knn_join`.
    """
    from lantern_extras_spark.operators.knn import METRICS, _np_distances, distance_col

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
        ccells = assign_cells(corpus.select(id_col, vec_col), centroids,
                              vec_col=vec_col, impl=impl)
    qprobes = probe_cells_df(queries.select(qid_col, qvec_col), centroids,
                             nprobe, qvec_col=qvec_col, impl=impl)

    if impl == "native":
        d = distance_col(metric, F.col(vec_col), F.col(qvec_col))
        if dist_scale is not None:
            from lantern_extras_spark.functions.portable import pround

            d = pround(d, dist_scale)
        # no dedup needed: a corpus row lives in exactly one cell and a query
        # probes each cell at most once, so a pair materializes at most once
        return (
            ccells.join(qprobes, "cell")
            .withColumn("distance", d)
            .where(F.col("distance") <= radius)
            .select(qid_col, id_col, "distance")
        )

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(qid_col, LongType()),
            StructField(id_col, LongType()),
            StructField("distance", DoubleType()),
        ]
    )

    def per_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({qid_col: [], id_col: [], "distance": []}).astype(
                {qid_col: "int64", id_col: "int64", "distance": "float64"}
            )
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in left[vec_col].to_numpy()])
        ids = left[id_col].to_numpy(dtype=np.int64)
        Q = np.asarray([np.asarray(v, dtype=np.float64) for v in right[qvec_col].to_numpy()])
        qids = right[qid_col].to_numpy(dtype=np.int64)
        D = _np_distances(metric, X, Q)
        if dist_scale is not None:
            s = float(10**dist_scale)
            D = np.floor(D * s + 0.5) / s
        rows, cols = np.nonzero(D <= radius)
        return pd.DataFrame(
            {qid_col: qids[cols], id_col: ids[rows], "distance": D[rows, cols]}
        )

    _check_max_cell(ccells, "cell", max_cell, "ivf_range_join", "corpus")
    _check_max_cell(qprobes, "cell", max_cell, "ivf_range_join", "query-probe")
    return (
        ccells.groupBy("cell")
        .cogroup(qprobes.groupBy("cell"))
        .applyInPandas(per_cell, out_schema)
    )


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
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from pyspark.sql.window import Window

    from lantern_extras_spark.operators.pq import _codebook_tensor, split_bounds

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

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField(id_col, LongType()),
            StructField("adc_distance", DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, L = b.value
        nq = len(qi)
        per_query: dict[int, list[tuple[int, int]]] = {}
        for (j, cell), _ in L.items():
            per_query.setdefault(j, []).append(cell)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray(
                [np.frombuffer(c, dtype=np.uint8) if isinstance(c, (bytes, bytearray)) else np.asarray(c)
                 for c in pdf[code_col].to_numpy()],
                dtype=np.int64,
            )
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cells_v = pdf[cell_col].to_numpy()
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
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qi[j], dtype=np.int64),
                        id_col: rid[order],
                        "adc_distance": dist[order],
                    }
                )

    pruned = indexed_df.where(F.col(cell_col).isin([int(c) for c in union_cells])).select(
        id_col, cell_col, code_col
    )
    partial = pruned.mapInPandas(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_distance").asc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_distance", "rank")
    )
