"""Exact k-nearest-neighbor operators.

Reference surface:
- J2 exact-kNN join (correlated `ORDER BY dist LIMIT k` subquery,
  lantern_cli/src/index_autotune/mod.rs:196-203)
- W1 top-k by distance (http_server/search.rs:87-126)
- N3 ground-truth builder / N4 recall evaluation (index_autotune/mod.rs:189-255)

Spark-first design, sized for 100 TB:
- The query side is always the small side → **broadcast** it; the data side streams
  through a narrow map stage. There is no shuffle of the data table at all.
- One plan: the query side is collected in blocks of at most `chunk_size`
  rows, each block bounded by MAX_COLLECTED_QUERIES (one collect sliced on
  the driver at or under the cap, a hash split into bounded collects above
  it). Per Arrow batch the exact kernel (`_distance.topk`: GEMM ranking,
  fold distances) keeps the k best rows per query, so the global top-k step
  sees ≤ (#tasks × q × k) rows instead of n×q. The block frames are unioned
  and one window finishes the exact top-k. Total shuffled bytes are
  O(q·k·#tasks), independent of n·d.
- Every distance it emits is the Column fold's (`distance_col`) bit for bit,
  which is what the DuckDB oracle replays.

Ties are broken deterministically by (distance, id) so results are reproducible and
hash-comparable across engines.
"""

from __future__ import annotations

import math
import time
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from lantern_extras_spark.operators import _distance

# ceiling on the query rows any one driver collect holds: at or under it the
# query side is collected once and sliced into blocks; above it, it is
# hash-split into bounded per-block collects (an unguarded .collect() would
# turn a huge query side into a driver OOM)
MAX_COLLECTED_QUERIES = 100_000

# per-task distance-matrix budget for the partial kernel (doubles): query
# slices are sized so batch_rows x slice stays under this — executor memory
# stays bounded no matter how large the broadcast query block is
_Q_BLOCK_ELEMS = 4_000_000
from lantern_extras_spark.functions.vector import cos_dist, hamming_dist, inner_product, l2sq_dist
from lantern_extras_spark.session import local_frame

METRICS = ("l2sq", "cos", "hamming", "dot")


def distance_col(metric: str, a: Column | str, b: Column | str) -> Column:
    """Distance expression for a metric; 'dot' is negative inner product so that
    ascending order = most similar first (reference `<+>` operator semantics,
    lantern_cli/src/external_index/cli.rs:111-123)."""
    if metric == "l2sq":
        return l2sq_dist(a, b)
    if metric == "cos":
        return cos_dist(a, b)
    if metric == "hamming":
        return hamming_dist(a, b).cast("double")
    if metric == "dot":
        return -inner_product(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    metric: str = "l2sq",
    vec_col: str = "vector",
    dist_name: str = "distance",
) -> DataFrame:
    """Single-query top-k (reference W1: `ORDER BY col <-> $vec LIMIT k`).

    `orderBy(dist).limit(k)` compiles to TakeOrderedAndProject — each partition
    keeps a k-heap, the driver merges; no full sort, no shuffle.
    """
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    return (
        df.withColumn(dist_name, distance_col(metric, F.col(vec_col), q))
        .orderBy(F.col(dist_name).asc())
        .limit(k)
    )


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    dist_scale: int | None = None,
    chunk_size: int = 50_000,
) -> DataFrame:
    """Batch exact kNN: for every query row, the k nearest data rows.

    Returns (qid_col, id_col, distance, rank). The query side is collected
    in blocks of at most `chunk_size` rows (`_query_blocks`: sliced on the
    driver at or under MAX_COLLECTED_QUERIES, hash-split into bounded
    collects above it); each block is broadcast into an Arrow-batched kernel
    that emits per-task top-k, the block frames are unioned, and one window
    ranks per query (blocks partition the queries, so no cross-block merge).
    The data side is scanned once per block — exact kNN's O(n*q) distance
    work is irreducible; persist `data` to amortize IO when it fits. For
    query sides whose broadcasts (~q*d*8 bytes) are too large for executors,
    `ivf.ivf_knn_join` is the (approximate) both-sides-distributed
    alternative.

    Distances are the Column fold's (`distance_col`) bit for bit.
    `dist_scale` rounds the distance (`portable.pround`) *before* ranking
    (with (distance, id) tie-break), the rounding the oracle replays.
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    cands = _blocked_partial(
        data, queries.select(qid_col, qvec_col), k, metric, id_col, vec_col,
        qid_col, dist_scale, chunk_size,
    )
    return _rank(cands, k, qid_col, id_col)


def _rank(
    cands: DataFrame, k: int, qid_col: str, id_col: str, label_col: str | None = None
) -> DataFrame:
    """The finishing window of knn_join and hard_negatives: the exact top-k
    per query under the (distance, id) order."""
    w = Window.partitionBy(qid_col).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    label = [label_col] if label_col is not None else []
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, id_col, *label, "distance", "rank")
    )


def _query_blocks(qsel: DataFrame, qid_col: str, chunk_size: int) -> Iterator[list]:
    """The query side as driver-held blocks of rows that partition it, each
    bounded by MAX_COLLECTED_QUERIES.

    `qsel` is persisted, then one bounded
    `limit(MAX_COLLECTED_QUERIES + 1).collect()` decides the plan. At or
    under the cap the collected rows are sliced into blocks of at most
    `chunk_size` on the driver, with no further job. Above it the driver
    never holds the whole side: `qsel` is counted and hash-split on qid into
    ceil(q / chunk_size) blocks, each collected under the same bound and
    yielded one at a time, then released. The persist lets the count and
    the block collects read the partitions the probe already computed. The
    qid hash is uniform, and chunk_size is capped at MAX_COLLECTED_QUERIES
    // 2 so even a 2x hash imbalance stays inside the ceiling; an actual
    breach fail-louds."""
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if chunk_size > MAX_COLLECTED_QUERIES // 2:
        raise ValueError(
            f"chunk_size {chunk_size} > {MAX_COLLECTED_QUERIES // 2} — the "
            "2x hash-imbalance margin over the driver ceiling "
            f"({MAX_COLLECTED_QUERIES}) would be gone. Use more, smaller "
            "chunks; the per-chunk cost is one data-side scan."
        )
    qsel = qsel.persist()
    try:
        rows = qsel.limit(MAX_COLLECTED_QUERIES + 1).collect()
        if len(rows) <= MAX_COLLECTED_QUERIES:
            for s in range(0, len(rows), chunk_size):
                yield rows[s : s + chunk_size]
            return
        del rows  # release the probe before the per-block collects
        n_blocks = -(-qsel.count() // chunk_size)  # ceil
        block_key = F.pmod(
            F.xxhash64(F.col(qid_col), F.lit("knn_chunk")), F.lit(n_blocks)
        )
        for c in range(n_blocks):
            rows = qsel.where(block_key == c).limit(MAX_COLLECTED_QUERIES + 1).collect()
            if len(rows) > MAX_COLLECTED_QUERIES:
                raise ValueError(
                    f"knn: query block {c}/{n_blocks} holds "
                    f">{MAX_COLLECTED_QUERIES} rows — the qid hash is "
                    "pathologically imbalanced (are qids constant?). Lower "
                    "chunk_size or repair the query ids."
                )
            if rows:
                yield rows
    finally:
        qsel.unpersist()


def _blocked_partial(
    data: DataFrame,
    qsel: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    qid_col: str,
    dist_scale: int | None,
    chunk_size: int,
    label_col: str | None = None,
) -> DataFrame:
    """The union of one `_partial_frame` per `_query_blocks` block: the
    candidate set the finishing `_rank` window reads."""
    frames = [
        _partial_frame(
            data, rows, k, metric, id_col, vec_col, qid_col, dist_scale, label_col
        )
        for rows in _query_blocks(qsel, qid_col, chunk_size)
    ]
    if not frames:
        schema = _candidate_schema(data, id_col, qid_col, label_col)
        return local_frame(data.sparkSession, [], schema)
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    return union


def _candidate_schema(
    data: DataFrame, id_col: str, qid_col: str, label_col: str | None
) -> StructType:
    fields = [StructField(qid_col, LongType()), StructField(id_col, LongType())]
    if label_col is not None:
        label_type = data.select(label_col).schema.fields[0].dataType
        fields.append(StructField(label_col, label_type))
    return StructType(fields + [StructField("distance", DoubleType())])


def _partial_frame(
    data: DataFrame,
    qrows: list,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    qid_col: str,
    dist_scale: int | None,
    label_col: str | None = None,
) -> DataFrame:
    """The partial-top-k mapInArrow frame for one broadcast query block
    (no finishing window): per Arrow batch the exact kernel
    (`_distance.topk`) keeps the k best rows per query, so downstream sees
    <= (#tasks x q x k) rows.

    With `label_col` (hard_negatives) each query row carries its label as a
    third field; same-label pairs are masked out of the kernel (they never
    set its bound and score +inf, so they are dropped at emit), and each
    candidate carries its data-side label.

    Kernel shape (sized for 100k-query blocks, not just autotune samples):
    - queries are processed in slices so the distance matrix never exceeds
      ~_Q_BLOCK_ELEMS doubles regardless of block size;
    - a running (k x q) best-so-far buffer merges across Arrow batches under
      the (distance, id) order and the task emits ONCE at the end — shuffle
      volume is tasks*q*k, not batches*q*k (a 128 MB task holds ~100
      batches; emitting per batch would inflate the exchange 100x at
      scale)."""
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(map(float, r[1])) for r in qrows], dtype=np.float64)
    labeled = label_col is not None
    qlabs = np.array([r[2] for r in qrows], dtype=object) if labeled else None
    bq = data.sparkSession.sparkContext.broadcast((qids, Q, qlabs))
    out_schema = _candidate_schema(data, id_col, qid_col, label_col)
    names = out_schema.fieldNames()

    def partial_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qi, Qm, ql = bq.value
        nq = len(qi)
        # running per-task top-k: unfilled slots carry (+inf, PAD) so they
        # sort last under the (distance, id) order and are dropped at emit
        PAD = np.iinfo(np.int64).max
        best_d = np.full((k, nq), np.inf)
        best_i = np.full((k, nq), PAD, dtype=np.int64)
        best_l = np.full((k, nq), None, dtype=object) if labeled else None
        label_type = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = _distance.vectors(batch.column(vec_col))
            ids = batch.column(id_col).to_numpy().astype(np.int64)
            if labeled:
                labs = batch.column(label_col).to_numpy(zero_copy_only=False)
                label_type = batch.schema.field(label_col).type
            # hamming's kernel materializes n*q*dim comparisons; the GEMM
            # metrics only n*q — bound the slice accordingly
            per_pair = X.shape[1] if metric == "hamming" else 1
            qb = max(1, _Q_BLOCK_ELEMS // max(n * per_pair, 1))
            for s0 in range(0, nq, qb):
                sl = slice(s0, s0 + qb)
                mask = labs[:, None] != ql[None, sl] if labeled else None
                rows, d = _distance.topk(metric, X, Qm[sl], k, ids, dist_scale, mask)
                # merge this batch's top-k into the running best under the
                # (distance, id) order; PAD rows (inf) sink
                md = np.vstack([best_d[:, sl], d.T])
                mi = np.vstack([best_i[:, sl], ids[rows].T])
                order = np.lexsort((mi, md), axis=0)[:k]
                best_d[:, sl] = np.take_along_axis(md, order, axis=0)
                best_i[:, sl] = np.take_along_axis(mi, order, axis=0)
                if labeled:
                    ml = np.vstack([best_l[:, sl], labs[rows].T])
                    best_l[:, sl] = np.take_along_axis(ml, order, axis=0)
        keep = best_i.ravel() != PAD
        if labeled:
            # masked (+inf) survivors too: a task with fewer than k
            # negatives emits only its real candidates
            keep &= np.isfinite(best_d.ravel())
        if not keep.any():
            return
        cols = [
            pa.array(np.broadcast_to(qi[None, :], best_i.shape).ravel()[keep]),
            pa.array(best_i.ravel()[keep]),
        ]
        if labeled:
            cols.append(pa.array(best_l.ravel()[keep], type=label_type))
        cols.append(pa.array(best_d.ravel()[keep]))
        yield pa.RecordBatch.from_arrays(cols, names=names)

    cols = [id_col, vec_col] + ([label_col] if labeled else [])
    return data.select(*cols).mapInArrow(partial_topk, out_schema)


def hard_negatives(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cos",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    qlabel_col: str = "query_label",
    dist_scale: int | None = None,
    chunk_size: int = 50_000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k nearest
    data vectors whose label DIFFERS from the query's — the pairs that teach
    an embedding model the most (closest in space, known to be different).
    The training-pair counterpart of the exact-kNN join (J2): the same plan,
    with the label-mismatch constraint applied BEFORE ranking so the result
    is the true top-k among negatives, not a post-filtered top-k.

    Returns (qid_col, id_col, label_col, distance, rank). Rows with NULL
    labels are excluded from both sides (a null label can neither match nor
    mismatch). Query blocks of at most `chunk_size` rows carry their labels
    in each block's broadcast, and the kernel masks same-label pairs out of
    each batch's ranking — mining negatives for a full training set, not
    just a sample. Distances and `dist_scale` are as in knn_join.
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    data = data.where(F.col(label_col).isNotNull())
    queries = queries.where(F.col(qlabel_col).isNotNull())
    cands = _blocked_partial(
        data, queries.select(qid_col, qvec_col, qlabel_col), k, metric, id_col,
        vec_col, qid_col, dist_scale, chunk_size, label_col,
    )
    return _rank(cands, k, qid_col, id_col, label_col)


def ground_truth(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact-kNN ground truth (reference N3, index_autotune/mod.rs:189-219):
    sample `n_queries` rows, return (id, v, neighbors array<long> ordered by distance).

    The reference samples with `ORDER BY RANDOM() LIMIT n`; we use a seeded
    `orderBy(rand(seed))` for reproducibility.
    """
    queries = (
        df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"))
        .orderBy(F.rand(seed))
        .limit(n_queries)
    )
    kk = k + 1 if exclude_self else k
    nn = knn_join(df, queries, k=kk, metric=metric, id_col=id_col, vec_col=vec_col)
    if exclude_self:
        nn = (
            nn.where(F.col("query_id") != F.col(id_col))
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
                ),
            )
            .where(F.col("rank") <= k)
        )
    neighbors = collect_neighbors(nn, qid_col="query_id", id_col=id_col)
    return queries.join(neighbors.withColumnRenamed("id", "query_id"), "query_id").select(
        F.col("query_id").alias("id"), F.col("query_vec").alias("v"), "neighbors"
    )


def collect_neighbors(nn: DataFrame, qid_col: str = "query_id", id_col: str = "vec_id") -> DataFrame:
    """(qid, id, rank) rows → (id, neighbors array<id> ordered by rank) — the
    shape `recall` consumes; one aggregation, no driver loop."""
    return (
        nn.groupBy(qid_col)
        .agg(F.sort_array(F.collect_list(F.struct("rank", id_col))).alias("nbr"))
        .select(
            F.col(qid_col).alias("id"),
            F.transform(F.col("nbr"), lambda s: s[id_col]).alias("neighbors"),
        )
    )


def recall(truth: DataFrame, result: DataFrame, k: int) -> float:
    """Mean recall % truncated to 2 dp (reference N4 definition:
    |truth ∩ result| / k · 100 averaged, index_autotune/mod.rs:238-252).

    Both inputs: (id, neighbors array). Computed with `array_intersect` (J3)."""
    j = truth.select("id", F.col("neighbors").alias("t")).join(
        result.select("id", F.col("neighbors").alias("r")), "id"
    )
    mean = (
        j.select((F.size(F.array_intersect("t", "r")) / F.lit(float(k)) * 100.0).alias("rec"))
        .agg(F.avg("rec"))
        .first()[0]
    )
    return math.floor(mean * 100.0) / 100.0


class EvalSet:
    """One exact ground-truth set (reference N3, index_autotune/mod.rs:189-219)
    that any number of approximate top-k results are scored against (N4,
    mod.rs:221-255). Constructing it is the one eager step: `ground_truth`
    over `n_queries` seeded samples, collected to the driver.

    `queries` is the (id, vector) list the list-input batch searches take,
    `queries_df` the same rows as (query_id long, query_vec array<double>) for
    the frame-input joins, `truth` the (id long, neighbors array<long>) frame
    `recall` compares against. A result is any (query_id, `id_col`, rank)
    top-k frame."""

    def __init__(
        self,
        df: DataFrame,
        n_queries: int = 10,
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
    ):
        rows = ground_truth(
            df, n_queries=n_queries, k=k, metric="l2sq", id_col=id_col, vec_col=vec_col, seed=seed
        ).collect()
        spark = df.sparkSession
        self.k = k
        self.id_col = id_col
        self.queries = [(int(r["id"]), [float(x) for x in r["v"]]) for r in rows]
        self.queries_df = local_frame(spark, self.queries, "query_id long, query_vec array<double>")
        self.truth = local_frame(
            spark,
            [(int(r["id"]), [int(x) for x in r["neighbors"]]) for r in rows],
            "id long, neighbors array<long>",
        )

    def _neighbors(self, result: DataFrame) -> DataFrame:
        return collect_neighbors(result, qid_col="query_id", id_col=self.id_col)

    def recall(self, result: DataFrame) -> float:
        """N4 recall of `result` against the truth set, untimed."""
        return recall(self.truth, self._neighbors(result), self.k)

    def timed_recall(self, result: DataFrame) -> tuple[float, float]:
        """(recall, per-query latency in s, 4 dp). The latency is the time to
        materialize `result`'s neighbor lists once, divided by the number of
        queries actually sampled; the recall then reads the cached lists."""
        t0 = time.monotonic()
        res = self._neighbors(result).cache()
        res.count()
        latency = (time.monotonic() - t0) / max(len(self.queries), 1)
        rec = recall(self.truth, res, self.k)
        res.unpersist()
        return rec, round(latency, 4)
