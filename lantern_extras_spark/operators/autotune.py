"""Autotune: parameter sweep for approximate kNN vs a recall target.

Reference surface (SURVEY.md §2.10 N5/N6/W2, lantern_cli/src/index_autotune/):
- N5 sweep: fixed grid of index variants, evaluated against exact ground truth,
  early-stopping when a variant reaches the target recall (mod.rs:329-360,
  476-478; default target 99.9 @ k=10).
- W2 best-variant selection: recall desc → filter ≥ target → minimum
  (latency + build_time) (mod.rs:162-187).
- N6 result caching: reuse prior results for the same (model, k≥, n≥)
  (mod.rs:112-160).

The reference tunes HNSW (m, ef, ef_construction). This engine tunes all of
its approximate-kNN structures with the same sweep/eval/selection/caching
semantics: PQ (splits × clusters), IVF, IVF∘PQ, and — since the sharded-HNSW
operator landed (`operators/hnsw.py`) — HNSW itself, over the reference's own
6-variant (m, efc, ef) grid copied value-for-value from
`index_autotune/mod.rs:329-360`.

Every sweep, and `compare_compressed`, scores its variants against one
`knn.EvalSet`: the ground truth (N3) is built once per call, and each variant
costs one timed recall (N4, `EvalSet.timed_recall`). Results persist through
one `AutotuneResults` store, one `autotune_results`-shaped table per variant
dataclass (experiment_id, params…, recall, latency, build_time — FIXTURES.md
§3)."""

from __future__ import annotations

import dataclasses
import datetime as _dt
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lantern_extras_spark.operators import pq as PQ
from lantern_extras_spark.operators.knn import EvalSet, knn_join
from lantern_extras_spark.session import local_frame

# Default PQ variant grid — mirrors the reference's fixed 6-variant grid idea
# (index_autotune/mod.rs:329-360), coarse→fine.
DEFAULT_VARIANTS: tuple[tuple[int, int], ...] = (
    (4, 16),
    (4, 32),
    (8, 32),
    (8, 64),
    (16, 64),
    (16, 256),
)

RESULTS_SCHEMA = (
    "experiment_id string, splits int, clusters int, recall double, "
    "latency double, build_time double, k int, n_queries int, created_at timestamp"
)

IVF_PQ_RESULTS_SCHEMA = (
    "experiment_id string, nlist int, nprobe int, splits int, clusters int, "
    "recall double, latency double, build_time double, k int, n_queries int, "
    "created_at timestamp"
)

HNSW_RESULTS_SCHEMA = (
    "experiment_id string, m int, ef_construction int, ef int, recall double, "
    "latency double, build_time double, k int, n_queries int, created_at timestamp"
)

BQ_RESULTS_SCHEMA = (
    "experiment_id string, oversample int, recall double, "
    "latency double, build_time double, k int, n_queries int, created_at timestamp"
)


@dataclass
class VariantResult:
    splits: int
    clusters: int
    recall: float
    latency: float
    build_time: float


@dataclass
class IvfPqVariant:
    """One IVF-PQ sweep point: coarse cells (nlist) probed nprobe-at-a-time,
    residuals coded as splits × clusters codewords. `select_best` only touches
    recall/latency/build_time, so W2 selection is shared with the PQ/IVF
    sweeps."""

    nlist: int
    nprobe: int
    splits: int
    clusters: int
    recall: float
    latency: float
    build_time: float


@dataclass
class HnswVariant:
    """One HNSW sweep point — the reference's IndexParams
    (index_autotune/mod.rs:22-34: ef, ef_construction, m)."""

    m: int
    ef_construction: int
    ef: int
    recall: float
    latency: float
    build_time: float


@dataclass
class BqVariant:
    """One binary-quantization sweep point: the candidate oversample factor
    of the two-stage Hamming-prune + exact-rerank search (operators/bq.py).
    `select_best` only touches recall/latency/build_time, so W2 selection is
    shared with the PQ/IVF/HNSW sweeps."""

    oversample: int
    recall: float
    latency: float
    build_time: float


# variant dataclass → (table directory under the store path, table schema);
# every schema is experiment_id, the dataclass fields in order, k, n_queries,
# created_at
_TABLES: dict[type, tuple[str, str]] = {
    VariantResult: ("autotune_results", RESULTS_SCHEMA),
    IvfPqVariant: ("autotune_results_ivf_pq", IVF_PQ_RESULTS_SCHEMA),
    HnswVariant: ("autotune_results_hnsw", HNSW_RESULTS_SCHEMA),
    BqVariant: ("autotune_results_bq", BQ_RESULTS_SCHEMA),
}


class AutotuneResults:
    """Parquet-backed results cache (N6): one table per variant dataclass
    (`VariantResult` for the PQ and IVF sweeps, `IvfPqVariant`, `HnswVariant`,
    `BqVariant`), all read and written through the same three methods."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def load(self, kind: type) -> DataFrame:
        table, schema = _TABLES[kind]
        p = os.path.join(self.path, table)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(p)

    def lookup(self, kind: type, experiment_id: str, k: int, n_queries: int) -> list:
        """Reference reuse predicate: same experiment, k ≥ requested, n ≥ requested
        (index_autotune/mod.rs:131-140)."""
        rows = (
            self.load(kind)
            .where(
                (F.col("experiment_id") == experiment_id)
                & (F.col("k") >= k)
                & (F.col("n_queries") >= n_queries)
            )
            .collect()
        )
        names = [f.name for f in dataclasses.fields(kind)]
        return [kind(*(r[n] for n in names)) for r in rows]

    def append(self, kind: type, experiment_id: str, k: int, n_queries: int, results: list) -> None:
        table, schema = _TABLES[kind]
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        rows = [(experiment_id, *dataclasses.astuple(r), k, n_queries, now) for r in results]
        df = local_frame(self.spark, rows, schema)
        df.coalesce(1).write.mode("append").parquet(os.path.join(self.path, table))


def select_best(results: list[VariantResult], target_recall: float) -> VariantResult | None:
    """W2: among variants meeting the target, minimum latency+build_time;
    if none meet it, the highest-recall variant."""
    if not results:
        return None
    meeting = [r for r in results if r.recall >= target_recall]
    if meeting:
        return min(meeting, key=lambda r: (r.latency + r.build_time, -r.recall))
    return max(results, key=lambda r: (r.recall, -(r.latency + r.build_time)))


def autotune_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    target_recall: float = 99.9,
    variants: tuple[tuple[int, int], ...] = DEFAULT_VARIANTS,
    results: AutotuneResults | None = None,
    experiment_id: str | None = None,
    seed: int = 42,
    max_train_rows: int = 20_000,
) -> tuple[VariantResult | None, list[VariantResult]]:
    """Sweep PQ variants against exact ground truth; early-stop at target.

    Returns (best, all_results). With a `results` store, cached runs satisfying
    the (k≥, n≥) reuse rule short-circuit the sweep entirely (N6)."""
    exp = experiment_id or f"pq:{vec_col}"
    if results is not None:
        cached = results.lookup(VariantResult, exp, k, n_queries)
        if cached:
            return select_best(cached, target_recall), cached

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    # one count + one dim probe for the WHOLE sweep, not one per variant
    total_rows = df.count()
    dim = len(ev.queries[0][1])

    out: list[VariantResult] = []
    for splits, clusters in variants:
        t0 = time.monotonic()
        cb = PQ.build_codebook(
            df, vec_col=vec_col, splits=splits, k=clusters,
            max_train_rows=max_train_rows, seed=seed, total_rows=total_rows,
        )
        coded = PQ.quantize(df, cb, vec_col=vec_col, dim=dim).cache()
        coded.count()  # materialize so latency measures the query, not the build
        build_time = time.monotonic() - t0

        # one batched ADC job for ALL queries (O(1) Spark jobs per variant);
        # latency is the amortized per-query share of that job
        rec, latency = ev.timed_recall(PQ.adc_topk_batch(coded, cb, ev.queries, k=k, id_col=id_col))
        coded.unpersist()
        out.append(VariantResult(splits, clusters, rec, latency, round(build_time, 4)))
        if rec >= target_recall:  # early stop (mod.rs:476-478)
            break

    if results is not None:
        results.append(VariantResult, exp, k, n_queries, out)
    return select_best(out, target_recall), out


# Default IVF variant grid: (nlist, nprobe) coarse→fine
DEFAULT_IVF_VARIANTS: tuple[tuple[int, int], ...] = (
    (64, 1),
    (64, 4),
    (32, 4),
    (16, 4),
    (16, 8),
    (8, 8),
)


def autotune_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    target_recall: float = 99.9,
    variants: tuple[tuple[int, int], ...] = DEFAULT_IVF_VARIANTS,
    results: AutotuneResults | None = None,
    experiment_id: str | None = None,
    seed: int = 42,
    max_train_rows: int = 20_000,
) -> tuple[VariantResult | None, list[VariantResult]]:
    """IVF (nlist, nprobe) sweep vs exact ground truth — same N5/N6/W2
    semantics as `autotune_pq`, tuning the other approximate-kNN structure.
    VariantResult reuses (splits=nlist, clusters=nprobe) fields for storage."""
    from lantern_extras_spark.operators import ivf as IVF

    exp = experiment_id or f"ivf:{vec_col}"
    if results is not None:
        cached = results.lookup(VariantResult, exp, k, n_queries)
        if cached:
            return select_best(cached, target_recall), cached

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    total_rows = df.count()  # one count for the whole sweep

    out: list[VariantResult] = []
    built: dict[int, tuple] = {}
    for nlist, nprobe in variants:
        t0 = time.monotonic()
        if nlist not in built:
            indexed, cents = IVF.build_ivf(df, vec_col=vec_col, nlist=nlist,
                                           max_train_rows=max_train_rows, seed=seed,
                                           total_rows=total_rows)
            indexed = indexed.cache()
            indexed.count()
            built[nlist] = (indexed, cents)
        indexed, cents = built[nlist]
        build_time = time.monotonic() - t0

        # one batched probe job for ALL queries (O(1) Spark jobs per variant)
        rec, latency = ev.timed_recall(
            IVF.ivf_topk_batch(indexed, cents, ev.queries, k=k, nprobe=nprobe,
                               vec_col=vec_col, id_col=id_col)
        )
        out.append(VariantResult(nlist, nprobe, rec, latency, round(build_time, 4)))
        if rec >= target_recall:
            break

    for indexed, _ in built.values():
        indexed.unpersist()
    if results is not None:
        results.append(VariantResult, exp, k, n_queries, out)
    return select_best(out, target_recall), out


# Default IVF-PQ grid: (nlist, nprobe, splits, clusters), coarse→fine. Ordered
# so consecutive variants share the (nlist, splits, clusters) index build and
# only re-probe — the expensive stage is reused exactly like autotune_ivf's
# per-nlist cache.
DEFAULT_IVF_PQ_VARIANTS: tuple[tuple[int, int, int, int], ...] = (
    (16, 2, 4, 16),
    (16, 4, 4, 16),
    (16, 4, 8, 32),
    (16, 8, 8, 32),
    (8, 4, 8, 64),
    (8, 8, 8, 64),
)


def autotune_ivf_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    target_recall: float = 99.9,
    variants: tuple[tuple[int, int, int, int], ...] = DEFAULT_IVF_PQ_VARIANTS,
    results: AutotuneResults | None = None,
    experiment_id: str | None = None,
    seed: int = 42,
    max_train_rows: int = 20_000,
) -> tuple[IvfPqVariant | None, list[IvfPqVariant]]:
    """(nlist, nprobe, splits, clusters) sweep over the IVF∘PQ composition vs
    exact ground truth — N5 grid shape, early stop at target recall, N6 result
    reuse, W2 selection, all shared with the PQ/IVF sweeps. Each variant costs
    O(1) Spark jobs: index builds are cached per (nlist, splits, clusters) —
    nprobe is query-time only — and every query in the eval set runs in ONE
    batched ADC job (`ivf_pq_topk_batch`)."""
    from lantern_extras_spark.operators import ivf as IVF

    exp = experiment_id or f"ivf_pq:{vec_col}"
    if results is not None:
        cached = results.lookup(IvfPqVariant, exp, k, n_queries)
        if cached:
            return select_best(cached, target_recall), cached

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    total_rows = df.count()  # one count for the whole sweep

    out: list[IvfPqVariant] = []
    built: dict[tuple[int, int, int], tuple] = {}
    for nlist, nprobe, splits, clusters in variants:
        bkey = (nlist, splits, clusters)
        t0 = time.monotonic()
        if bkey not in built:
            coded, cents, cb = IVF.build_ivf_pq(
                df, vec_col=vec_col, nlist=nlist, splits=splits, k=clusters,
                max_train_rows=max_train_rows, seed=seed, total_rows=total_rows,
            )
            coded = coded.cache()
            coded.count()  # materialize so latency measures the probe, not the build
            built[bkey] = (coded, cents, cb)
        coded, cents, cb = built[bkey]
        build_time = time.monotonic() - t0

        rec, latency = ev.timed_recall(
            IVF.ivf_pq_topk_batch(coded, cents, cb, ev.queries, k=k, nprobe=nprobe,
                                  id_col=id_col)
        )
        out.append(
            IvfPqVariant(nlist, nprobe, splits, clusters, rec, latency, round(build_time, 4))
        )
        if rec >= target_recall:  # early stop (mod.rs:476-478)
            break

    for coded, _, _ in built.values():
        coded.unpersist()
    if results is not None:
        results.append(IvfPqVariant, exp, k, n_queries, out)
    return select_best(out, target_recall), out


# The reference's exact 6-variant HNSW grid, value-for-value
# (index_autotune/mod.rs:329-360): (m, ef_construction, ef) coarse→fine.
DEFAULT_HNSW_VARIANTS: tuple[tuple[int, int, int], ...] = (
    (6, 32, 64),
    (8, 40, 64),
    (12, 48, 64),
    (16, 60, 76),
    (32, 96, 96),
    (48, 128, 128),
)


def autotune_hnsw(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    target_recall: float = 99.9,
    variants: tuple[tuple[int, int, int], ...] = DEFAULT_HNSW_VARIANTS,
    results: AutotuneResults | None = None,
    experiment_id: str | None = None,
    seed: int = 42,
    n_shards: int = 4,
) -> tuple[HnswVariant | None, list[HnswVariant]]:
    """The reference's actual autotune target (index_autotune/mod.rs:418-475):
    build an HNSW variant, measure recall + amortized latency against exact
    ground truth, early-stop at the target. One sharded build + ONE batched
    search job per variant; N6 result reuse and W2 selection shared with the
    PQ/IVF sweeps. `ef` from the grid is the query-time beam width."""
    from lantern_extras_spark.operators import hnsw as HNSW

    exp = experiment_id or f"hnsw:{vec_col}"
    if results is not None:
        cached = results.lookup(HnswVariant, exp, k, n_queries)
        if cached:
            return select_best(cached, target_recall), cached

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)

    out: list[HnswVariant] = []
    for m, efc, ef in variants:
        t0 = time.monotonic()
        shards = HNSW.build_hnsw_shards(
            df, vec_col=vec_col, id_col=id_col, n_shards=n_shards,
            m=m, ef_construction=efc, metric="l2sq", seed=seed,
        ).cache()
        shards.count()  # materialize: latency measures the search, not the build
        build_time = time.monotonic() - t0

        rec, latency = ev.timed_recall(
            HNSW.hnsw_topk_batch(shards, ev.queries, k=k, ef=ef, id_col=id_col)
        )
        shards.unpersist()
        out.append(HnswVariant(m, efc, ef, rec, latency, round(build_time, 4)))
        if rec >= target_recall:  # early stop (mod.rs:476-478)
            break

    if results is not None:
        results.append(HnswVariant, exp, k, n_queries, out)
    return select_best(out, target_recall), out


DEFAULT_BQ_OVERSAMPLES: tuple[int, ...] = (2, 4, 8, 16)


def autotune_bq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    target_recall: float = 99.9,
    oversamples: tuple[int, ...] = DEFAULT_BQ_OVERSAMPLES,
    results: AutotuneResults | None = None,
    experiment_id: str | None = None,
    seed: int = 42,
) -> tuple[BqVariant | None, list[BqVariant]]:
    """Sweep BQ candidate-oversample factors against exact ground truth with
    the N5 early-stop contract. The expensive stages — midrange training and
    code packing — run ONCE; each sweep point re-runs only the (cheap)
    two-stage query job, mirroring `autotune_ivf`'s probe-only reuse.

    Returns (best, all_results); with a `results` store the (k≥, n≥) cache
    rule short-circuits the sweep (N6)."""
    from lantern_extras_spark.operators import bq as BQ

    exp = experiment_id or f"bq:{vec_col}"
    if results is not None:
        cached = results.lookup(BqVariant, exp, k, n_queries)
        if cached:
            return select_best(cached, target_recall), cached

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)

    t0 = time.monotonic()
    mids = BQ.bq_train(df, vec_col)
    coded = BQ.bq_encode(df, mids, vec_col=vec_col, out_col="bq").cache()
    coded.count()
    build_time = round(time.monotonic() - t0, 4)

    out: list[BqVariant] = []
    for ov in oversamples:
        rec, latency = ev.timed_recall(
            BQ.bq_knn_join(coded, ev.queries_df, mids, k=k, oversample=ov,
                           id_col=id_col, vec_col=vec_col)
            .withColumnRenamed("rnk", "rank")
        )
        out.append(BqVariant(ov, rec, latency, build_time))
        if rec >= target_recall:  # early stop (mod.rs:476-478)
            break
    coded.unpersist()

    if results is not None:
        results.append(BqVariant, exp, k, n_queries, out)
    return select_best(out, target_recall), out


def compare_compressed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_queries: int = 10,
    pq_variant: tuple[int, int] = (8, 32),
    bq_oversample: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-call deployment report across the compressed-search family: exact
    float scan (the recall=100 baseline), SQ8 dequantized scan, BQ two-stage,
    and PQ ADC, each measured against the SAME ground truth. Returns a
    DataFrame (family, config, recall, latency_s, build_s, bytes_per_vec) —
    the 'which compression do I deploy' answer the four separate autotune
    sweeps leave to the reader.

    bytes_per_vec is the storage-form footprint (float32=4d; SQ8=d;
    BQ=d/8; PQ=splits bytes)."""
    from lantern_extras_spark.operators import bq as BQ
    from lantern_extras_spark.operators import sq as SQ8

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    dim = len(ev.queries[0][1])
    total_rows = df.count()
    rows = []

    # exact float baseline
    rec, lat = ev.timed_recall(
        knn_join(df.select(F.col(id_col), F.col(vec_col).alias("embedding")),
                 ev.queries_df, k=k, metric="l2sq")
    )
    rows.append(("float32", "exact scan", rec, lat, 0.0, 4 * dim))

    # SQ8
    t0 = time.monotonic()
    mins, maxs = SQ8.sq8_train(df, vec_col)
    sq_coded = SQ8.sq8_encode(df, mins, maxs, vec_col=vec_col, drop_vec=False).cache()
    sq_coded.count()
    sq_build = round(time.monotonic() - t0, 4)
    rec, lat = ev.timed_recall(SQ8.sq8_knn_join(sq_coded, ev.queries_df, mins, maxs, k=k, id_col=id_col))
    sq_coded.unpersist()
    rows.append(("sq8", "dequantized scan", rec, lat, sq_build, dim))

    # BQ
    t0 = time.monotonic()
    mids = BQ.bq_train(df, vec_col)
    bq_coded = BQ.bq_encode(df, mids, vec_col=vec_col, out_col="bq").cache()
    bq_coded.count()
    bq_build = round(time.monotonic() - t0, 4)
    rec, lat = ev.timed_recall(
        BQ.bq_knn_join(bq_coded, ev.queries_df, mids, k=k, oversample=bq_oversample,
                       id_col=id_col, vec_col=vec_col)
        .withColumnRenamed("rnk", "rank")
    )
    bq_coded.unpersist()
    rows.append(("bq", f"hamming x{bq_oversample} + rerank", rec, lat, bq_build, max(1, dim // 8)))

    # PQ ADC
    splits, clusters = pq_variant
    t0 = time.monotonic()
    cb = PQ.build_codebook(df, vec_col=vec_col, splits=splits, k=clusters,
                           seed=seed, total_rows=total_rows)
    pq_coded = PQ.quantize(df, cb, vec_col=vec_col, dim=dim).cache()
    pq_coded.count()
    pq_build = round(time.monotonic() - t0, 4)
    rec, lat = ev.timed_recall(PQ.adc_topk_batch(pq_coded, cb, ev.queries, k=k, id_col=id_col))
    pq_coded.unpersist()
    rows.append(("pq", f"adc {splits}x{clusters}", rec, lat, pq_build, splits))

    return local_frame(
        df.sparkSession,
        rows,
        "family string, config string, recall double, latency_s double, "
        "build_s double, bytes_per_vec int",
    )
