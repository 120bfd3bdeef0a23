"""HNSW approximate nearest-neighbor — the reference's graph index (usearch,
`lantern_cli/src/external_index/mod.rs:101-463`) re-expressed for Spark's
offline execution model.

The reference builds ONE usearch HNSW over the whole table (single node,
online serving). At 100 TB a single graph neither fits one machine nor builds
in one process, so the Spark-native shape is **sharded HNSW**: hash-partition
rows into shards, build one independent graph per shard inside an executor
(`applyInPandas` — one group = one shard = one build task), persist the
serialized graphs as a parquet artifact, and answer queries by fanning each
query out to every shard's graph and merging the global top-k (k·n_shards
candidate rows — tiny). This is the standard distributed-ANN layout (FAISS
sharding); build parallelism and search fan-out both scale linearly with
executors, and no single task ever holds more than one shard.

The graph algorithm itself is an original numpy implementation of the public
HNSW paper (Malkov & Yashunin, arXiv:1603.09320): exponentially-distributed
levels, greedy descent through upper layers, beam search (`ef`) at layer 0,
bidirectional links pruned to M (2M at layer 0). Parameter names and the
autotune grid mirror the reference's surface (`m`, `ef_construction`, `ef`
— `external_index/cli.rs`, `index_autotune/mod.rs:329-360`).

Determinism: levels come from a seeded RNG consumed in insertion order, and
shard membership is a hash of the id column — same data, same artifact.
"""

from __future__ import annotations

import heapq
import io
import math
from array import array
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


_METRICS = ("cos", "l2sq", "dot", "hamming")


class HnswIndex:
    """In-memory HNSW graph over float32 vectors (one shard's worth).

    Distances are "smaller is better": l2sq = squared L2; cos = 1 - cosine
    (vectors normalized once at insert); dot = -inner-product; hamming =
    count of differing elements over 0/1 (or small-int) vectors — the
    reference's usearch metric kinds (`external_index/server.rs` header
    `metric`, hamming from cli.rs:56-69 for bit elements).

    Every link list keeps its distances beside it (`_link_dists`, one
    `array('d')` per list, 8 bytes a link): a new link's distance is the one
    the beam search already returned, so pruning a full list is a sort of
    cached values, never a recomputation. A `from_bytes` index starts with
    no cached distances and fills a node's entry the first time an insert
    links to it, so an index that only serves searches pays nothing."""

    def __init__(
        self,
        dim: int,
        m: int = 16,
        ef_construction: int = 64,
        metric: str = "cos",
        seed: int = 42,
    ):
        if metric not in _METRICS:
            raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")
        self.dim = int(dim)
        self.m = int(m)
        self.m0 = 2 * self.m
        self.ef_construction = int(ef_construction)
        self.metric = metric
        self.seed = int(seed)
        self._ml = 1.0 / math.log(self.m) if self.m > 1 else 1.0
        self._rng = np.random.RandomState(seed)
        self._vecs = np.empty((0, dim), dtype=np.float32)
        self._ids: list[int] = []
        self._levels: list[int] = []
        # links[level] = {node: [neighbor nodes]}; level 0 has every node.
        # link_dists[level][node][i] = distance(node, links[level][node][i])
        self._links: list[dict[int, list[int]]] = [{}]
        self._link_dists: list[dict[int, array]] = [{}]
        self._entry = -1
        self._max_level = 0

    # -- distance kernels (vectorized over candidate node lists) ------------

    def _prep(self, v) -> np.ndarray:
        x = np.asarray(v, dtype=np.float32).reshape(-1)
        if x.shape[0] != self.dim:
            raise ValueError(f"expected dim={self.dim}, got {x.shape[0]}")
        if self.metric == "cos":
            n = float(np.linalg.norm(x))
            if n > 0:
                x = x / n
        return x

    def _dists(self, q: np.ndarray, nodes: list[int]) -> np.ndarray:
        X = self._vecs[nodes]
        if self.metric == "l2sq":
            d = X - q[None, :]
            return np.einsum("ij,ij->i", d, d)
        if self.metric == "hamming":
            return (X != q[None, :]).sum(axis=1).astype(np.float64)
        # cos (normalized) and dot both reduce to negative inner product;
        # cos shifted by +1 so ties/ordering match 1-cosine exactly
        ip = X @ q
        return (1.0 - ip) if self.metric == "cos" else -ip

    # -- core graph ops ------------------------------------------------------

    def _search_layer(self, q: np.ndarray, entries: list[int], ef: int, level: int):
        """Beam search one layer: returns [(dist, node)] of the ef closest,
        sorted ascending. Classic Algorithm 2 of the HNSW paper."""
        links = self._links[level]
        visited = set(entries)
        dists = self._dists(q, entries).tolist()
        # candidates: min-heap by dist; results: max-heap (negated) capped at ef
        cand = list(zip(dists, entries))
        heapq.heapify(cand)
        res = [(-d, n) for d, n in cand]
        heapq.heapify(res)
        while len(res) > ef:
            heapq.heappop(res)
        while cand:
            d, node = heapq.heappop(cand)
            if d > -res[0][0] and len(res) >= ef:
                break
            nbrs = [n for n in links.get(node, ()) if n not in visited]
            if not nbrs:
                continue
            visited.update(nbrs)
            for nd, n in zip(self._dists(q, nbrs).tolist(), nbrs):
                if len(res) < ef or nd < -res[0][0]:
                    heapq.heappush(cand, (nd, n))
                    heapq.heappush(res, (-nd, n))
                    if len(res) > ef:
                        heapq.heappop(res)
        return sorted((-nd, n) for nd, n in res)

    def _greedy_descend(self, q: np.ndarray, node: int, from_level: int, to_level: int) -> int:
        """Single-entry greedy walk through layers (from_level, to_level]."""
        for lev in range(from_level, to_level, -1):
            links = self._links[lev]
            cur_d = float(self._dists(q, [node])[0])
            improved = True
            while improved:
                improved = False
                nbrs = list(links.get(node, ()))
                if not nbrs:
                    break
                nd = self._dists(q, nbrs)
                j = int(np.argmin(nd))
                if float(nd[j]) < cur_d:
                    node, cur_d = nbrs[j], float(nd[j])
                    improved = True
        return node

    def _add_link(self, node: int, new: int, dist: float, level: int, cap: int) -> None:
        """Append `new` to `node`'s link list and prune it back to `cap` by
        distance (select-simple). The stable sort of the cached distances
        keeps the order `argsort(kind="stable")` of recomputed ones gave."""
        links, link_dists = self._links[level], self._link_dists[level]
        lst = links[node]
        ds = link_dists.get(node)
        if ds is None:  # a node loaded by from_bytes: fill its cache once
            ds = link_dists[node] = array("d", self._dists(self._vecs[node], lst).tolist())
        lst.append(new)
        ds.append(dist)
        if len(lst) > cap:
            order = sorted(range(len(lst)), key=ds.__getitem__)[:cap]
            links[node] = [lst[i] for i in order]
            link_dists[node] = array("d", [ds[i] for i in order])

    def add_batch(self, ids, vectors) -> None:
        """Insert rows in order. `ids` are external int64 labels (the
        reference packs ctid→u64 the same way, `external_index/mod.rs:30-64`)."""
        V = np.asarray(vectors, dtype=np.float32)
        if V.ndim != 2 or V.shape[1] != self.dim:
            raise ValueError(f"expected (n, {self.dim}) batch, got {V.shape}")
        if self.metric == "cos":
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            V = V / norms
        start = len(self._ids)
        self._vecs = np.vstack([self._vecs, V])
        for off, ext_id in enumerate(ids):
            self._ids.append(int(ext_id))
            self._insert(start + off)

    def _insert(self, idx: int) -> None:
        q = self._vecs[idx]
        level = int(-math.log(max(self._rng.random_sample(), 1e-12)) * self._ml)
        self._levels.append(level)
        while len(self._links) <= level:
            self._links.append({})
            self._link_dists.append({})
        for lev in range(level + 1):
            self._links[lev][idx] = []
            self._link_dists[lev][idx] = array("d")
        if self._entry < 0:
            self._entry = idx
            self._max_level = level
            return
        cur = self._entry
        if self._max_level > level:
            cur = self._greedy_descend(q, cur, self._max_level, level)
        for lev in range(min(level, self._max_level), -1, -1):
            cand = self._search_layer(q, [cur], self.ef_construction, lev)
            cap = self.m0 if lev == 0 else self.m
            top = cand[:cap]
            self._links[lev][idx] = [n for _, n in top]
            self._link_dists[lev][idx] = array("d", [d for d, _ in top])
            for d, n in top:
                self._add_link(n, idx, d, lev, cap)
            cur = cand[0][1]
        if level > self._max_level:
            self._entry = idx
            self._max_level = level

    def search(self, query, k: int = 10, ef: int | None = None):
        """Top-k (external_id, dist) for one query, dist ascending."""
        if self._entry < 0:
            return []
        q = self._prep(query)
        ef = max(int(ef or self.ef_construction), k)
        cur = self._greedy_descend(q, self._entry, self._max_level, 0)
        found = self._search_layer(q, [cur], ef, 0)[:k]
        return [(self._ids[n], float(d)) for d, n in found]

    def __len__(self) -> int:
        return len(self._ids)

    # -- serialization (self-describing npz; no pickle in the artifact) ------

    def to_bytes(self) -> bytes:
        flat: list[int] = []
        offsets: list[int] = [0]
        level_nodes: list[np.ndarray] = []
        for lev, links in enumerate(self._links):
            nodes = np.fromiter(sorted(links), dtype=np.int64, count=len(links))
            level_nodes.append(nodes)
            for n in nodes:
                flat.extend(links[int(n)])
                offsets.append(len(flat))
        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            meta=np.array(
                [self.dim, self.m, self.ef_construction, self.seed,
                 self._entry, self._max_level, len(self._links),
                 _METRICS.index(self.metric)],
                dtype=np.int64,
            ),
            vecs=self._vecs,
            ids=np.asarray(self._ids, dtype=np.int64),
            levels=np.asarray(self._levels, dtype=np.int64),
            level_sizes=np.asarray([len(n) for n in level_nodes], dtype=np.int64),
            level_nodes=np.concatenate(level_nodes) if level_nodes else np.empty(0, np.int64),
            link_offsets=np.asarray(offsets, dtype=np.int64),
            link_flat=np.asarray(flat, dtype=np.int64),
        )
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HnswIndex":
        """Rebuild from `to_bytes`. The RNG state is re-seeded, not restored:
        a loaded index answers searches identically (the graph is fully
        materialized); only continuing to INSERT into a loaded index may pick
        different levels than the never-serialized original — reindex (X10)
        rebuilds from source data anyway, matching the reference's
        reindex-not-patch semantics (`external_index/mod.rs` rebuild path)."""
        z = np.load(io.BytesIO(data), allow_pickle=False)
        meta = z["meta"]
        idx = cls(
            dim=int(meta[0]), m=int(meta[1]), ef_construction=int(meta[2]),
            metric=_METRICS[int(meta[7])], seed=int(meta[3]),
        )
        idx._vecs = z["vecs"]
        idx._ids = [int(x) for x in z["ids"]]
        idx._levels = [int(x) for x in z["levels"]]
        idx._entry = int(meta[4])
        idx._max_level = int(meta[5])
        n_levels = int(meta[6])
        sizes = z["level_sizes"]
        nodes = z["level_nodes"]
        offsets = z["link_offsets"]
        flat = z["link_flat"]
        idx._links = []
        idx._link_dists = [{} for _ in range(n_levels)]
        pos = 0
        edge = 0
        for lev in range(n_levels):
            links: dict[int, list[int]] = {}
            for n in nodes[pos:pos + int(sizes[lev])]:
                lo, hi = int(offsets[edge]), int(offsets[edge + 1])
                links[int(n)] = [int(x) for x in flat[lo:hi]]
                edge += 1
            idx._links.append(links)
            pos += int(sizes[lev])
        return idx


# ---------------------------------------------------------------------------
# Spark wrappers: shard-parallel build, artifact persistence, fan-out search
# ---------------------------------------------------------------------------

_SHARD_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("n", LongType()),
    StructField("dim", IntegerType()),
    StructField("m", IntegerType()),
    StructField("index", BinaryType()),
])


def build_hnsw_shards(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 64,
    metric: str = "cos",
    seed: int = 42,
) -> DataFrame:
    """Build one HNSW graph per hash shard, in parallel across executors.

    Shard membership is `xxhash64(id) mod n_shards` — deterministic and
    engine-portable, so a rebuild lands every row in the same shard. Each
    group's rows are sorted by id before insert so the graph itself is
    deterministic. Size `n_shards` so one shard's vectors + graph fit executor
    memory (~(dim·4 + m·32) bytes/row: the 2m-long level-0 link list and its
    cached distances take 8 bytes a link each); at 100 TB that's thousands of shards,
    each still building independently. Returns (shard, n, dim, m, index)."""

    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )

    def build(pdf):
        import pandas as pd

        pdf = pdf.sort_values("__id")
        shard = int(pdf["shard"].iloc[0])
        V = np.asarray([np.asarray(v, dtype=np.float32) for v in pdf["__vec"]])
        idx = HnswIndex(dim=V.shape[1], m=m, ef_construction=ef_construction,
                        metric=metric, seed=seed + shard)
        idx.add_batch(pdf["__id"].to_numpy(), V)
        return pd.DataFrame(
            {"shard": [shard], "n": [len(idx)], "dim": [V.shape[1]],
             "m": [m], "index": [idx.to_bytes()]}
        )

    return base.groupBy("shard").applyInPandas(build, _SHARD_SCHEMA)


def save_hnsw(shards: DataFrame, path: str) -> None:
    """Persist the shard artifact (parquet of serialized graphs) — the Spark
    analog of the reference's `.usearch` file save (`external_index/mod.rs:374`,
    S13); parquet replaces the large-object import path."""
    shards.write.mode("overwrite").parquet(path)


def load_hnsw(spark, path: str) -> DataFrame:
    return spark.read.schema(_SHARD_SCHEMA).parquet(path)


def reindex_hnsw(
    spark,
    df: DataFrame,
    path: str,
    **build_kwargs,
) -> DataFrame:
    """X10 semantics: reindex = full rebuild from source rows, overwriting the
    artifact (the reference drops and recreates the index rather than patching
    the graph). Returns the freshly loaded artifact."""
    save_hnsw(build_hnsw_shards(df, **build_kwargs), path)
    return load_hnsw(spark, path)


def hnsw_topk_batch(
    shards: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    ef: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """All queries × all shards in ONE Spark job: each task deserializes its
    shard once, answers every query against it (deserialize cost amortized),
    emits ≤ k rows per (query, shard); a window keeps the global top-k per
    query. Candidate volume is n_queries·n_shards·k rows — independent of
    corpus size, so the merge never becomes the bottleneck."""
    import pandas as pd
    from pyspark.sql import Window

    spark = shards.sparkSession
    bq = spark.sparkContext.broadcast(
        [(int(qid), np.asarray(v, dtype=np.float32)) for qid, v in queries]
    )
    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField(id_col, LongType()),
        StructField("dist", DoubleType()),
    ])

    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        qs = bq.value
        for pdf in batches:
            for blob in pdf["index"]:
                idx = HnswIndex.from_bytes(bytes(blob))
                rows = []
                for qid, qv in qs:
                    for ext_id, d in idx.search(qv, k=k, ef=ef):
                        rows.append((qid, ext_id, d))
                if rows:
                    yield pd.DataFrame(rows, columns=["query_id", id_col, "dist"])

    cand = shards.mapInPandas(scan, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hnsw_topk(
    shards: DataFrame,
    query_vec: list[float],
    k: int = 10,
    ef: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Single-query fan-out: per-shard top-k then global orderBy+limit
    (TakeOrderedAndProject — no full sort)."""
    cand = hnsw_topk_batch(shards, [(0, list(query_vec))], k=k, ef=ef, id_col=id_col)
    return cand.select(id_col, "dist").orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------------
# X9/X10 — create / reindex external index (lantern_extras/src/external_index.rs)
# ---------------------------------------------------------------------------

_PARAM_RANGES = {"ef": (1, 400), "ef_construction": (1, 400), "m": (2, 128)}


def validate_index_param(name: str, value: int, lo: int, hi: int) -> None:
    """Reference `validate_index_param` (external_index.rs:6-10)."""
    if not (lo <= int(value) <= hi):
        raise ValueError(f"{name} should be in range [{lo}, {hi}]")


def create_external_index(
    df: DataFrame,
    column: str = "embedding",
    table: str = "",
    metric_kind: str = "l2sq",
    dim: int = 0,
    m: int = 16,
    ef_construction: int = 16,
    ef: int = 16,
    pq: bool = False,
    index_name: str = "",
    root: str = ".",
    id_col: str = "vec_id",
    n_shards: int = 4,
    seed: int = 42,
) -> str:
    """X9 `lantern_create_external_index(column, table, schema, metric_kind,
    dim, m, ef_construction, ef, pq, index_name)` — same parameter surface and
    the reference's exact validation ranges (external_index.rs:25-33: ef/efc
    ∈ [1,400], m ∈ [2,128], dim ∈ [1,2000] when given). Builds the sharded
    HNSW artifact under `root/index_name` and records a catalog sidecar
    (source column + params) so `reindex_external_index` can resolve
    index → (table, column) the way the reference queries pg_index
    (external_index.rs:121-147). `table`, when given, is a parquet path the
    source rows can be re-read from on reindex; otherwise reindex requires a
    DataFrame. With `pq=True` the graph is built over PQ-quantized-then-
    reconstructed vectors (the reference's pq_construction/pq_output mode —
    server.rs:139-152 — compresses construction memory the same way).
    Returns the artifact path."""
    import json
    import os

    validate_index_param("ef", ef, *_PARAM_RANGES["ef"])
    validate_index_param("ef_construction", ef_construction, *_PARAM_RANGES["ef_construction"])
    validate_index_param("m", m, *_PARAM_RANGES["m"])
    if dim != 0:
        validate_index_param("dim", dim, 1, 2000)
    metric = {m: m for m in _METRICS}.get(metric_kind)
    if metric is None:
        raise ValueError(f"Invalid metric {metric_kind!r} ({'/'.join(_METRICS)})")

    source = df
    if pq:
        from lantern_extras_spark.operators import pq as PQ

        cb = PQ.build_codebook(df, vec_col=column, splits=8, k=16, seed=seed)
        coded = PQ.quantize(df, cb, vec_col=column, out_col="__pq", dim=dim or None)
        source = (
            PQ.decode(coded, cb, code_col="__pq", out_col="__recon")
            .drop(column, "__pq")
            .withColumnRenamed("__recon", column)
            .select(df.columns)
        )

    name = index_name or f"ldb_index_{column}"
    path = os.path.join(root, name)
    shards = build_hnsw_shards(
        source, vec_col=column, id_col=id_col, n_shards=n_shards,
        m=m, ef_construction=ef_construction, metric=metric, seed=seed,
    )
    save_hnsw(shards, path)
    catalog = {
        "table": table, "column": column, "id_col": id_col,
        "metric_kind": metric_kind, "dim": dim, "m": m,
        "ef_construction": ef_construction, "ef": ef, "pq": pq,
        "n_shards": n_shards, "seed": seed,
    }
    with open(os.path.join(path, "_lantern_catalog.json"), "w") as f:
        json.dump(catalog, f)
    return path


def reindex_external_index(
    spark,
    index_path: str,
    df: DataFrame | None = None,
    **overrides,
) -> str:
    """X10 `_reindex_external_index(index, metric_kind, dim, m, efc, ef, pq)`:
    resolve the index back to its (table, column) via the recorded catalog
    (the reference's pg_index join, external_index.rs:121-147), then rebuild
    by calling create (external_index.rs:150-161). `overrides` replace any
    recorded param (the reference passes fresh params on reindex); rows come
    from the recorded source path unless `df` is supplied."""
    import json
    import os

    cat_path = os.path.join(index_path, "_lantern_catalog.json")
    if not os.path.exists(cat_path):
        raise ValueError(f"Index at {index_path!r} not found (no catalog sidecar)")
    with open(cat_path) as f:
        cat = json.load(f)
    if df is None:
        if not cat["table"]:
            raise ValueError("catalog records no source table path; pass df=")
        df = spark.read.parquet(cat["table"])
    params = {k: cat[k] for k in (
        "column", "table", "metric_kind", "dim", "m", "ef_construction",
        "ef", "pq", "id_col", "n_shards", "seed",
    )}
    params.update(overrides)
    params["index_name"] = os.path.basename(index_path.rstrip("/"))
    return create_external_index(df, root=os.path.dirname(index_path.rstrip("/")) or ".", **params)


def hnsw_recall_vs_exact(
    df: DataFrame,
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 64,
    ef: int | None = None,
    n_queries: int = 10,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> float:
    """Recall of sharded-HNSW top-k vs exact kNN (N4-style eval, one batched
    search job for all queries)."""
    from lantern_extras_spark.operators.knn import EvalSet

    shards = build_hnsw_shards(
        df, vec_col=vec_col, id_col=id_col, n_shards=n_shards, m=m,
        ef_construction=ef_construction, metric="l2sq", seed=seed,
    ).cache()
    shards.count()
    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    rec = ev.recall(hnsw_topk_batch(shards, ev.queries, k=k, ef=ef, id_col=id_col))
    shards.unpersist()
    return rec
