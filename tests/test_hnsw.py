"""Sharded HNSW: graph correctness, recall, artifact round-trip, reindex,
exhaustive-ef exactness (the property the oracle query relies on), and the
reference-grid autotune sweep."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import hnsw as H
from lantern_extras_spark.operators.autotune import (
    DEFAULT_HNSW_VARIANTS,
    AutotuneResults,
    autotune_hnsw,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(400)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# -- pure-graph unit behavior -------------------------------------------------


def test_index_recall_vs_bruteforce():
    rng = np.random.RandomState(0)
    n, dim, k = 1500, 24, 10
    X = rng.randn(n, dim).astype(np.float32)
    idx = H.HnswIndex(dim, m=16, ef_construction=64, metric="l2sq", seed=42)
    idx.add_batch(np.arange(n), X)
    hits = 0
    queries = rng.randn(20, dim).astype(np.float32)
    for q in queries:
        got = {i for i, _ in idx.search(q, k=k, ef=64)}
        true = set(np.argsort(((X - q) ** 2).sum(1))[:k].tolist())
        hits += len(got & true)
    assert hits / (len(queries) * k) >= 0.9


def test_index_serialization_roundtrip():
    rng = np.random.RandomState(3)
    X = rng.randn(300, 8).astype(np.float32)
    idx = H.HnswIndex(8, m=8, ef_construction=32, metric="cos", seed=1)
    idx.add_batch(np.arange(300) * 7, X)  # non-contiguous external ids
    idx2 = H.HnswIndex.from_bytes(idx.to_bytes())
    assert len(idx2) == 300
    for q in X[:10]:
        assert idx.search(q, 5, 48) == idx2.search(q, 5, 48)


def test_index_metric_validation_and_dim_guard():
    with pytest.raises(ValueError, match="metric"):
        H.HnswIndex(4, metric="cosine")
    idx = H.HnswIndex(4, metric="l2sq")
    with pytest.raises(ValueError, match="batch"):
        idx.add_batch([1], np.zeros((1, 5), dtype=np.float32))


def test_exhaustive_ef_is_exact():
    """With ef >= n the beam covers the whole (connected) graph — the
    invariant the hash-checked `hnsw_search` entry query builds on."""
    rng = np.random.RandomState(11)
    n, dim = 500, 16
    X = rng.randn(n, dim).astype(np.float32)
    idx = H.HnswIndex(dim, m=16, ef_construction=48, metric="l2sq", seed=42)
    idx.add_batch(np.arange(n), X)
    for q in rng.randn(10, dim).astype(np.float32):
        got = [i for i, _ in idx.search(q, k=10, ef=n)]
        true = np.argsort(((X - q) ** 2).sum(1))[:10].tolist()
        assert got == true


# SHA-256 of `to_bytes()` for the graphs built in `test_graph_golden_digests`.
# The artifact is an npz with fixed zip entry timestamps, so the bytes are a
# pure function of the graph: any change to levels, link order or pruning
# shows up here. Recorded before the link-distance cache was introduced.
_GOLDEN = {
    "l2sq": "e19fb11029e7309082f94d86a85c688dffb60f43fbec8d03818385aad0ebd4d0",
    "cos": "839ecfc1fff615eedcb6cbcc8fa86037d74a74e0685712066bde0f9f2ceea0a8",
    "dot": "892b37cc578d39423cb0c0b6b7bdc8f733d72b09899167c190385960de0bd065",
    "hamming": "fa16c1b4c5d3b76f27b610c948fecf889436802d2fc848a15e26197932d416f2",
    "l2sq_reload": "7fab2e22dd906d65ec7059444a4596e4dce2ed0057e2a7838a780eabd22433b0",
}


def _golden_data(metric):
    rng = np.random.RandomState(2024)
    if metric == "hamming":
        return (rng.rand(240, 12) > 0.5).astype(np.float32)
    return rng.randn(240, 12).astype(np.float32)


@pytest.mark.parametrize("metric", ["l2sq", "cos", "dot", "hamming"])
def test_graph_golden_digests(metric):
    """Two add_batch calls (m=6 keeps link lists at their caps, so nearly
    every insert prunes) give a byte-identical artifact for every metric."""
    X = _golden_data(metric)
    idx = H.HnswIndex(12, m=6, ef_construction=24, metric=metric, seed=5)
    idx.add_batch(np.arange(150) * 3, X[:150])
    idx.add_batch(np.arange(150, 240) * 3, X[150:])
    assert hashlib.sha256(idx.to_bytes()).hexdigest() == _GOLDEN[metric]


def test_graph_golden_digest_after_reload():
    """Inserting into a `from_bytes` index links new rows to loaded nodes
    whose lists are already full; the result is still the recorded graph."""
    X = _golden_data("l2sq")
    idx = H.HnswIndex(12, m=6, ef_construction=24, metric="l2sq", seed=5)
    idx.add_batch(np.arange(150), X[:150])
    idx = H.HnswIndex.from_bytes(idx.to_bytes())
    idx.add_batch(np.arange(150, 240), X[150:])
    assert hashlib.sha256(idx.to_bytes()).hexdigest() == _GOLDEN["l2sq_reload"]


# -- Spark layer --------------------------------------------------------------


def test_shard_build_and_search(spark, vecs):
    shards = H.build_hnsw_shards(vecs, n_shards=4, m=12, ef_construction=48,
                                 metric="l2sq").cache()
    rows = shards.collect()
    assert {r["shard"] for r in rows} == {0, 1, 2, 3}
    assert sum(r["n"] for r in rows) == 400
    qv = vecs.where(F.col("vec_id") == 0).first()["embedding"]
    top = H.hnsw_topk(shards, list(qv), k=5, ef=600).collect()
    assert top[0]["vec_id"] == 0 and top[0]["dist"] < 1e-6
    assert [r["dist"] for r in top] == sorted(r["dist"] for r in top)
    shards.unpersist()


def test_batch_matches_single(spark, vecs):
    shards = H.build_hnsw_shards(vecs, n_shards=2, m=12, ef_construction=48,
                                 metric="l2sq").cache()
    q_rows = vecs.where(F.col("vec_id") < 3).collect()
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in q_rows]
    batch = H.hnsw_topk_batch(shards, queries, k=5, ef=600).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    for qid, qv in queries:
        single = [(r["vec_id"], r["dist"]) for r in H.hnsw_topk(shards, qv, k=5, ef=600).collect()]
        assert sorted(by_q[qid], key=lambda t: (t[1], t[0])) == single
    shards.unpersist()


def test_recall_on_fixture(spark, emb):
    rec = H.hnsw_recall_vs_exact(emb, n_shards=4, m=16, ef_construction=64,
                                 ef=96, n_queries=8, k=10)
    assert rec >= 90.0


def test_artifact_save_load_reindex(spark, vecs, tmp_path):
    path = str(tmp_path / "hnsw_artifact")
    shards = H.build_hnsw_shards(vecs, n_shards=2, m=8, ef_construction=32,
                                 metric="l2sq")
    H.save_hnsw(shards, path)
    loaded = H.load_hnsw(spark, path)
    qv = vecs.where(F.col("vec_id") == 42).first()["embedding"]
    top = H.hnsw_topk(loaded, list(qv), k=3, ef=600).collect()
    assert top[0]["vec_id"] == 42
    # reindex = rebuild-overwrite (X10): drop half the rows, artifact follows
    half = vecs.where(F.col("vec_id") < 200)
    reloaded = H.reindex_hnsw(spark, half, path, n_shards=2, m=8,
                              ef_construction=32, metric="l2sq")
    assert sum(r["n"] for r in reloaded.select("n").collect()) == 200


def test_shard_membership_deterministic(spark, vecs):
    a = {r["shard"]: r["n"] for r in H.build_hnsw_shards(vecs, n_shards=4, m=8,
         ef_construction=32).collect()}
    b = {r["shard"]: r["n"] for r in H.build_hnsw_shards(vecs, n_shards=4, m=8,
         ef_construction=32).collect()}
    assert a == b


def test_autotune_hnsw_sweep(spark, emb, tmp_path):
    store = AutotuneResults(spark, str(tmp_path / "autotune"))
    best, results = autotune_hnsw(
        emb, k=5, n_queries=4, target_recall=99.9,
        variants=DEFAULT_HNSW_VARIANTS[:3], results=store, n_shards=2,
    )
    assert best is not None
    assert 1 <= len(results) <= 3
    assert all(0.0 <= r.recall <= 100.0 for r in results)
    # early stop: nothing after the first target-meeting variant
    met = [i for i, r in enumerate(results) if r.recall >= 99.9]
    if met:
        assert met[0] == len(results) - 1
    # N6 reuse short-circuits with the cached rows
    best2, cached = autotune_hnsw(
        emb, k=5, n_queries=4, target_recall=99.9,
        variants=DEFAULT_HNSW_VARIANTS[:3], results=store, n_shards=2,
    )
    assert len(cached) == len(results)
    assert best2 is not None and best2.recall == best.recall
