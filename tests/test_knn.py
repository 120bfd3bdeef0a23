"""kNN operators: strategy equivalence, ground truth, recall semantics."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import knn as K


@pytest.mark.parametrize("metric", ["l2sq", "cos", "dot"])
def test_partial_equals_crossjoin(spark, emb, metric):
    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 4")
    a = K.knn_join(data, q, k=7, metric=metric, strategy="partial", dist_scale=6)
    b = K.knn_join(data, q, k=7, metric=metric, strategy="crossjoin", dist_scale=6)
    ra = [(r["query_id"], r["rank"], r["vec_id"]) for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["vec_id"]) for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb and len(ra) == 4 * 7


@pytest.mark.parametrize("metric", ["l2sq", "cos"])
def test_chunked_equals_crossjoin_multi_chunk(spark, emb, metric):
    """The blocked partial plan must return the exact crossjoin answer while
    splitting the query side across several blocks (chunk_size forces 3
    blocks here)."""
    q = emb.where("vec_id < 12").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 12")
    a = K.knn_join(data, q, k=7, metric=metric, dist_scale=6, chunk_size=4)
    b = K.knn_join(data, q, k=7, metric=metric, strategy="crossjoin",
                   dist_scale=6)
    ra = [(r["query_id"], r["rank"], r["vec_id"])
          for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["vec_id"])
          for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb and len(ra) == 12 * 7


def test_chunked_works_above_partial_driver_cap(spark, emb, monkeypatch):
    """A query side over MAX_COLLECTED_QUERIES falls back to the hash split
    (bounded per-block collects, never one above the cap) and stays exact.
    Shrink the cap so the test stays fast while exercising the real
    fallback."""
    monkeypatch.setattr(K, "MAX_COLLECTED_QUERIES", 8)
    q = emb.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 20")
    got = K.knn_join(data, q, k=3, metric="cos", dist_scale=6, chunk_size=4)
    want = K.knn_join(data, q, k=3, metric="cos", strategy="crossjoin",
                      dist_scale=6)
    ga = [(r["query_id"], r["rank"], r["vec_id"])
          for r in got.orderBy("query_id", "rank").collect()]
    wa = [(r["query_id"], r["rank"], r["vec_id"])
          for r in want.orderBy("query_id", "rank").collect()]
    assert ga == wa and len(ga) == 20 * 3


def test_chunked_edge_cases(spark, emb):
    q0 = emb.where("vec_id < 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = K.knn_join(emb, q0, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "distance", "rank"
    ]
    with pytest.raises(ValueError, match="chunk_size must be"):
        K.knn_join(emb, q0, k=3, chunk_size=0)
    with pytest.raises(ValueError, match="hash-imbalance margin"):
        K.knn_join(emb, q0, k=3, chunk_size=K.MAX_COLLECTED_QUERIES)
    for gone in ("chunked", "auto"):  # one planner; no strategy fork
        with pytest.raises(ValueError, match="unknown strategy"):
            K.knn_join(emb, q0, k=3, strategy=gone)


def test_chunked_releases_query_cache(spark, emb, monkeypatch):
    """Above the cap the hash-split loop persists the narrow query
    projection; the returned plan must not keep it cached (broadcasts carry
    the vectors)."""
    monkeypatch.setattr(K, "MAX_COLLECTED_QUERIES", 4)
    sc = spark.sparkContext
    n_cached = lambda: sc._jsc.sc().getPersistentRDDs().size()
    before = n_cached()
    q = emb.where("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    K.knn_join(emb.where("vec_id >= 6"), q, k=3, chunk_size=2).count()
    assert n_cached() <= before


def test_blocked_plan_builds_with_one_eager_job(spark, emb):
    """30 queries at chunk_size=8, under the driver cap: building knn_join
    or hard_negatives runs exactly one eager job (the bounded query
    collect, sliced into blocks on the driver), the plan unions one
    MapInPandas kernel per block, and the answer is the crossjoin's."""
    import uuid

    sc = spark.sparkContext
    q = emb.where("vec_id < 30").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where("vec_id >= 30")
    key = lambda df: sorted(tuple(r) for r in df.collect())
    for op in (K.knn_join, K.hard_negatives):
        group = f"knn-blocks-{uuid.uuid4().hex}"
        sc.setJobGroup(group, op.__name__)
        try:
            got = op(data, q, k=5, metric="cos", dist_scale=6, chunk_size=8)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, op.__name__
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") >= 2, plan
        want = op(data, q, k=5, metric="cos", strategy="crossjoin", dist_scale=6)
        assert key(got) == key(want) and len(key(got)) == 30 * 5, op.__name__


def test_knn_matches_numpy_bruteforce(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = emb.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        r["vec_id"]
        for r in K.knn_join(emb, q, k=5, metric="l2sq").orderBy("rank").collect()
    ]
    d = ((X - X[0]) ** 2).sum(axis=1)
    expect = ids[np.lexsort((ids, d))][:5].tolist()
    assert got == expect


def test_topk_single_query(emb):
    first = emb.where("vec_id = 0").first()["embedding"]
    out = K.topk(emb, list(first), k=3, metric="l2sq", vec_col="embedding").collect()
    assert out[0]["vec_id"] == 0 and out[0]["distance"] == pytest.approx(0.0, abs=1e-9)
    assert len(out) == 3


def test_ground_truth_and_recall(spark, emb):
    gt = K.ground_truth(emb, n_queries=5, k=4, metric="l2sq", seed=3)
    rows = gt.collect()
    assert len(rows) == 5
    # nearest neighbor of a vector is itself (distance 0)
    assert all(r["neighbors"][0] == r["id"] for r in rows)
    truth = gt.select("id", "neighbors")
    assert K.recall(truth, truth, 4) == 100.0
    # drop one neighbor from each -> recall 75, exactly, truncated not rounded
    broken = gt.select("id", F.slice("neighbors", 1, 3).alias("neighbors"))
    assert K.recall(truth, broken, 4) == 75.0


def test_recall_truncates_two_dp(spark):
    # 2/3 recall over k=3 = 66.666..% -> truncation gives 66.66 (reference
    # index_autotune/mod.rs:249-252 truncates, not rounds)
    t = spark.createDataFrame([(1, [1, 2, 3])], "id long, neighbors array<long>")
    r = spark.createDataFrame([(1, [1, 2, 9])], "id long, neighbors array<long>")
    assert K.recall(t, r, 3) == 66.66


def test_bad_metric_raises_eagerly(emb):
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    with pytest.raises(ValueError, match="unknown metric"):
        K.knn_join(emb, q, metric="euclid")


def _hn_queries(emb):
    return emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )


def test_hard_negatives_partial_equals_crossjoin(spark, emb):
    q = _hn_queries(emb)
    data = emb.where("vec_id >= 4")
    a = K.hard_negatives(data, q, k=7, metric="cos", strategy="partial", dist_scale=6)
    b = K.hard_negatives(data, q, k=7, metric="cos", strategy="crossjoin", dist_scale=6)
    key = lambda df: [
        (r["query_id"], r["rank"], r["vec_id"], r["label"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    ra, rb = key(a), key(b)
    assert ra == rb and len(ra) == 4 * 7


def test_hard_negatives_chunked_equals_crossjoin(spark, emb, monkeypatch):
    """Blocked negative mining (full-training-set scale): multiple blocks
    AND a query side above the (shrunken) driver cap must reproduce the
    declarative answer exactly, labels included."""
    monkeypatch.setattr(K, "MAX_COLLECTED_QUERIES", 8)
    q = emb.where("vec_id < 12").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where("vec_id >= 12")
    a = K.hard_negatives(data, q, k=4, metric="cos", dist_scale=6, chunk_size=4)
    b = K.hard_negatives(data, q, k=4, metric="cos", strategy="crossjoin",
                         dist_scale=6)
    key = lambda df: [
        (r["query_id"], r["rank"], r["vec_id"], r["label"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    ra, rb = key(a), key(b)
    assert ra == rb and len(ra) > 0
    # empty-queries edge keeps the full 5-column schema (chunk_size must
    # respect the monkeypatched cap's margin here too)
    q0 = q.where("query_id < 0")
    out = K.hard_negatives(data, q0, k=3, chunk_size=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "label", "distance", "rank"
    ]


def test_hard_negatives_excludes_query_label_and_beats_postfilter(spark, emb):
    q = _hn_queries(emb)
    data = emb.where("vec_id >= 4")
    qlab = {r["query_id"]: r["query_label"] for r in q.collect()}
    out = K.hard_negatives(data, q, k=5, metric="cos", strategy="partial").collect()
    assert all(r["label"] != qlab[r["query_id"]] for r in out)
    # filter-before-rank: every returned set equals the top-5 of the
    # label-filtered brute force (a post-filtered plain kNN can return fewer)
    X = {r["vec_id"]: (np.array(r["embedding"], dtype=float), r["label"]) for r in data.collect()}
    for qr in q.collect():
        qv = np.array(qr["query_vec"], dtype=float)
        cand = []
        for vid, (v, lab) in X.items():
            if lab == qr["query_label"]:
                continue
            d = 1.0 - float(v @ qv) / (np.linalg.norm(v) * np.linalg.norm(qv))
            cand.append((d, vid))
        want = [vid for _, vid in sorted(cand, key=lambda t: (round(t[0], 9), t[1]))[:5]]
        got = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"]) if r["query_id"] == qr["query_id"]]
        assert got == want, qr["query_id"]


def test_hard_negatives_null_labels_dropped(spark):
    data = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.9, 0.1], None), (3, [0.0, 1.0], 8)],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 7)], "query_id long, query_vec array<double>, query_label int"
    )
    for strat in ("partial", "crossjoin"):
        got = K.hard_negatives(data, q, k=5, metric="cos", strategy=strat).collect()
        # vec 1 shares the label, vec 2 has none -> only vec 3 qualifies
        assert [r["vec_id"] for r in got] == [3], strat
