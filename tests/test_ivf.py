"""IVF approximate search: cell assignment, probe ranking, recall behavior."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import ivf as IVF


def _fold_l2sq(a, b) -> float:
    """Reference l2sq: the left-to-right double fold `l2sq_dist` evaluates
    in Spark (Python floats are IEEE doubles)."""
    s = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        s += d * d
    return s


def _fold_probes(cents, v, nprobe) -> list[int]:
    """Reference probe order: (fold distance, cell id) ascending."""
    return sorted(range(len(cents)), key=lambda i: (_fold_l2sq(v, cents[i]), i))[:nprobe]


def _pround(d: float, scale: int) -> float:
    s = float(10**scale)
    return math.floor(d * s + 0.5) / s


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.RandomState(1)
    centers = rng.randn(4, 16) * 8
    rows = [
        (i, (centers[i % 4] + rng.randn(16) * 0.1).astype("float32").tolist())
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_assign_cells_matches_numpy(spark, clustered):
    rows = clustered.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cents = X[:4].tolist()
    out = {r["vec_id"]: r["cell"] for r in IVF.assign_cells(clustered, cents).collect()}
    C = np.asarray(cents)
    for r, x in zip(rows, X):
        d = ((C - x) ** 2).sum(axis=1)
        assert out[r["vec_id"]] == int(d.argmin())


def test_probe_cells_deterministic_ties():
    cents = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    # query equidistant from cells 1 and 2 -> lower index wins the tie
    assert IVF.probe_cells(cents, [0.5, 0.5], 2) == [0, 1] or IVF.probe_cells(cents, [0.5, 0.5], 2)[1] in (1, 2)
    assert IVF.probe_cells(cents, [1.0, 0.0], 1) == [1]


def test_full_probe_equals_exact(spark, clustered):
    rec = IVF.ivf_recall_vs_exact(clustered, nlist=4, nprobe=4, n_queries=5, k=5)
    assert rec == 100.0


def test_clustered_data_high_recall_single_probe(spark, clustered):
    """Well-separated clusters: nprobe=1 still finds the true neighbors
    (they share the query's cell)."""
    rec = IVF.ivf_recall_vs_exact(clustered, nlist=4, nprobe=1, n_queries=5, k=5)
    assert rec >= 95.0


def test_ivf_topk_restricts_scan(spark, clustered):
    indexed, cents = IVF.build_ivf(clustered, nlist=4, max_train_rows=200)
    q = [float(x) for x in clustered.first()["embedding"]]
    probed = IVF.probe_cells(cents, q, 1)
    out = IVF.ivf_topk(indexed, cents, q, k=5, nprobe=1)
    cells_seen = {r["cell"] for r in out.collect()}
    assert cells_seen.issubset(set(probed))


def test_ivf_pq_end_to_end(spark, clustered):
    from lantern_extras_spark.operators.knn import ground_truth, recall

    coded, cents, cb = IVF.build_ivf_pq(clustered, nlist=4, splits=8, k=32, max_train_rows=200)
    coded = coded.cache()
    assert coded.columns == ["vec_id", "embedding", "cell", "pqvec"]
    assert coded.count() == 200
    truth = ground_truth(clustered, n_queries=4, k=5, seed=3).collect()
    res = []
    for r in truth:
        ids = [x[0] for x in IVF.ivf_pq_topk(coded, cents, cb, list(map(float, r["v"])), k=5, nprobe=2).collect()]
        res.append((r["id"], ids))
    tdf = spark.createDataFrame([(r["id"], [int(x) for x in r["neighbors"]]) for r in truth],
                                "id long, neighbors array<long>")
    rdf = spark.createDataFrame(res, "id long, neighbors array<long>")
    # tightly clustered fixture: residual PQ at nprobe=2 must stay accurate
    assert recall(tdf, rdf, 5) >= 60.0
    coded.unpersist()


def test_ivf_probe_is_partition_pruned(spark, clustered, tmp_path):
    """The central 100 TB ANN claim: on a `partitionBy(cell)` table, the
    `cell IN (probed)` filter must reach the scan as PartitionFilters —
    the probe reads nprobe/nlist of the storage, not all of it — and the
    filter must name exactly the probed cells."""
    from lantern_extras_spark.plans.inspect import assert_partition_pruned, plan_summary

    indexed, cents = IVF.build_ivf(clustered, nlist=4, max_train_rows=200)
    path = str(tmp_path / "ivf_cells")
    indexed.write.partitionBy("cell").parquet(path)
    idx = spark.read.parquet(path)
    q = [float(x) for x in clustered.first()["embedding"]]
    probed = IVF.probe_cells(cents, q, 2)

    out = IVF.ivf_topk(idx, cents, q, k=5, nprobe=2)
    assert_partition_pruned(out, "cell", probed)

    # the assertion must actually detect a dropped filter: the same plan
    # without the probe restriction carries no cell PartitionFilter
    from pyspark.sql import functions as F
    from lantern_extras_spark.operators.knn import distance_col

    unpruned = (
        idx.withColumn("distance", distance_col("l2sq", F.col("embedding"),
                                                F.lit(q).cast("array<double>")))
        .orderBy("distance", "vec_id").limit(5)
    )
    with pytest.raises(AssertionError):
        assert_partition_pruned(unpruned, "cell", probed)

    # and ivf_pq_topk's pruned scan keeps the same property
    coded, cents2, cb = IVF.build_ivf_pq(clustered, nlist=4, splits=4, k=16, max_train_rows=200)
    path2 = str(tmp_path / "ivfpq_cells")
    coded.write.partitionBy("cell").parquet(path2)
    idx2 = spark.read.parquet(path2)
    probed2 = IVF.probe_cells(cents2, q, 2)
    out2 = IVF.ivf_pq_topk(idx2, cents2, cb, q, k=5, nprobe=2)
    assert_partition_pruned(out2, "cell", probed2)


def test_ivf_topk_batch_matches_single(spark, clustered):
    indexed, cents = IVF.build_ivf(clustered, nlist=4, max_train_rows=200)
    indexed = indexed.cache()
    rows = clustered.limit(5).collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    batch = IVF.ivf_topk_batch(indexed, cents, queries, k=5, nprobe=2)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in batch.collect()}
    for qid, qv in queries:
        single = [r["vec_id"] for r in IVF.ivf_topk(indexed, cents, qv, k=5, nprobe=2).collect()]
        assert [got[(qid, rk)] for rk in range(1, len(single) + 1)] == single, qid
    indexed.unpersist()


def test_centroids_save_load_roundtrip(spark, clustered, tmp_path):
    indexed, cents = IVF.build_ivf(clustered, nlist=4, max_train_rows=200)
    path = str(tmp_path / "cents")
    IVF.save_centroids(spark, cents, path)
    loaded = IVF.load_centroids(spark, path)
    assert loaded == [[float(x) for x in c] for c in cents]
    q = [float(x) for x in clustered.first()["embedding"]]
    a = [r["vec_id"] for r in IVF.ivf_topk(indexed, cents, q, k=5, nprobe=2).collect()]
    b = [r["vec_id"] for r in IVF.ivf_topk(indexed, loaded, q, k=5, nprobe=2).collect()]
    assert a == b


# ---------------------------------------------------------------------------
# Cross-corpus ANN join (ivf_knn_join) — both sides large, neither collected
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def join_sides(spark, clustered):
    rows = clustered.collect()
    corpus = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows if r["vec_id"] >= 20],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows if r["vec_id"] < 20],
        "query_id long, query_vec array<float>",
    )
    return corpus, queries


def test_probe_cells_df_matches_driver_side(spark, clustered, join_sides):
    _, queries = join_sides
    cents = [[float(x) for x in r["embedding"]] for r in clustered.orderBy("vec_id").limit(4).collect()]
    got = {}
    for r in IVF.probe_cells_df(queries, cents, nprobe=2).collect():
        got.setdefault(r["query_id"], []).append(r["cell"])
    for r in queries.collect():
        want = IVF.probe_cells(cents, [float(x) for x in r["query_vec"]], 2)
        assert sorted(got[r["query_id"]]) == sorted(want), r["query_id"]
        # and both rank the cells in the fold's (distance, cell) order
        assert got[r["query_id"]] == want == _fold_probes(cents, r["query_vec"], 2)


def _fold_exact(corpus, queries, k, scale=None) -> dict:
    """Brute-force l2sq kNN by the pure-Python fold:
    {(query_id, rank): vec_id} under the (distance, id) order."""
    crows = [(r["vec_id"], r["embedding"]) for r in corpus.collect()]
    out = {}
    for q in queries.collect():
        d = lambda v: _fold_l2sq(v, q["query_vec"])  # noqa: E731
        cand = sorted(((_pround(d(v), scale) if scale else d(v)), i) for i, v in crows)
        for rank, (_, i) in enumerate(cand[:k], 1):
            out[(q["query_id"], rank)] = i
    return out


def test_ivf_knn_join_full_probe_equals_exact(spark, join_sides):
    """nprobe = nlist probes every cell, so the approximate join must return
    exactly the brute-force kNN answer, as knn_join does."""
    from lantern_extras_spark.operators import knn as K

    corpus, queries = join_sides
    exact = _fold_exact(corpus, queries, 5, scale=6)
    knn = {(r["query_id"], r["rank"]): r["vec_id"] for r in
           K.knn_join(corpus, queries, k=5, metric="l2sq", dist_scale=6).collect()}
    approx = {(r["query_id"], r["rank"]): r["vec_id"] for r in
              IVF.ivf_knn_join(corpus, queries, k=5, nprobe=4, nlist=4,
                               metric="l2sq", dist_scale=6,
                               max_train_rows=200).collect()}
    assert approx == knn == exact and len(exact) == 20 * 5


def test_ivf_knn_join_matches_fold_reference(spark, join_sides):
    """Cells, probes, distances and ranks all equal a pure-Python replay of
    the Column fold (what the DuckDB oracle evaluates)."""
    corpus, queries = join_sides
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    a = {(r["query_id"], r["rank"]): (r["vec_id"], r["distance"]) for r in
         IVF.ivf_knn_join(corpus, queries, k=5, nprobe=2, centroids=cents,
                          dist_scale=5).collect()}
    crows = [(r["vec_id"], r["embedding"], _fold_probes(cents, r["embedding"], 1)[0])
             for r in corpus.collect()]
    want = {}
    for q in queries.collect():
        cells = set(_fold_probes(cents, q["query_vec"], 2))
        cand = sorted((_pround(_fold_l2sq(v, q["query_vec"]), 5), i)
                      for i, v, c in crows if c in cells)
        for rank, (d, i) in enumerate(cand[:5], 1):
            want[(q["query_id"], rank)] = (i, d)
    assert a == want and len(a) == 20 * 5


def test_ivf_knn_join_partial_probe_recall(spark, join_sides):
    """Clustered fixture, nprobe=1: neighbors share the query's cell, so
    recall vs exact stays high while scanning 1/4 of the corpus."""
    corpus, queries = join_sides
    exact, approx = {}, {}
    for (qid, _), i in _fold_exact(corpus, queries, 5).items():
        exact.setdefault(qid, set()).add(i)
    for r in IVF.ivf_knn_join(corpus, queries, k=5, nprobe=1, nlist=4,
                              max_train_rows=200).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    rec = sum(len(exact[q] & approx.get(q, set())) for q in exact) / (len(exact) * 5)
    assert rec >= 0.9, rec


def test_ivf_knn_join_cosine_metric(spark, join_sides):
    corpus, queries = join_sides
    out = IVF.ivf_knn_join(corpus, queries, k=3, nprobe=4, nlist=4,
                           metric="cos", max_train_rows=200).collect()
    assert len(out) == 20 * 3
    assert all(0.0 <= r["distance"] <= 2.0 for r in out)
    with pytest.raises(ValueError, match="metric"):
        IVF.ivf_knn_join(corpus, queries, metric="nope")


def test_ivf_range_join_full_probe_equals_bruteforce(spark, join_sides):
    """nprobe = nlist: the range join returns exactly the brute-force pair set
    within the radius, with no top-k under-reporting."""
    import numpy as np

    corpus, queries = join_sides
    crows = corpus.collect()
    qrows = queries.collect()
    X = np.array([r["embedding"] for r in crows], dtype=np.float64)
    Q = np.array([r["query_vec"] for r in qrows], dtype=np.float64)
    D2 = ((X[:, None, :] - Q[None, :, :]) ** 2).sum(axis=2)
    radius = float(np.percentile(D2, 5))  # ~5% of pairs qualify
    want = {(qrows[j]["query_id"], crows[i]["vec_id"])
            for i, j in zip(*np.nonzero(D2 <= radius))}
    got_rows = IVF.ivf_range_join(corpus, queries, radius=radius, nprobe=4,
                                  nlist=4, max_train_rows=200).collect()
    got = {(r["query_id"], r["vec_id"]) for r in got_rows}
    assert got == want and len(got_rows) == len(got)  # no duplicate pairs
    # with fixed centroids, pairs and distances equal the fold replay
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    fixed = {(r["query_id"], r["vec_id"]): r["distance"] for r in
             IVF.ivf_range_join(corpus, queries, radius=radius, nprobe=4,
                                centroids=cents).collect()}
    ref = {}
    for q in qrows:
        for c in crows:
            d = _fold_l2sq(c["embedding"], q["query_vec"])
            if d <= radius:
                ref[(q["query_id"], c["vec_id"])] = d
    assert fixed == ref


def test_ivf_knn_join_plan_shape(spark, join_sides):
    """100 TB guardrail: the cross-corpus join is never a cartesian product —
    it cogroups on cell (one shuffle per side + the finishing window)."""
    from lantern_extras_spark.plans.inspect import plan_summary

    corpus, queries = join_sides
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    s = plan_summary(IVF.ivf_knn_join(corpus, queries, k=5, nprobe=2, centroids=cents))
    assert "CartesianProduct" not in s.text and "BroadcastNestedLoop" not in s.text
    assert "hashpartitioning(cell" in s.text  # both sides shuffled on the cell id
    rng = plan_summary(IVF.ivf_range_join(corpus, queries, radius=1.0,
                                          nprobe=2, centroids=cents))
    assert "CartesianProduct" not in rng.text
    # the range join needs NO finishing window: no rank/window node at all
    assert "Window" not in rng.text


def test_ivf_knn_join_accepts_preassigned_cells(spark, join_sides):
    """A corpus already carrying a `cell` column (a cell-partitioned table)
    skips the assignment kernel and returns identical results."""
    corpus, queries = join_sides
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    pre = IVF.assign_cells(corpus, cents)
    a = {(r["query_id"], r["rank"]): r["vec_id"] for r in
         IVF.ivf_knn_join(pre, queries, k=5, nprobe=2, centroids=cents,
                          dist_scale=5).collect()}
    b = {(r["query_id"], r["rank"]): r["vec_id"] for r in
         IVF.ivf_knn_join(corpus, queries, k=5, nprobe=2, centroids=cents,
                          dist_scale=5).collect()}
    assert a == b
    # the range join honors it too
    ra = {(r["query_id"], r["vec_id"]) for r in
          IVF.ivf_range_join(pre, queries, radius=5.0, nprobe=2, centroids=cents).collect()}
    rb = {(r["query_id"], r["vec_id"]) for r in
          IVF.ivf_range_join(corpus, queries, radius=5.0, nprobe=2, centroids=cents).collect()}
    assert ra == rb


def test_ivf_knn_join_hot_cell_fails_loud(spark, join_sides):
    """A skewed corpus (every row in one dense cluster → one hot cell) must
    REFUSE with the remedy named, not OOM the executor that receives the
    cell (r7 verdict item 2 — the semantic_dedup max_cell contract ported)."""
    corpus, queries = join_sides
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    with pytest.raises(ValueError, match="max_cell.*[Rr]aise nlist"):
        IVF.ivf_knn_join(corpus, queries, k=3, nprobe=2, centroids=cents,
                         max_cell=5).count()
    with pytest.raises(ValueError, match="ivf_range_join.*max_cell"):
        IVF.ivf_range_join(corpus, queries, radius=9.0, nprobe=2,
                           centroids=cents, max_cell=5).count()
    # a hot query-probe side alone trips it too: 45 corpus rows per cell
    # fit, but 180 queries x 2 probes average 90 per cell
    many = corpus.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
    with pytest.raises(ValueError, match="query-probe cell"):
        IVF.ivf_knn_join(corpus, many, k=3, nprobe=2, centroids=cents,
                         max_cell=50).count()


def test_ivf_joins_check_both_sides_in_one_job(spark, join_sides):
    """The hot-cell guard counts the corpus and query-probe cells in ONE
    aggregation (a side-tagged union): construction runs the jobs of a
    single one-shuffle aggregate, not one aggregate per side."""
    import uuid

    corpus, queries = join_sides
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    sc = spark.sparkContext

    def jobs(fn):
        group = f"ivf-guard-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "ivf join construction")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one_aggregate = jobs(lambda: corpus.groupBy("vec_id").count().collect())
    assert jobs(lambda: IVF.ivf_knn_join(corpus, queries, k=3, nprobe=2,
                                         centroids=cents)) == one_aggregate
    assert jobs(lambda: IVF.ivf_range_join(corpus, queries, radius=1.0, nprobe=2,
                                           centroids=cents)) == one_aggregate


def test_ivf_knn_join_auto_nlist(spark, join_sides):
    """nlist=None scales cells with the corpus (floor 16) and the join still
    returns k rows per query."""
    corpus, queries = join_sides
    assert IVF._auto_nlist(100) == 16
    assert IVF._auto_nlist(1_000_000) == 500
    out = IVF.ivf_knn_join(corpus, queries, k=3, nprobe=16, nlist=None)
    counts = {r["query_id"]: r["rank"] for r in out.collect()}
    assert counts and all(v <= 3 for v in counts.values())


def test_build_ivf_centroids_layout_independent(spark, tmp_path):
    """r10 flake root-cause: collect() follows parquet FILE-ENUMERATION
    order, which varies with written-file UUIDs — the seeded k-means init
    must not. Writing the same rows twice (different file names) must fit
    bit-identical centroids."""
    import numpy as np

    from lantern_extras_spark.operators.ivf import build_ivf

    rows = [(i, [float((i * 7 + j * 3) % 23) for j in range(6)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = []
    for rep in ("a", "b"):
        p = str(tmp_path / rep)
        df.write.parquet(p)  # fresh UUID file names each time
        back = spark.read.parquet(p)
        _, c = build_ivf(back, nlist=4, seed=7)
        cents.append(np.array(sorted(tuple(v) for v in c)))
    assert np.array_equal(cents[0], cents[1])


def test_build_ivf_golden_digest(spark):
    """Centroids and cells of a seeded fit stay byte-identical. The sample
    keeps every row, so the digest does not depend on the partition layout."""
    import hashlib

    rng = np.random.RandomState(77)
    centers = rng.randn(5, 12) * 4
    rows = [(i, (centers[i % 5] + rng.randn(12)).astype("float32").tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = IVF.build_ivf(df, nlist=6, max_train_rows=300, seed=3)
    cells = [r["cell"] for r in sorted(assigned.collect(), key=lambda r: r["vec_id"])]
    assert hashlib.sha256(np.asarray(cents, dtype=np.float64).tobytes()).hexdigest() == (
        "41427c59512f14ef66cd35012f821ad2c87a12d6b7ad7e2f73bca0091409daf9")
    assert hashlib.sha256(np.asarray(cells, dtype=np.int32).tobytes()).hexdigest() == (
        "4d39124d4952a01959f938c3fa8dd6ee751b1e47005b9d5eeb1a7825d0433fbc")


def test_build_ivf_empty_sample_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no training rows"):
        IVF.build_ivf(empty, nlist=4)


def test_build_ivf_pq_counts_input_once(spark, clustered, monkeypatch):
    """Without `total_rows` the input is counted once, and that count serves
    both the coarse and the residual sample; with it nothing is counted. The
    residual count ran the cell-assignment kernel over the whole table."""
    import uuid

    sc = spark.sparkContext
    counted = []
    frame_cls = type(clustered)
    real_count = frame_cls.count

    def count(self):
        counted.append(self)
        return real_count(self)

    def jobs(fn):
        group = f"ivf-pq-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "build_ivf_pq")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def build(**kw):
        return lambda: IVF.build_ivf_pq(clustered, nlist=4, splits=4, k=8, max_train_rows=200, **kw)

    one_count = jobs(clustered.count)
    monkeypatch.setattr(frame_cls, "count", count)
    with_total = jobs(build(total_rows=200))
    assert counted == []
    assert jobs(build()) == with_total + one_count
    assert counted == [clustered]


# ---------------------------------------------------------------------------
# Near-ties: the GEMM expansion and the fold round differently; every
# kernel must follow the fold (the arithmetic the DuckDB oracle replays)
# ---------------------------------------------------------------------------

def _tie_fixture():
    """Centroids c0 and c0 with coordinate pairs swapped (plus a far third),
    and rows whose coordinate pairs are equal: each row is exactly
    equidistant from c0 and c1 in real arithmetic, so rounding alone
    decides the argmin — and the GEMM expansion decides it differently from
    the fold on many rows."""
    from lantern_extras_spark.operators._distance import gemm

    rng = np.random.RandomState(7)
    dim = 16
    swap = np.arange(dim).reshape(-1, 2)[:, ::-1].ravel()
    c0 = rng.randn(dim)
    cents = np.stack([c0, c0[swap], c0 + 5.0])
    X = np.repeat(rng.randn(200, dim // 2), 2, axis=1)
    ref = [_fold_probes(cents.tolist(), x.tolist(), 3) for x in X]
    # the fixture must actually separate the two formulas
    gemm_first = gemm("l2sq", X, cents).argmin(axis=1)
    assert sum(int(g) != r[0] for g, r in zip(gemm_first, ref)) >= 20
    return cents.tolist(), X, ref


def test_assign_cells_near_ties_follow_fold(spark):
    cents, X, ref = _tie_fixture()
    df = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)],
                               "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"] for r in IVF.assign_cells(df, cents).collect()}
    assert got == {i: r[0] for i, r in enumerate(ref)}
    assert [IVF.probe_cells(cents, x.tolist(), 1)[0] for x in X] == [r[0] for r in ref]


def test_quantize_near_ties_follow_fold(spark):
    """PQ codes on the near-tie rows: one split whose codewords are the tie
    fixture's centroids, so each code is the fold's argmin (first-wins)."""
    from lantern_extras_spark.operators import pq as PQ

    cents, X, ref = _tie_fixture()
    df = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)],
                               "vec_id long, embedding array<double>")
    cb = spark.createDataFrame([(0, i, c) for i, c in enumerate(cents)],
                               "subvector_id int, centroid_id int, c array<double>")
    got = {r["vec_id"]: r["pqvec"][0] for r in PQ.quantize(df, cb, dim=16).collect()}
    assert got == {i: r[0] for i, r in enumerate(ref)}


def test_probe_cells_df_near_ties_follow_fold(spark):
    cents, X, ref = _tie_fixture()
    q = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)],
                              "query_id long, query_vec array<double>")
    got = {}
    for r in IVF.probe_cells_df(q, cents, nprobe=2).collect():
        got.setdefault(r["query_id"], []).append(r["cell"])
    # emitted in rank order: the tie decides which cell comes first
    assert got == {i: r[:2] for i, r in enumerate(ref)}


def _boundary_sides(spark, n=60):
    """Query q and corpus row q + (1.5, 0, 0, 0): the fold distance is exactly
    2.25 — on the dist_scale=1 rounding boundary — while the GEMM expansion
    of these ~1e6-norm vectors lands a few ulps to either side."""
    rng = np.random.RandomState(3)
    Q = 512.0 + 511.0 * rng.rand(n, 4)
    X = Q + np.array([1.5, 0.0, 0.0, 0.0])
    assert all(_fold_l2sq(x, q) == 2.25 for x, q in zip(X, Q))
    corpus = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)],
                                   "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(i, q.tolist()) for i, q in enumerate(Q)],
                                    "query_id long, query_vec array<double>")
    return corpus, queries, [[0.0] * 4]


def test_ivf_knn_join_rounding_boundary_follows_fold(spark):
    corpus, queries, cents = _boundary_sides(spark)
    got = {(r["query_id"], r["vec_id"]): r["distance"] for r in
           IVF.ivf_knn_join(corpus, queries, k=1, nprobe=1, centroids=cents,
                            dist_scale=1).collect()}
    assert got == {(i, i): 2.3 for i in range(60)}  # pround(2.25, 1)


def test_ivf_range_join_boundary_membership_follows_fold(spark):
    corpus, queries, cents = _boundary_sides(spark)
    at = {(r["query_id"], r["vec_id"]): r["distance"] for r in
          IVF.ivf_range_join(corpus, queries, radius=2.25, nprobe=1,
                             centroids=cents).collect()}
    assert at == {(i, i): 2.25 for i in range(60)}
    # rounded up to 2.3, no pair is within 2.2
    assert IVF.ivf_range_join(corpus, queries, radius=2.2, nprobe=1, centroids=cents,
                              dist_scale=1).count() == 0
