"""Product quantization: the reference test fixture invariants
(lantern_cli/tests/pq_test_with_db.rs via FIXTURES.md §4): 1000×128-dim,
10 clusters × 32 splits ⇒ codebook 320 rows of dim 4, every code vector has
exactly 32 codes, all codes < 10."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import pq as PQ


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(42)
    rows = [(i, rng.rand(128).astype("float32").tolist()) for i in range(1000)]
    return spark.createDataFrame(rows, "id long, v array<float>")


@pytest.fixture(scope="module")
def codebook(vecs):
    return PQ.build_codebook(vecs, vec_col="v", splits=32, k=10, max_train_rows=1000).cache()


def test_codebook_shape(codebook):
    rows = codebook.collect()
    assert len(rows) == 320  # 10 clusters × 32 splits
    assert all(len(r["c"]) == 4 for r in rows)  # 128/32
    subs = {r["subvector_id"] for r in rows}
    assert subs == set(range(32))
    cents = {r["centroid_id"] for r in rows}
    assert cents == set(range(10))


def test_quantize_codes(vecs, codebook):
    coded = PQ.quantize(vecs, codebook, vec_col="v")
    rows = coded.select("pqvec").collect()
    assert all(len(r["pqvec"]) == 32 for r in rows)
    assert all(0 <= c < 10 for r in rows for c in r["pqvec"])


def test_quantize_binary_mode(vecs, codebook):
    coded = PQ.quantize(vecs.limit(10), codebook, vec_col="v", as_binary=True)
    rows = coded.select("pqvec").collect()
    assert all(isinstance(r["pqvec"], (bytes, bytearray)) and len(r["pqvec"]) == 32 for r in rows)


def test_quantize_deterministic(vecs, codebook):
    a = {r["id"]: r["pqvec"] for r in PQ.quantize(vecs, codebook, vec_col="v").collect()}
    b = {r["id"]: r["pqvec"] for r in PQ.quantize(vecs, codebook, vec_col="v").collect()}
    assert a == b


def test_quantize_direct_formulation_matches_gemm(vecs, codebook):
    """The parity path (sequential Σ(x−c)², oracle association order) and the
    scale path (GEMM expansion) must agree away from exact near-ties — this
    fixture's k-means centroids are well-separated."""
    g = {r["id"]: r["pqvec"] for r in PQ.quantize(vecs, codebook, vec_col="v").collect()}
    d = {
        r["id"]: r["pqvec"]
        for r in PQ.quantize(vecs, codebook, vec_col="v", formulation="direct").collect()
    }
    assert g == d
    with pytest.raises(ValueError, match="formulation"):
        PQ.quantize(vecs, codebook, vec_col="v", formulation="nope")


def test_quantize_direct_is_sequential_sum():
    """The direct kernel's accumulation order is left-to-right (cumsum), i.e.
    bit-identical to a python running sum — the property the DuckDB list_sum
    oracle relies on for tie-impossibility."""
    rng = np.random.RandomState(7)
    X = rng.rand(5, 16)
    C = rng.rand(3, 16)
    for x in X:
        for c in C:
            seq = 0.0
            for xi, ci in zip(x, c):
                seq += (xi - ci) * (xi - ci)
            sq = x - c
            sq = sq * sq
            assert np.cumsum(sq)[-1] == seq


def test_decode_dimensions(vecs, codebook):
    coded = PQ.quantize(vecs.limit(5), codebook, vec_col="v")
    dec = PQ.decode(coded, codebook).collect()
    assert all(len(r["decoded"]) == 128 for r in dec)


def test_decode_reduces_error_vs_random(vecs, codebook):
    """Reconstruction from codes must beat a random codebook assignment."""
    coded = PQ.quantize(vecs.limit(100), codebook, vec_col="v")
    dec = PQ.decode(coded, codebook)
    from lantern_extras_spark.functions.vector import l2sq_dist

    err = dec.select(F.avg(l2sq_dist("v", "decoded")).alias("e")).first()["e"]
    # random uniform in [0,1): per-dim variance 1/12 → random-pair expected
    # l2sq ≈ 128·(2/12) ≈ 21; kmeans reconstruction must be far below that
    assert err < 10.0


def test_adc_topk_exact_centroid(vecs, codebook):
    """A query equal to a stored vector must rank that vector first by ADC."""
    target = vecs.where("id = 7").first()["v"]
    coded = PQ.quantize(vecs, codebook, vec_col="v")
    top = PQ.adc_topk(coded, codebook, list(map(float, target)), k=5, id_col="id").collect()
    assert top[0]["id"] == 7


def test_split_bounds_remainder():
    # last split takes the remainder (reference pq/codebook.rs:128-133)
    assert PQ.split_bounds(10, 3) == [(0, 3), (3, 6), (6, 10)]


def test_codebook_deterministic(vecs):
    a = PQ.build_codebook(vecs, vec_col="v", splits=4, k=5, max_train_rows=500).collect()
    b = PQ.build_codebook(vecs, vec_col="v", splits=4, k=5, max_train_rows=500).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_adc_topk_batch_matches_single(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = PQ.build_codebook(df, vec_col="embedding", splits=4, k=16, max_train_rows=120)
    coded = PQ.quantize(df, cb, vec_col="embedding").cache()
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in rows[:5]]
    batch = PQ.adc_topk_batch(coded, cb, queries, k=8)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"] for r in batch.collect()
    }
    for qid, qv in queries:
        single = [r["vec_id"] for r in PQ.adc_topk(coded, cb, qv, k=8).collect()]
        assert [got[(qid, rk)] for rk in range(1, 9)] == single, qid
    coded.unpersist()


def test_codebook_save_load_roundtrip(spark, tmp_path):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = PQ.build_codebook(df, vec_col="embedding", splits=4, k=8, max_train_rows=100)
    path = str(tmp_path / "cb")
    PQ.save_codebook(cb, path)
    cb2 = PQ.load_codebook(spark, path)
    a = {r["vec_id"]: list(r["pqvec"]) for r in PQ.quantize(df, cb, dim=16).collect()}
    b = {r["vec_id"]: list(r["pqvec"]) for r in PQ.quantize(df, cb2, dim=16).collect()}
    assert a == b


def test_pq_recall_vs_exact_grows_with_codebook(spark):
    """ADC recall against exact l2 top-k: a codebook with one codeword per
    row can only resolve neighbours better than a 2-codeword one."""
    rng = np.random.RandomState(0)
    centers = rng.randn(5, 16) * 10
    rows = [(i, (centers[i % 5] + rng.randn(16) * 0.05).astype("float32").tolist())
            for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    recs = []
    for clusters in (2, 100):
        cb = PQ.build_codebook(df, splits=4, k=clusters, max_train_rows=100)
        recs.append(PQ.pq_recall_vs_exact(df, cb, n_queries=4, k=5))
    assert all(0.0 <= r <= 100.0 for r in recs), recs
    assert recs[1] >= recs[0], recs


def test_pq_recall_vs_exact_runs_no_dim_probe(spark):
    """The vector length comes from the sampled queries, so `quantize` runs
    no `first()` probe. A codebook built in this process is not collected
    back by `quantize` or `adc_topk_batch`: 9 jobs in all."""
    import uuid

    sc = spark.sparkContext

    def jobs(fn):
        group = f"pq-recall-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "pq_recall_vs_exact")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    rng = np.random.RandomState(1)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = PQ.build_codebook(df, splits=4, k=4, max_train_rows=100)
    assert jobs(lambda: PQ.quantize(df, cb)) == jobs(lambda: PQ.quantize(df, cb, dim=16)) + 1
    assert jobs(lambda: PQ.pq_recall_vs_exact(df, cb, n_queries=4, k=5)) == 9


# ---------------------------------------------------------------------------
# Golden digests: the codebook fit and the encode must stay byte-identical
# whatever runs them. `max_train_rows` covers every row, so the sample keeps
# all of them and the digests do not depend on the partition layout.
# ---------------------------------------------------------------------------

CODEBOOK_GOLDEN = {
    16: "e474f37ca3e80c19f58165c8e4c422a613b7f8eca45319f6f569dfc887573af8",
    18: "99d33e1b9a496fda87eefc39f84bf59fee318eef5842385fd5bbdbd596859a3c",
}
CODES_GOLDEN = "57b4c737cb12f386156374cccec0a4bb937038f701f044eccea85962f663adf9"


def _sha(parts) -> str:
    import hashlib

    h = hashlib.sha256()
    for p in parts:
        h.update(p)
    return h.hexdigest()


def _golden_frame(spark, dim: int):
    rng = np.random.RandomState(2024 + dim)
    rows = [(i, rng.randn(dim).astype("float32").tolist()) for i in range(400)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _codebook_digest(cb) -> str:
    import struct

    rows = sorted((r["subvector_id"], r["centroid_id"], r["c"]) for r in cb.collect())
    return _sha(struct.pack("<ii", s, c) + np.asarray(v, dtype=np.float32).tobytes()
                for s, c, v in rows)


@pytest.mark.parametrize("dim", [16, 18])
def test_codebook_golden_digest(spark, dim):
    """splits=4 over dim 16 (even splits) and dim 18 (last split of 6)."""
    cb = PQ.build_codebook(_golden_frame(spark, dim), splits=4, k=8, max_train_rows=400, seed=5)
    assert _codebook_digest(cb) == CODEBOOK_GOLDEN[dim]


@pytest.mark.parametrize("formulation", ["gemm", "direct"])
@pytest.mark.parametrize("as_binary", [False, True])
def test_quantize_golden_digest(spark, formulation, as_binary):
    df = _golden_frame(spark, 18)
    cb = PQ.build_codebook(df, splits=4, k=8, max_train_rows=400, seed=5)
    coded = PQ.quantize(df, cb, as_binary=as_binary, dim=18, formulation=formulation)
    rows = sorted((r["vec_id"], r["pqvec"]) for r in coded.collect())
    assert coded.columns == ["vec_id", "embedding", "pqvec"]
    assert _sha(bytes(np.asarray(list(c), dtype=np.uint8)) for _, c in rows) == CODES_GOLDEN


def test_fit_sees_the_rows_collect_limit_returns(spark):
    """When the sample holds more than `max_train_rows` rows, the fit sees
    those a driver-side `limit().collect()` returns (the first ones in
    partition order), not the first ones to reach the fitting task."""
    df = _golden_frame(spark, 16)
    frac = min(1.0, 100 / 400 * 1.2)
    assert df.sample(fraction=frac, seed=5).count() > 100
    rows = df.select("embedding").sample(fraction=frac, seed=5).limit(100).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X = X[np.lexsort(X.T[::-1])]
    want = [PQ._kmeans_fit(X[:, lo:hi], 8, seed=5 + s) for s, (lo, hi) in enumerate(PQ.split_bounds(16, 4))]
    got = PQ._train(df, "embedding", 4, 8, 100, 5, total_rows=400)
    assert len(got) == 4 and all(np.array_equal(a, b) for a, b in zip(got, want))

def test_codebook_tensor_dropped_with_frame(spark):
    """`build_codebook` records its frame's tensor for `quantize`; the entry
    goes once the frame is garbage-collected."""
    import gc
    import weakref

    cb = PQ.build_codebook(_golden_frame(spark, 16), splits=4, k=8, max_train_rows=400, seed=5)
    assert cb in PQ._TENSORS
    mats, splits = PQ._codebook_tensor(cb)
    assert splits == 4 and [m.shape for m in mats] == [(8, 4)] * 4
    ref = weakref.ref(cb)
    before = len(PQ._TENSORS)
    del cb, mats
    gc.collect()
    assert ref() is None
    assert len(PQ._TENSORS) == before - 1


def test_quantize_loaded_codebook_same_codes(spark, tmp_path):
    """A `load_codebook` frame has no recorded tensor: `quantize` collects it
    and encodes exactly as with the in-process frame."""
    df = _golden_frame(spark, 18)
    cb = PQ.build_codebook(df, splits=4, k=8, max_train_rows=400, seed=5)
    PQ.save_codebook(cb, str(tmp_path / "cb"))
    loaded = PQ.load_codebook(spark, str(tmp_path / "cb"))
    assert loaded not in PQ._TENSORS
    a, b = (
        sorted((r["vec_id"], bytes(r["pqvec"])) for r in PQ.quantize(df, c, as_binary=True, dim=18).collect())
        for c in (cb, loaded)
    )
    assert a == b


def test_build_codebook_empty_sample_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no training rows"):
        PQ.build_codebook(empty, splits=4, k=8)
