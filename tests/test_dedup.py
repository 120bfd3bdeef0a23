"""Dedup operators on constructed near-duplicate corpora."""

import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm "
    "windowsill and the birds sing in the tall green trees beside the quiet river"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("quick", "speedy")),  # near dup of 1
        (4, "completely different text about database engines and query planners"),
        (5, "another unrelated document discussing spark shuffle partitions at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(corpus):
    out = D.exact_dedup(corpus).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert not by_id[1]["is_duplicate"] and by_id[2]["is_duplicate"]
    assert by_id[2]["canonical_id"] == 1
    assert not by_id[3]["is_duplicate"]


def test_minhash_finds_near_dups(corpus):
    pairs = D.minhash_dedup(corpus, n_hashes=64, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical
    assert (1, 3) in got or (2, 3) in got  # near dup
    assert all(p[0] < p[1] for p in got)
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_identical_docs_have_identical_sigs(corpus):
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(corpus, n_hashes=16).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_minhash_signatures_match_hashlib(corpus):
    """Each signature value is min over the row's shingles of the affine
    permutation of md5's first 8 hex digits — recomputed with hashlib."""
    import hashlib

    rows = D.minhash_signatures(corpus, n_hashes=8).collect()
    assert len(rows) == 5
    for r in rows:
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in r["shingles"]]
        want = [
            min((h * a + b) % D.MINHASH_PRIME for h in hs)
            for a, b in (D.perm_coeffs(i) for i in range(8))
        ]
        assert r["sig"] == want, r["doc_id"]


def test_minhash_signature_verify_parity(spark, corpus):
    """verify='signature' (Broder collision-fraction estimator) finds the same
    pairs as exact verify on a separated corpus, with the estimate inside the
    n_hashes error band; identical docs estimate exactly 1.0; bad verify
    values fail loudly."""
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.minhash_dedup(corpus, n_hashes=64, bands=16,
                                      threshold=0.5).collect()}
    est = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.minhash_dedup(corpus, n_hashes=64, bands=16, threshold=0.5,
                                    verify="signature").collect()}
    assert set(est) == set(exact)  # same pairs at a well-separated threshold
    assert est[(1, 2)] == 1.0      # identical docs: every position agrees
    for p, j in exact.items():
        # std = sqrt(J(1-J)/64) <= 0.0625; 4 sigma
        assert abs(est[p] - j) <= 0.25, (p, j, est[p])
    with pytest.raises(ValueError, match="verify"):
        D.minhash_dedup(corpus, verify="approximate")


def test_drop_duplicates_keep_first(corpus):
    pairs = D.minhash_dedup(corpus, n_hashes=64, bands=16, threshold=0.5)
    kept = D.drop_duplicates_keep_first(corpus, pairs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 2 not in ids and 4 in ids and 5 in ids


def test_simhash_near_dups(corpus):
    sims = D.simhash(corpus)
    by_id = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert by_id[1] == by_id[2]
    ham13 = bin(by_id[1] ^ by_id[3]).count("1")
    ham14 = bin(by_id[1] ^ by_id[4]).count("1")
    assert ham13 < ham14
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_pairs(sims, max_hamming=4).collect()}
    assert pairs.get((1, 2)) == 0


def test_ngram_jaccard_pairs(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0


def test_ngram_index_equals_pairwise(corpus):
    """The inverted-index plan must reproduce the all-pairs plan exactly."""
    blocked = corpus.withColumn("blk", (F.col("doc_id") % 2).cast("int"))
    for kw in ({}, {"block_cols": ("blk",)}):
        a = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(blocked, threshold=0.3, strategy="index", **kw).collect()
        }
        b = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(blocked, threshold=0.3, strategy="pairwise", **kw).collect()
        }
        assert a == b and a


def test_ngram_index_requires_positive_threshold(corpus):
    with pytest.raises(ValueError, match="threshold > 0"):
        D.ngram_jaccard_pairs(corpus, threshold=0.0, strategy="index")


def test_ngram_oversized_block_raises(corpus):
    with pytest.raises(ValueError, match="max_block_rows"):
        D.ngram_jaccard_pairs(corpus, threshold=0.5, max_block_rows=3).collect()


def test_ngram_oversized_block_routes_through_minhash(spark):
    """on_oversize='route': the big block goes through MinHash-LSH (exact dups
    still found), the small block keeps exact all-pairs semantics, and no
    cross-block pair appears."""
    rows = [(i, BASE, "big") for i in range(1, 7)]  # 6 identical docs, one block
    rows += [(10, BASE, "small"), (11, "totally different words entirely", "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    pairs = D.ngram_jaccard_pairs(
        df, block_cols=("blk",), threshold=0.5, max_block_rows=4, on_oversize="route"
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # all 15 identical pairs inside the routed block survive with jaccard 1.0
    assert all(got.get((a, b)) == 1.0 for a in range(1, 7) for b in range(a + 1, 7))
    # nothing leaks across blocks
    assert all((a < 7) == (b < 7) for a, b in got)


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.1]),
        (2, [0.99, 0.01, 0.0, 0.1]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(df, threshold=0.95, n_planes=4).collect()}
    assert (1, 2) in pairs and len(pairs) == 1


def test_embedding_neardup_multi_table_recall(spark):
    """n_tables unions independent hash tables: the pair set is a superset of
    any single table's (the LSH recall lever), with no duplicate rows."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one = {(r["id_a"], r["id_b"])
           for r in D.embedding_neardup_pairs(df, threshold=0.5, n_planes=8,
                                              dim=16).collect()}
    multi_rows = D.embedding_neardup_pairs(df, threshold=0.5, n_planes=8, dim=16,
                                           n_tables=4).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    assert one <= multi and len(multi) > len(one)
    assert len(multi_rows) == len(multi)  # distinct output
    with pytest.raises(ValueError, match="n_tables"):
        D.embedding_neardup_pairs(df, n_tables=0)


def test_embedding_neardup_string_ids(spark):
    """Ids pass through as Arrow: a string-id corpus pairs in the strings'
    own order and keeps its dtype."""
    rows = [("b", [1.0, 0.001]), ("a", [1.0, 0.0]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = D.embedding_neardup_pairs(df, threshold=0.99, n_planes=2, dim=2)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {("a", "b")}


def test_embedding_neardup_sign_near_zero_follows_fold(spark):
    """Row x is orthogonal to the seeded hyperplane in real arithmetic: the
    fold sums x·p to exactly 0.0 (bit 1, like its near-duplicate y) while the
    GEMM rounds it below 0 — the GEMM bits alone split the pair."""
    import numpy as np

    p = np.random.RandomState(42).randn(1, 8)[0]  # the seed-42 plane
    rng = np.random.RandomState(1)
    for _ in range(200):
        x = rng.randn(8)
        x[-1] = -(x[:-1] @ p[:-1]) / p[-1]
        y = x + 0.01 * p / np.linalg.norm(p)
        fold = 0.0
        for xi, pi in zip(x, p):
            fold += xi * pi
        if fold == 0.0 and (np.stack([x, y]) @ p[:, None])[0, 0] < 0.0:
            break
    else:
        pytest.fail("no sign split found")
    df = spark.createDataFrame([(1, x.tolist()), (2, y.tolist())],
                               "vec_id long, embedding array<double>")
    got = D.embedding_neardup_pairs(df, threshold=0.9, n_planes=1, seed=42, dim=8).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]


def test_decontaminate_flags_embedded_eval_item(spark):
    """A training doc that embeds a whole benchmark item verbatim scores
    containment 1.0 (jaccard would dilute it); clean docs survive drop mode."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words here the quick brown fox jumps over the lazy dog suffix trailer"),
            (2, "completely unrelated content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    flags = {(r["doc_id"], r["bench_id"]): r["containment"]
             for r in D.decontaminate(train, bench, threshold=0.5).collect()}
    assert flags == {(1, 100): 1.0}
    kept = [r["doc_id"] for r in D.decontaminate(train, bench, threshold=0.5,
                                                 mode="drop").collect()]
    assert kept == [2]
    with pytest.raises(ValueError, match="mode"):
        D.decontaminate(train, bench, mode="purge")
    with pytest.raises(ValueError, match="threshold"):
        D.decontaminate(train, bench, threshold=0.0)


def test_decontaminate_bloom_prefilter_is_exact(spark, docs):
    """bloom_prefilter=True must return the IDENTICAL flag set (no false
    negatives; the equi-join discards false-positive admissions) in both
    flag and drop modes."""
    bench = docs.where("doc_id < 10")
    train = docs.where("doc_id >= 10")
    plain = sorted(
        (r["doc_id"], r["bench_id"], round(r["containment"], 9))
        for r in D.decontaminate(train, bench, threshold=0.3).collect()
    )
    bloomed = sorted(
        (r["doc_id"], r["bench_id"], round(r["containment"], 9))
        for r in D.decontaminate(
            train, bench, threshold=0.3, bloom_prefilter=True
        ).collect()
    )
    assert bloomed == plain and len(plain) > 0
    kept_plain = sorted(r["doc_id"] for r in D.decontaminate(
        train, bench, threshold=0.3, mode="drop").collect())
    kept_bloom = sorted(r["doc_id"] for r in D.decontaminate(
        train, bench, threshold=0.3, mode="drop", bloom_prefilter=True).collect())
    assert kept_bloom == kept_plain


def test_decontaminate_normalizes_case_and_punctuation(spark):
    """The r5-verdict gap: a case/punctuation-varied copy of the eval item
    embedded in a training doc MUST still be flagged (normalize=True default);
    normalize=False reproduces the old raw surface-form behavior."""
    bench = spark.createDataFrame(
        [(100, "what is the capital of france answer paris")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, 'Intro text... "What is the capital of France?  Answer: Paris." And more.'),
            (2, "completely unrelated content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    flags = {(r["doc_id"], r["bench_id"]): r["containment"]
             for r in D.decontaminate(train, bench, threshold=0.5).collect()}
    assert flags == {(1, 100): 1.0}
    # raw matching misses it entirely — documents the behavioral difference
    assert D.decontaminate(train, bench, threshold=0.5, normalize=False).count() == 0
    # drop mode still returns ORIGINAL text, not the normalized form
    kept = D.decontaminate(train, bench, threshold=0.5, mode="drop").collect()
    assert [(r["doc_id"], r["text"]) for r in kept] == [
        (2, "completely unrelated content about spark shuffles and joins")
    ]


def test_embedding_neardup_oversized_bucket_dropped(spark):
    """Buckets over max_bucket are dropped (the skew guard) before the group
    ever reaches a worker."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)]  # one shared bucket
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = D.embedding_neardup_pairs(df, threshold=0.5, n_planes=4, dim=4, max_bucket=5)
    assert got.count() == 0


def test_embedding_neardup_auto_planes(emb):
    """n_planes=None auto-scales to ~64 rows/bucket — at 500 rows that floors
    at 8 planes, so auto and explicit-8 produce identical pairs."""
    auto = D.embedding_neardup_pairs(emb, threshold=0.8, n_planes=None)
    explicit = D.embedding_neardup_pairs(emb, threshold=0.8, n_planes=8)
    key = lambda df: sorted((r["id_a"], r["id_b"]) for r in df.collect())  # noqa: E731
    assert key(auto) == key(explicit)


def test_ngram_containment_subset_detection(spark):
    """A short doc embedded verbatim in a long one: containment 1.0 while
    jaccard stays below threshold — and index == pairwise for the metric."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + "other words follow here in a much longer document " * 3
    df = spark.createDataFrame([(1, long), (2, short), (3, "unrelated text entirely different")],
                               "doc_id long, text string")
    for strategy in ("index", "pairwise"):
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in D.ngram_jaccard_pairs(df, threshold=0.9, metric="containment",
                                           strategy=strategy).collect()
        }
        assert got == {(1, 2): 1.0}, (strategy, got)
    # jaccard at the same threshold finds nothing (sets differ a lot)
    assert D.ngram_jaccard_pairs(df, threshold=0.9).count() == 0
    # routing is jaccard-only
    with pytest.raises(ValueError, match="route"):
        D.ngram_jaccard_pairs(df, metric="containment", on_oversize="route")


def _fold_cos(a, b) -> float:
    """Reference cosine: `cos_sim`'s left-to-right double folds."""
    import math

    ab = aa = bb = 0.0
    for x, y in zip(a, b):
        ab += float(x) * float(y)
        aa += float(x) * float(x)
        bb += float(y) * float(y)
    d = math.sqrt(aa) * math.sqrt(bb)
    return 0.0 if d == 0.0 else ab / d


def test_embedding_neardup_matches_fold_reference(spark):
    """Buckets from the fold signs of the seeded projections, pairs and
    cosines from the fold: a pure-Python replay of what the oracle runs."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_neardup_pairs(df, threshold=0.6, n_planes=6, dim=16).collect()}
    planes = np.random.RandomState(42).randn(6, 16)
    key = {}
    for i, v in rows:
        key[i] = sum(1 << b for b, p in enumerate(planes)
                     if sum((float(x) * float(y) for x, y in zip(v, p)), 0.0) >= 0.0)
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and key[i] == key[j] and _fold_cos(a, b) >= 0.6:
                want[(i, j)] = _fold_cos(a, b)
    assert got == want and got


def test_dedup_clusters_chain_transitivity(spark):
    """A-B-C-D chain (no direct A-C/A-D pair) must collapse to ONE cluster —
    exactly what pairwise keep-first gets wrong; plus a separate 2-cycle."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


import contextlib


@contextlib.contextmanager
def _distributed_cc():
    """Force dedup_clusters onto its distributed strategies (r13: graphs up
    to DRIVER_CC_MAX_EDGES resolve via the bounded driver union-find)."""
    cap = D.DRIVER_CC_MAX_EDGES
    D.DRIVER_CC_MAX_EDGES = 0
    try:
        yield
    finally:
        D.DRIVER_CC_MAX_EDGES = cap


def test_dedup_clusters_star_matches_label_on_random_graphs(spark):
    """strategy='star' (large-star/small-star contraction) must produce the
    exact (id, cluster_id) set as the label-propagation default on arbitrary
    graph shapes — chains, stars, cliques, cycles, singleton edges.
    Runs with the driver fast path DISABLED so the two distributed loops are
    what is being compared."""
    import random

    rng = random.Random(42)
    with _distributed_cc():
        for trial in range(4):
            n = 40
            edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
            edges = [(a, b) for a, b in edges if a != b]
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            lab = {(r["id"], r["cluster_id"]) for r in D.dedup_clusters(pairs).collect()}
            star = {
                (r["id"], r["cluster_id"])
                for r in D.dedup_clusters(pairs, strategy="star").collect()
            }
            assert star == lab, f"trial {trial}: star != label"


def test_driver_cc_matches_distributed(spark):
    """r13: the bounded driver union-find must produce the BIT-IDENTICAL
    (id, cluster_id) set as both distributed strategies — random graphs,
    a deep chain, string ids, duplicate/reversed edges."""
    import random

    rng = random.Random(7)
    cases = [
        spark.createDataFrame(
            [(rng.randrange(30), rng.randrange(30)) for _ in range(40)],
            "id_a long, id_b long",
        ).where("id_a != id_b"),
        spark.createDataFrame([(i, i + 1) for i in range(25)], "id_a long, id_b long"),
        spark.createDataFrame(
            [("b", "c"), ("c", "d"), ("d", "b"), ("x", "y"), ("y", "x")],
            "id_a string, id_b string",
        ),
    ]
    for i, pairs in enumerate(cases):
        fast = {(r["id"], r["cluster_id"]) for r in D.dedup_clusters(pairs).collect()}
        with _distributed_cc():
            lab = {(r["id"], r["cluster_id"]) for r in D.dedup_clusters(pairs).collect()}
            star = {
                (r["id"], r["cluster_id"])
                for r in D.dedup_clusters(pairs, strategy="star").collect()
            }
        assert fast == lab == star, f"case {i}"


def test_driver_cc_over_cap_falls_back(spark):
    """Above DRIVER_CC_MAX_EDGES the limit-probe must bail out and the
    distributed loop must still answer correctly."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(10)], "id_a long, id_b long")
    cap = D.DRIVER_CC_MAX_EDGES
    D.DRIVER_CC_MAX_EDGES = 3  # 10 edges > cap
    try:
        edges = pairs.select(
            pairs["id_a"].alias("a"), pairs["id_b"].alias("b")
        )
        assert D._cc_driver(edges, D.DRIVER_CC_MAX_EDGES) is None
        got = {r["id"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
        assert got == {i: 0 for i in range(11)}
    finally:
        D.DRIVER_CC_MAX_EDGES = cap


def test_dedup_clusters_star_deep_chain_log_rounds(spark):
    """The whole point of 'star': a diameter-63 path converges well inside
    max_iter=10 (label propagation needs ~63 rounds there), with no
    under-merge warning and one component rooted at 0."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with _distributed_cc(), warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = D.dedup_clusters(pairs, strategy="star", max_iter=10)
        rows = out.collect()
        assert not any("under-merged" in str(x.message) for x in w)
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert got == {i: 0 for i in range(64)}


def test_dedup_clusters_star_warns_when_exhausted(spark):
    """max_iter=1 on a deep chain cannot reach the fixpoint; the star
    strategy must warn exactly like the label strategy does."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with _distributed_cc(), warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.dedup_clusters(pairs, strategy="star", max_iter=1)
        assert any("under-merged" in str(x.message) for x in w)


def test_dedup_clusters_rejects_unknown_strategy(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="unknown strategy"):
        D.dedup_clusters(pairs, strategy="bogus")


def test_dedup_clusters_star_string_ids(spark):
    """Lexicographic min works for string ids too (both strategies)."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], "id_a string, id_b string"
    )
    star = {r["id"]: r["cluster_id"] for r in D.dedup_clusters(pairs, strategy="star").collect()}
    assert star == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}


def test_embedding_neardup_dim_mismatch_fails_loudly(spark):
    """Passing the wrong dim must raise, not silently null-pad projections
    into bucket 0 (ADVICE r3): the guard is a per-row plan expression."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises((SparkRuntimeException, Exception), match="expected dim=8"):
        D.embedding_neardup_pairs(df, threshold=0.5, dim=8).collect()


def test_dedup_clusters_warns_when_max_iter_exhausted(spark):
    """A chain longer than max_iter rounds must not silently return
    under-merged components."""
    import warnings

    # path graph 0-1-2-...-9: diameter 9, needs more than 1 round
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with _distributed_cc(), warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.dedup_clusters(pairs, max_iter=1)
        assert any("under-merged" in str(x.message) for x in w)
    with _distributed_cc(), warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = D.dedup_clusters(pairs, max_iter=30)
        assert not any("under-merged" in str(x.message) for x in w)
    assert set(r["cluster_id"] for r in out.collect()) == {0}


def test_lsh_tune_matches_s_curve_theory():
    """The chosen banding's S-curve midpoint lands nearest the requested
    threshold among all divisor pairs, and the classic textbook case holds:
    128 hashes at threshold~0.85 -> finer rows than at 0.4."""
    hi = D.lsh_tune(0.85, 128)
    lo = D.lsh_tune(0.4, 128)
    assert hi["bands"] * hi["rows_per_band"] == 128
    assert lo["bands"] * lo["rows_per_band"] == 128
    assert hi["rows_per_band"] > lo["rows_per_band"]  # tighter curve for high sim
    assert lo["bands"] > hi["bands"]
    # S-curve shape: probability ramps steeply through the threshold
    for t in (hi, lo):
        assert t["p_above"] > t["p_at_threshold"] > t["p_below"]
    # exhaustive check: no divisor pair sits closer to the threshold
    for b in range(1, 129):
        if 128 % b == 0:
            mid = (1.0 / b) ** (b / 128.0)
            assert abs(hi["s_curve_midpoint"] - 0.85) <= abs(mid - 0.85) + 1e-9
    with pytest.raises(ValueError, match="threshold"):
        D.lsh_tune(1.0)
    with pytest.raises(ValueError, match="n_hashes"):
        D.lsh_tune(0.5, n_hashes=1)


def test_dedup_paragraphs_keeps_first_occurrence(spark):
    shared = "this shared paragraph is long enough to dedup"
    docs = spark.createDataFrame(
        [
            (1, f"{shared}\nunique first body text here\nok"),
            (2, f"second doc opening line words\n{shared}"),
            (3, f"{shared}\n\nshort\n{shared}"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.dedup_paragraphs(docs, min_chars=20).collect()}
    # doc 1 has the first (doc_id, pos) occurrence -> keeps it
    assert out[1]["text_dedup"] == f"{shared}\nunique first body text here\nok"
    assert out[1]["n_paras_dropped"] == 0
    # later occurrences drop everywhere, including twice within one doc
    assert out[2]["text_dedup"] == "second doc opening line words"
    assert out[2]["n_paras_dropped"] == 1
    # blanks and short lines (< min_chars) always survive
    assert out[3]["text_dedup"] == "\nshort"
    assert out[3]["n_paras_dropped"] == 2


def test_dedup_paragraphs_passthrough_and_validation(spark):
    docs = spark.createDataFrame(
        [(1, "lonely but sufficiently long paragraph", "s0")],
        "doc_id long, text string, source string",
    )
    out = D.dedup_paragraphs(docs).collect()
    assert out[0]["source"] == "s0"          # extra columns pass through
    assert out[0]["text_dedup"] == out[0]["text"]
    with pytest.raises(ValueError, match="min_chars"):
        D.dedup_paragraphs(docs, min_chars=0)


def test_simhash_60bit_scale_config(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data between stages and caches hot sets"),
            (2, "spark shuffles data between stages and caches cold sets"),   # near-dup of 1
            (3, "a completely different document about window functions"),
            (4, "spark shuffles data between stages and caches hot sets"),   # exact dup of 1
        ],
        "doc_id long, text string",
    )
    sims = D.simhash(docs, bits=60)
    vals = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert all(0 <= v < 2**60 for v in vals.values())
    assert vals[1] == vals[4]                       # exact dup -> identical sig
    # bit-for-bit the 60-bit majority vote over hashlib md5 token hashes
    import hashlib

    from lantern_extras_spark.functions.text import tokens

    toks = {r["doc_id"]: r["t"] for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect()}
    for doc_id, ts in toks.items():
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in ts]
        want = sum(1 << b for b in range(60) if 2 * sum((h >> b) & 1 for h in hs) > len(hs))
        assert vals[doc_id] == want, doc_id
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(sims, band_bits=15, bits=60, max_hamming=10).collect()
    }
    assert pairs.get((1, 4)) == 0                   # exact dup at hamming 0
    assert pairs.get((1, 2)) == 9                   # near-dup caught (one token of nine differs)
    assert (1, 3) not in pairs and (2, 3) not in pairs
    with pytest.raises(ValueError, match="band_bits"):
        D.simhash_pairs(sims, band_bits=7, bits=60)
    with pytest.raises(ValueError, match="bits"):
        D.simhash(docs, bits=64)


def test_hash60_matches_md5_prefix(spark):
    from lantern_extras_spark.functions.hashing import hash60
    import hashlib
    df = spark.createDataFrame([("hello world",), ("",), ("café 123",)], "s string")
    got = [r["h"] for r in df.select(hash60("s").alias("h")).collect()]
    want = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in ("hello world", "", "café 123")]
    assert got == want


def test_minhash_incremental_matches_full_run(spark):
    texts = [
        (i, f"document number {i} with a shared vocabulary of common words plus token{i}")
        for i in range(8)
    ]
    # doc 10 in the new batch duplicates corpus doc 2; doc 11 duplicates new doc 12
    texts += [
        (10, texts[2][1]),
        (11, "an entirely different new batch document body right here"),
        (12, "an entirely different new batch document body right here"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    corpus, new = docs.where("doc_id < 10"), docs.where("doc_id >= 10")
    store = D.minhash_signatures(corpus).select("doc_id", "sig")   # (id, sig) only
    inc = D.minhash_dedup_incremental(new, store, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): (r["vs"], r["jaccard"]) for r in inc.collect()}
    assert got[(2, 10)][0] == "corpus" and got[(2, 10)][1] == 1.0
    assert got[(11, 12)][0] == "batch" and got[(11, 12)][1] == 1.0
    # equivalent to the full-corpus run restricted to pairs involving new docs
    full = D.minhash_dedup(docs, threshold=0.5, verify="signature")
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in full.collect()
        if r["id_b"] >= 10
    }
    assert {k: v[1] for k, v in got.items()} == want
    # the (id, sig) store cannot support exact verify
    with pytest.raises(ValueError, match="shingles"):
        D.minhash_dedup_incremental(new, store, verify="exact")
    with pytest.raises(ValueError, match="verify"):
        D.minhash_dedup_incremental(new, store, verify="nope")


def test_minhash_incremental_precomputed_sigs_and_uncapped_store(spark):
    """Passing caller-owned `new_sigs` (the loop shape that lets the caller
    unpersist) and `cap_corpus=False` (pre-capped store — skips the per-batch
    corpus-wide bucket-count window) returns the same pairs as the defaults."""
    texts = [
        (i, f"document number {i} with a shared vocabulary of common words plus token{i}")
        for i in range(8)
    ] + [(10, "document number 2 with a shared vocabulary of common words plus token2")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    corpus, new = docs.where("doc_id < 10"), docs.where("doc_id >= 10")
    store = D.minhash_signatures(corpus).select("doc_id", "sig")
    base = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_dedup_incremental(new, store, threshold=0.5).collect()}
    sigs = D.minhash_signatures(new).select("doc_id", "sig").cache()
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
           D.minhash_dedup_incremental(new, store, threshold=0.5,
                                       new_sigs=sigs, cap_corpus=False).collect()}
    sigs.unpersist()
    assert got == base and (2, 10, 1.0) in got
    # a caller-supplied (id, sig) new_sigs cannot support exact verify either
    with pytest.raises(ValueError, match="shingles"):
        D.minhash_dedup_incremental(new, D.minhash_signatures(corpus),
                                    verify="exact", new_sigs=sigs)


def test_minhash_incremental_store_roundtrip(spark, tmp_path):
    """The (id, sig) store survives a parquet round-trip — the persisted-index
    usage the docstring promises (sign once, join future batches against the
    store read back from disk)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "totally unrelated content lives in this row"),
         (10, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "sig_store.parquet")
    D.minhash_signatures(docs.where("doc_id < 10")).select("doc_id", "sig") \
        .write.parquet(store_path)
    store = spark.read.parquet(store_path)
    got = D.minhash_dedup_incremental(docs.where("doc_id >= 10"), store,
                                      threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"], r["vs"]) for r in got] == [(1, 10, 1.0, "corpus")]


def test_dedup_spans_excises_only_the_copied_span(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail unique alpha"),
            (2, f"head words here {shared} and more trailing content"),
            (3, "completely different text with nothing shared at all"),
            (4, shared),                                   # exact span-only doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.dedup_spans(docs, span=8).collect()}
    assert out[1]["text_dedup"] == f"{shared} tail unique alpha"      # canonical keeps
    assert out[2]["text_dedup"] == "head words here and more trailing content"
    assert out[2]["n_tokens_removed"] == 8
    assert out[3]["n_tokens_removed"] == 0
    assert out[4]["text_dedup"] == "" and out[4]["n_tokens_removed"] == 8


def test_dedup_spans_merges_overlapping_windows(spark):
    # a 12-token copied region -> 5 overlapping flagged windows at span=8;
    # interval merge must remove exactly the 12 tokens, not 5x8
    region = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12"
    docs = spark.createDataFrame(
        [(1, f"{region} canonical suffix"), (2, f"prefix {region} suffix here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.dedup_spans(docs, span=8).collect()}
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text_dedup"] == "prefix suffix here"
    assert out[2]["n_tokens_removed"] == 12


def test_dedup_spans_self_repetition_within_doc(spark):
    phrase = "p1 p2 p3 p4 p5 p6 p7 p8"
    docs = spark.createDataFrame(
        [(1, f"{phrase} middle words {phrase}")], "doc_id long, text string"
    )
    out = D.dedup_spans(docs, span=8).collect()[0]
    # the SECOND occurrence inside the same doc is excised
    assert out["text_dedup"] == f"{phrase} middle words"
    assert out["n_tokens_removed"] == 8


def test_dedup_spans_stride_content_sampling(spark):
    # stride=2 samples windows by CONTENT (hash % stride == 0), so both
    # occurrences of a region sample the same windows regardless of their
    # offsets; a 40-token region has 33 windows -> P(all unsampled) = 2^-33,
    # and the hashes are deterministic, so this pins forever once green
    region = " ".join(f"s{i}" for i in range(1, 41))      # 40 tokens
    docs = spark.createDataFrame(
        [(1, f"{region} canon tail"), (2, f"a b c {region} z9 z8")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.dedup_spans(docs, span=8, stride=2).collect()}
    assert out[1]["n_tokens_removed"] == 0                 # canonical untouched
    assert out[2]["n_tokens_removed"] >= 8                 # sampled windows hit
    # sampled removals are a subset of the exact (stride=1) removals
    exact = {r["doc_id"]: r for r in D.dedup_spans(docs, span=8).collect()}
    assert out[2]["n_tokens_removed"] <= exact[2]["n_tokens_removed"]
    with pytest.raises(ValueError, match="span"):
        D.dedup_spans(docs, span=1)
    with pytest.raises(ValueError, match="stride"):
        D.dedup_spans(docs, stride=0)


def test_dedup_spans_rolling_impl_matches_md5(spark):
    """impl='rolling' (vectorized SipHash+polynomial window hash — the scale
    kernel) produces the same DEDUP RESULT as the md5 oracle-parity kernel:
    different hash values, identical canonical-pick/excision semantics."""
    shared = "one two three four five six seven eight"
    region = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail unique alpha"),
            (2, f"head words here {shared} and more trailing content"),
            (3, "completely different text with nothing shared at all"),
            (4, shared),
            (5, f"{region} canonical suffix"),
            (6, f"prefix {region} suffix here"),
            (7, ""),
        ],
        "doc_id long, text string",
    )
    md5 = {r["doc_id"]: (r["text_dedup"], r["n_tokens_removed"])
           for r in D.dedup_spans(docs, span=8).collect()}
    rolling = {r["doc_id"]: (r["text_dedup"], r["n_tokens_removed"])
               for r in D.dedup_spans(docs, span=8, impl="rolling").collect()}
    assert rolling == md5
    # content-sampled stride also runs vectorized; removals stay a subset
    sampled = {r["doc_id"]: r["n_tokens_removed"]
               for r in D.dedup_spans(docs, span=8, stride=2, impl="rolling").collect()}
    assert all(sampled[d] <= md5[d][1] for d in md5)
    with pytest.raises(ValueError, match="impl"):
        D.dedup_spans(docs, impl="nope")


def test_ngram_prefix_strategy_equals_index(corpus):
    """strategy='prefix' (AllPairs prefix filter — the scale config) must
    reproduce the inverted-index plan exactly: the filter is recall-lossless
    for jaccard, and containment degenerates to full postings + full-set
    verify."""
    blocked = corpus.withColumn("blk", (F.col("doc_id") % 2).cast("int"))
    for metric in ("jaccard", "containment"):
        for kw in ({}, {"block_cols": ("blk",)}):
            a = {(r["id_a"], r["id_b"]): r[metric]
                 for r in D.ngram_jaccard_pairs(
                     blocked, threshold=0.3, strategy="prefix", metric=metric, **kw
                 ).collect()}
            b = {(r["id_a"], r["id_b"]): r[metric]
                 for r in D.ngram_jaccard_pairs(
                     blocked, threshold=0.3, strategy="index", metric=metric, **kw
                 ).collect()}
            assert a == b and a, (metric, kw)


def test_ngram_prefix_higher_threshold_still_exact(corpus):
    """At t=0.8 the prefix is ~20% of each doc's shingles; pairs at exactly
    1.0 (docs 1=2) must still surface with exact scores."""
    a = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in D.ngram_jaccard_pairs(corpus, threshold=0.8, strategy="prefix").collect()}
    b = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in D.ngram_jaccard_pairs(corpus, threshold=0.8, strategy="index").collect()}
    assert a == b and a[(1, 2)] == 1.0


def test_ngram_max_df_drops_boilerplate_only_pairs(spark):
    """max_df caps posting lists at candidate generation: docs sharing ONLY an
    ultra-common boilerplate n-gram stop pairing, while genuine near-dups
    (sharing rare shingles) keep their exact full-set scores."""
    boiler = "subscribe to our newsletter today"
    rows = [(i, f"{boiler} unique body {i} content piece {i * 7}") for i in range(1, 9)]
    rows += [(20, "rare alpha beta gamma delta epsilon zeta"),
             (21, "rare alpha beta gamma delta epsilon eta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(
        df, threshold=0.1, strategy="prefix").collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(
        df, threshold=0.1, strategy="prefix", max_df=4).collect()}
    assert (20, 21) in capped                      # rare-shingle pair survives
    assert any(a < 9 and b < 9 for a, b in uncapped)   # boilerplate pairs existed
    assert not any(a < 9 and b < 9 for a, b in capped)  # ...and are dropped
    # full-set verify: the surviving score is the exact uncapped value
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(
        df, threshold=0.1, strategy="pairwise", max_block_rows=None).collect()}
    assert capped[(20, 21)] == exact[(20, 21)]
    with pytest.raises(ValueError, match="max_df"):
        D.ngram_jaccard_pairs(df, strategy="pairwise", max_df=4)


def test_decontaminate_embeddings_flag_and_drop(spark):
    """Vector-level decontamination: corpus rows near ANY bench vector are
    flagged (all of them — no top-k cap), drop mode removes exactly those."""
    import numpy as np

    rng = np.random.RandomState(5)
    bench_vec = rng.randn(8)
    # 5 contaminated corpus rows crowd ONE bench vector (k=1 top-k would miss 4)
    corpus_rows = [(i, (bench_vec + rng.randn(8) * 0.01).tolist()) for i in range(5)]
    corpus_rows += [(i, rng.randn(8).tolist()) for i in range(5, 30)]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in corpus_rows],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [float(x) for x in bench_vec.tolist()])],
        "vec_id long, embedding array<float>",
    )
    flags = D.decontaminate_embeddings(corpus, bench, max_distance=0.05,
                                       metric="cos", nlist=2, nprobe=2).collect()
    flagged = {r["vec_id"] for r in flags}
    assert flagged == {0, 1, 2, 3, 4}
    assert all(r["bench_id"] == 100 and r["distance"] <= 0.05 for r in flags)
    kept = D.decontaminate_embeddings(corpus, bench, max_distance=0.05,
                                      metric="cos", mode="drop",
                                      nlist=2, nprobe=2)
    assert sorted(r["vec_id"] for r in kept.collect()) == list(range(5, 30))
    with pytest.raises(ValueError, match="mode"):
        D.decontaminate_embeddings(corpus, bench, mode="nope")


def test_lsh_candidate_pairs_matches_brute_force(spark):
    """Hand-built signatures (2 bands × 2 rows, max_bucket=3) against a
    brute-force bucket enumeration: a bucket of exactly max_bucket rows pairs,
    one of max_bucket+1 is dropped, a duplicated id pairs once and never with
    itself, a null id counts toward its bucket's size but never pairs, and
    null signatures (empty-shingle docs) all share the "" key in every band."""
    from itertools import combinations

    rows = [
        # band 0 "1_1": exactly max_bucket members
        (10, [1, 1, 100, 100]), (11, [1, 1, 101, 101]), (12, [1, 1, 102, 102]),
        # band 0 "2_2": max_bucket + 1 members, dropped
        (20, [2, 2, 200, 200]), (21, [2, 2, 201, 201]),
        (22, [2, 2, 202, 202]), (23, [2, 2, 203, 203]),
        # duplicated id 30 (two rows) sharing band 1 "7_7" with 31
        (30, [3, 3, 7, 7]), (30, [4, 4, 7, 7]), (31, [5, 5, 7, 7]),
        # a null id in band 1 "8_8": three rows, two ids pair
        (None, [6, 6, 8, 8]), (40, [9, 9, 8, 8]), (41, [10, 10, 8, 8]),
        # a null id in band 1 "9_9": four rows (one null) — over the cap
        (None, [11, 11, 9, 9]), (50, [12, 12, 9, 9]),
        (51, [13, 13, 9, 9]), (52, [14, 14, 9, 9]),
        # null signatures: key "" in both bands
        (60, None), (61, None), (62, None),
        # identical signatures: share both bands, still one pair
        (70, [15, 15, 16, 16]), (71, [15, 15, 16, 16]),
    ]
    bands, per_band, max_bucket = 2, 2, 3
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    out = [
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(
            sigs, bands=bands, max_bucket=max_bucket, n_hashes=bands * per_band
        ).collect()
    ]
    got = set(out)
    assert len(out) == len(got)

    buckets: dict = {}
    for doc_id, sig in rows:
        for b in range(bands):
            key = "" if sig is None else "_".join(
                str(v) for v in sig[b * per_band:(b + 1) * per_band])
            buckets.setdefault((b, key), []).append(doc_id)
    want = set()
    for ids in buckets.values():
        if len(ids) <= max_bucket:
            want |= {(a, b) for a, b in combinations(sorted(i for i in ids if i is not None), 2)
                     if a < b}
    assert got == want
    # the fixture reaches every case it names
    assert {(10, 11), (10, 12), (11, 12), (30, 31), (40, 41), (60, 61), (70, 71)} <= got
    assert (20, 21) not in got and (50, 51) not in got and (30, 30) not in got


def test_band_store_join_is_shuffle_free_on_store_side(spark, corpus, tmp_path):
    """The 100 TB incremental-dedup claim made concrete: a band join against
    the BUCKETED signature store plans NO Exchange above the store's scan —
    only the incoming batch shuffles to match the bucketing."""
    import re

    from lantern_extras_spark.plans.inspect import plan_summary

    sigs = D.minhash_signatures(corpus, n_hashes=32).select("doc_id", "sig")
    D.save_band_store(sigs, "band_store_test", bands=8, n_buckets=4)
    # disable broadcast so the plan must choose a shuffle join — broadcasting
    # the tiny test batch would make the store side trivially shuffle-free
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store = D.load_band_store(spark, "band_store_test")
        batch = D.band_keys(
            D.minhash_signatures(
                spark.createDataFrame([(100, BASE)], "doc_id long, text string")
            ).select("doc_id", "sig"),
            bands=8,
        )
        joined = store.withColumnRenamed("doc_id", "id_a").join(
            batch.withColumnRenamed("doc_id", "id_b"), ["band_idx", "band_key"]
        )
        s = plan_summary(joined)
        # the join consumes the store's bucketing: at most ONE shuffle total
        # (the batch side), and no Exchange between the store's FileScan and
        # the SortMergeJoin
        assert s.n_shuffles <= 1, s.text
        # locate the store-scan subtree: everything between the join and the
        # bucketed scan must be free of Exchange nodes
        store_scan = re.search(r"(FileScan parquet[^\n]*band_store_test[^\n]*)", s.text)
        assert store_scan, s.text
        above_store = s.text[: store_scan.start()]
        last_join = max(above_store.rfind("SortMergeJoin"), above_store.rfind("ShuffledHashJoin"))
        assert last_join >= 0, s.text
        assert "Exchange" not in s.text[last_join:store_scan.start()].replace(
            "BroadcastExchange", ""), s.text[last_join:store_scan.start()]
        # exact-duplicate content: the dup of doc 1/2 collides in every band
        assert joined.where("id_a != id_b").count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_store_test")


def test_minhash_dedup_auto_bands(corpus):
    """bands='auto' routes through lsh_tune: same pairs as passing the tuned
    band count explicitly."""
    tuned = D.lsh_tune(0.5, 64)["bands"]
    auto = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            D.minhash_dedup(corpus, n_hashes=64, bands="auto", threshold=0.5).collect()}
    explicit = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                D.minhash_dedup(corpus, n_hashes=64, bands=tuned, threshold=0.5).collect()}
    assert auto == explicit and (1, 2) in auto


def test_top_duplicate_spans_provenance(spark):
    """The audit report surfaces the most-repeated window with its counts,
    canonical first occurrence, and reconstructed text."""
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, f"{shared} tail alpha"), (2, f"prefix {shared} more"),
         (3, f"{shared} something else"), (4, "unrelated body of text here now")],
        "doc_id long, text string",
    )
    out = D.top_duplicate_spans(docs, span=8, k=5).collect()
    top = out[0]
    assert top["n_occurrences"] == 3 and top["n_docs"] == 3
    assert top["first_doc"] == 1 and top["first_pos"] == 1
    assert top["span_text"] == shared
    # with_text=False skips the reconstruction join
    bare = D.top_duplicate_spans(docs, span=8, k=5, with_text=False).columns
    assert "span_text" not in bare
    # rolling impl ranks the same occurrences (hashes differ)
    roll = D.top_duplicate_spans(docs, span=8, k=5, impl="rolling").collect()
    assert (roll[0]["n_occurrences"], roll[0]["n_docs"], roll[0]["span_text"]) == \
           (3, 3, shared)


def test_decontaminate_spans_excises_verbatim_benchmark_windows(spark):
    """Verbatim eval n-grams are cut out of training docs; surrounding text
    survives; docs without benchmark overlap are untouched; both kernels
    agree."""
    eval_item = "what is the capital of france answer paris"   # 8 tokens
    train = spark.createDataFrame(
        [(1, f"intro words {eval_item} and trailing content"),
         (2, "a completely clean document with original words only"),
         (3, eval_item)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"prefix {eval_item} suffix")], "doc_id long, text string"
    )
    for impl in ("md5", "rolling"):
        out = {r["doc_id"]: r for r in
               D.decontaminate_spans(train, bench, span=8, impl=impl).collect()}
        assert out[1]["text_dedup"] == "intro words and trailing content", impl
        assert out[1]["n_tokens_removed"] == 8
        assert out[2]["n_tokens_removed"] == 0
        assert out[2]["text_dedup"] == train.collect()[1]["text"]
        assert out[3]["text_dedup"] == "" and out[3]["n_tokens_removed"] == 8


def _sd_fixture(spark, n=120, dim=32, seed=11):
    """Random cloud plus planted near-identical pairs in distinct regions."""
    import numpy as np

    rng = np.random.RandomState(seed)
    X = rng.randn(n, dim)
    # plant: 100≈101 (same direction, tiny jitter), 102≈103≈104 (triple)
    X[101] = X[100] + 1e-3 * rng.randn(dim)
    X[103] = X[102] + 1e-3 * rng.randn(dim)
    X[104] = X[102] + 1e-3 * rng.randn(dim)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _fold_semantic(rows, cents, threshold, batch_ids=None) -> dict:
    """Reference SemDeDup: cell = fold-argmin centroid (first wins); row j
    is flagged by the first partner i in its cell, in (corpus first, id)
    order, with i earlier than j (any corpus row, or a smaller id) and fold
    cosine >= threshold. {dup_id: (cell, dup_of, cosine[, vs])}."""
    def cell(v):
        d = [sum(((float(x) - float(c)) ** 2 for x, c in zip(v, cv)), 0.0) for cv in cents]
        return min(range(len(cents)), key=lambda k: (d[k], k))

    inc = batch_ids is not None
    tagged = sorted(((inc and i in batch_ids), i, v, cell(v)) for i, v in rows)
    out = {}
    for bj, j, vj, cj in tagged:
        if inc and not bj:
            continue
        for bi, i, vi, ci in tagged:
            earlier = (inc and not bi) or i < j
            if ci == cj and earlier and _fold_cos(vi, vj) >= threshold:
                out[j] = (cj, i, _fold_cos(vi, vj)) + (("batch" if bi else "corpus",) if inc else ())
                break
    return out


def test_semantic_dedup_matches_fold_reference(spark):
    df = _sd_fixture(spark)
    cents = [r["embedding"] for r in df.where("vec_id < 4").orderBy("vec_id").collect()]
    a = {r["dup_id"]: (r["cell"], r["dup_of"], r["cosine"])
         for r in D.semantic_dedup(df, threshold=0.9, centroids=cents).collect()}
    rows = [(r["vec_id"], r["embedding"]) for r in df.collect()]
    assert a == _fold_semantic(rows, cents, 0.9) and a
    # planted near-identicals are flagged with min-id winners
    assert a[101][1] == 100
    assert a[103][1] == 102 and a[104][1] == 102


def _threshold_pair():
    """Two near-identical 8-d rows whose fold cosine is the threshold
    itself while the GEMM similarity of the 2-row cell falls below it."""
    import numpy as np

    rng = np.random.RandomState(0)
    for _ in range(200):
        a = rng.randn(8)
        b = a + 0.05 * rng.randn(8)
        X = np.stack([a, b])
        n = np.linalg.norm(X, axis=1)
        if ((X @ X.T) / (n[:, None] * n[None, :]))[1, 0] < _fold_cos(a, b):
            return a.tolist(), b.tolist(), _fold_cos(a, b)
    pytest.fail("no GEMM/fold split found")


def test_semantic_dedup_threshold_tie_follows_fold(spark):
    a, b, t = _threshold_pair()
    df = spark.createDataFrame([(1, a), (2, b)], "vec_id long, embedding array<double>")
    got = D.semantic_dedup(df, threshold=t, centroids=[[0.0] * 8]).collect()
    assert [(r["dup_id"], r["dup_of"], r["cosine"]) for r in got] == [(2, 1, t)]


def test_semantic_incremental_threshold_tie_follows_fold(spark):
    a, b, t = _threshold_pair()
    schema = "vec_id long, embedding array<double>"
    got = D.semantic_dedup_incremental(
        spark.createDataFrame([(2, b)], schema), spark.createDataFrame([(1, a)], schema),
        centroids=[[0.0] * 8], threshold=t,
    ).collect()
    assert [(r["dup_id"], r["dup_of"], r["cosine"], r["vs"]) for r in got] == [
        (2, 1, t, "corpus")
    ]


def test_semantic_dedup_null_ids_never_match(spark):
    """A null id is neither flagged nor a winner: it never becomes a
    fabricated `dup_of` for its cell-mates."""
    schema = "vec_id long, embedding array<double>"
    v = [1.0, 2.0, 3.0]
    df = spark.createDataFrame([(None, v), (5, v), (7, v)], schema)
    got = D.semantic_dedup(df, threshold=0.9, centroids=[v]).collect()
    assert [(r["dup_id"], r["dup_of"]) for r in got] == [(7, 5)]
    inc = D.semantic_dedup_incremental(
        spark.createDataFrame([(None, v), (9, v)], schema),
        spark.createDataFrame([(None, v), (3, v)], schema),
        centroids=[v], threshold=0.9,
    ).collect()
    assert [(r["dup_id"], r["dup_of"], r["vs"]) for r in inc] == [(9, 3, "corpus")]


def test_semantic_dedup_drop_mode_and_kmeans_path(spark):
    df = _sd_fixture(spark)
    flagged = D.semantic_dedup(df, threshold=0.9, nlist=4)  # k-means path
    ids = {r["dup_id"] for r in flagged.collect()}
    # the planted duplicates land in the same cell as their twin (identical
    # direction ⇒ same nearest centroid) so they must be flagged
    assert {101, 103, 104} <= ids
    kept = D.semantic_dedup(df, threshold=0.9, nlist=4, mode="drop")
    assert kept.count() == df.count() - len(ids)
    assert kept.where(F.col("vec_id").isin(101, 103, 104)).count() == 0


def test_semantic_dedup_honors_preassigned_cells_and_guard(spark):
    df = _sd_fixture(spark)
    with_cell = df.withColumn("cell", (F.col("vec_id") % 2).cast("int"))
    out = D.semantic_dedup(with_cell, threshold=0.9)
    # 102/104 share cell 0; 103 is alone in cell 1 ⇒ only 104 flagged there
    got = {r["dup_id"]: r["dup_of"] for r in out.collect()}
    assert got.get(104) == 102 and 103 not in got and 101 not in got
    with pytest.raises(ValueError, match="max_cell"):
        D.semantic_dedup(df, threshold=0.9, nlist=1, max_cell=10)
    with pytest.raises(ValueError, match="unknown mode"):
        D.semantic_dedup(df, mode="nope")


def test_semantic_incremental_corpus_priority_and_parity(spark):
    """Batch rows near BOTH a store vector and a batch sibling report the
    store provenance (corpus outranks batch even at larger ids); the answer
    equals the fold reference; store rows are never flagged."""
    import numpy as np

    rng = np.random.RandomState(23)
    X = rng.randn(120, 32)
    # batch ids 0..49, corpus ids 100..169
    X_corpus = rng.randn(70, 32)
    X[10] = X_corpus[5] + 1e-3 * rng.randn(32)    # batch 10 ~ corpus 105
    X[11] = X[10] + 1e-3 * rng.randn(32)          # batch 11 ~ batch 10 AND corpus 105
    X[20] = X[21] + 1e-3 * rng.randn(32)          # batch 20 ~ batch 21 only
    X[20] = X[21].copy()
    batch = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(100 + i, [float(v) for v in X_corpus[i]]) for i in range(70)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in X_corpus[i]] for i in range(4)]
    got = {r["dup_id"]: (r["cell"], r["dup_of"], r["cosine"], r["vs"])
           for r in D.semantic_dedup_incremental(
               batch, corpus, centroids=cents, threshold=0.9).collect()}
    rows = [(r["vec_id"], r["embedding"]) for r in batch.union(corpus).collect()]
    assert got == _fold_semantic(rows, cents, 0.9, batch_ids=set(range(50))) and got
    assert got[10][1] == 105 and got[10][3] == "corpus"
    assert got[11][1] == 105 and got[11][3] == "corpus"   # corpus beats batch 10
    assert got[21][1] == 20 and got[21][3] == "batch"     # within-batch min-id
    assert all(d < 100 for d in got)                      # only batch rows flagged

    with pytest.raises(ValueError, match="max_cell"):
        D.semantic_dedup_incremental(batch, corpus, centroids=cents, max_cell=5)
    with pytest.raises(TypeError, match="impl"):  # one kernel; no impl fork
        D.semantic_dedup_incremental(batch, corpus, centroids=cents, impl="native")


def test_semantic_dedup_recall_detects_cell_split(spark):
    """A near-identical pair straddling a cell boundary is exactly what the
    audit must count as missed: planted pairs — one inside a cell (captured),
    one split across the c0/c1 boundary (missed) — give recall 0.5."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [0.90, 0.00, 0.10, 0.0]),   # cell 0
        (2, [0.90, 0.00, 0.11, 0.0]),   # cell 0, ~dup of 1 -> captured
        (3, [0.70, 0.71, 0.00, 0.0]),   # cell 1 (nearer c1)
        (4, [0.71, 0.70, 0.00, 0.0]),   # cell 0 (nearer c0), ~dup of 3 -> missed
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = D.semantic_dedup_recall(df, cents, threshold=0.95, sample_k=64).first()
    assert r["n_sample"] == 4
    assert r["n_true_pairs"] == 2 and r["n_captured"] == 1
    assert r["recall"] == 0.5
    # no true pairs -> recall defined as 1.0 (nothing was missable)
    lonely = spark.createDataFrame(rows[:1] + rows[2:3], "vec_id long, embedding array<double>")
    r2 = D.semantic_dedup_recall(lonely, cents, threshold=0.95, sample_k=64).first()
    assert r2["n_true_pairs"] == 0 and r2["recall"] == 1.0
    with pytest.raises(ValueError, match="sample_k"):
        D.semantic_dedup_recall(df, cents, sample_k=4)


def test_doc_duplication_share(spark):
    """Exact per-doc repeated-shingle fractions: identical docs are fully
    duplicated, partial overlap yields the exact shingle ratio, unique and
    shingle-less docs report 0.0."""
    docs = spark.createDataFrame(
        [
            (1, "completely unique words never repeated anywhere else"),
            (2, "the quick brown fox jumps tonight"),
            (3, "the quick brown fox jumps tonight"),   # exact dup of 2
            (4, "x y z q r s"),                         # shares xyz,yzq with 5
            (5, "x y z q aa bb"),
            (6, ""),                                    # shingle-less
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.doc_duplication_share(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[1]["dup_share"] == 0.0
    assert out[2]["dup_share"] == 1.0 and out[3]["dup_share"] == 1.0
    assert out[4]["n_shingles"] == 4 and out[4]["n_dup_shingles"] == 2
    assert out[4]["dup_share"] == 0.5
    assert out[5]["dup_share"] == 0.5
    assert out[6]["n_shingles"] == 0 and out[6]["dup_share"] == 0.0
    with pytest.raises(ValueError, match="min_docs"):
        D.doc_duplication_share(docs, min_docs=1)


def test_dedup_keep_best_picks_highest_score(spark):
    from lantern_extras_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (4, 1.0), (10, 3.0)],
        "doc_id bigint, q double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r for r in dedup_keep_best(df, pairs, "q").collect()}
    # cluster {1,2,3}: 2 wins (q=9); 4 and 10 are singletons
    assert [out[i]["is_kept"] for i in (1, 2, 3, 4, 10)] == [False, True, False, True, True]
    assert out[1]["cluster_size"] == 3 and out[4]["cluster_size"] == 1
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]


def test_dedup_keep_best_null_score_never_wins(spark):
    from lantern_extras_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, None), (2, 9.0), (3, 0.5)], "doc_id bigint, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r["is_kept"] for r in dedup_keep_best(df, pairs, "q").collect()}
    # unscored doc 1 must NOT beat scored copies (NULLS-LAST policy)
    assert out == {1: False, 2: True, 3: False}


def test_dedup_keep_best_null_only_cluster_keeps_min_id(spark):
    from lantern_extras_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(5, None), (6, None), (7, 3.0)], "doc_id bigint, q double"
    )
    pairs = spark.createDataFrame([(5, 6)], "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r["is_kept"] for r in dedup_keep_best(df, pairs, "q").collect()}
    # null-only cluster {5,6}: deterministic min-id survivor; singleton 7 kept
    assert out == {5: True, 6: False, 7: True}


def test_dedup_keep_best_tiebreaks_on_min_id(spark):
    from lantern_extras_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(7, 2.0), (8, 2.0), (9, 2.0)], "doc_id bigint, q double"
    )
    pairs = spark.createDataFrame([(7, 8), (8, 9)], "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r["is_kept"] for r in dedup_keep_best(df, pairs, "q").collect()}
    assert out == {7: True, 8: False, 9: False}


def test_dedup_keep_best_keeps_exactly_one_per_cluster(spark, docs):
    from lantern_extras_spark.functions.text import token_count
    from lantern_extras_spark.operators.dedup import dedup_keep_best, minhash_dedup
    from pyspark.sql import functions as F

    pairs = minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    scored = docs.withColumn("n_tokens", token_count("text"))
    out = dedup_keep_best(scored, pairs, "n_tokens")
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_kept").cast("int")).alias("kept")
    )
    assert per_cluster.where("kept <> 1").count() == 0
    # survivors are never shorter than the cluster max (keep-the-longest)
    mx = out.groupBy("cluster_id").agg(F.max("n_tokens").alias("mx"))
    bad = (
        out.where("is_kept").join(mx, "cluster_id").where(F.col("n_tokens") < F.col("mx"))
    )
    assert bad.count() == 0


def test_dedup_paragraphs_within_semantics(spark):
    from lantern_extras_spark.operators.dedup import dedup_paragraphs_within

    df = spark.createDataFrame(
        [
            (1, "the same long paragraph here\nmiddle unique content line\n"
                "the same long paragraph here\nok"),
            (2, "no repeats in this document\nsecond distinct long line here"),
            (3, "  padded long paragraph unit  \npadded long paragraph unit"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs_within(df, min_chars=10).collect()}
    # repeated unit drops its SECOND occurrence; short 'ok' survives
    assert out[1]["n_units_dropped"] == 1
    assert out[1]["text_dedup_within"].count("the same long paragraph") == 1
    assert out[1]["text_dedup_within"].endswith("ok")
    assert out[2]["n_units_dropped"] == 0
    # trim-insensitive: padded and unpadded copies are the same unit
    assert out[3]["n_units_dropped"] == 1
    assert out[4]["n_units_dropped"] == 0 and out[4]["text_dedup_within"] == ""
    import pytest as _pt
    with _pt.raises(ValueError):
        dedup_paragraphs_within(df, min_chars=0)


def test_dedup_keep_best_string_ids(spark):
    """The argmax tiebreak must not assume numeric ids."""
    from lantern_extras_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [("a", 2.0), ("b", 2.0), ("z", 1.0)], "doc_id string, q double"
    )
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    out = {r["doc_id"]: r["is_kept"] for r in dedup_keep_best(df, pairs, "q").collect()}
    assert out == {"a": True, "b": False, "z": True}


def test_decontaminate_driver_bloom_matches_distributed(spark, monkeypatch):
    """r14: the driver-side Bloom build (one collect of the checkpointed
    bench shingles, n passed) must flag the identical (doc, bench,
    containment) rows as the distributed distinct-frame build, which a key
    cap of 0 selects."""
    from lantern_extras_spark.operators import bloom as BL

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where("doc_id < 10")
    train = docs.where("doc_id >= 10")

    def flags():
        return sorted(
            (r["doc_id"], r["bench_id"], round(r["containment"], 12))
            for r in D.decontaminate(
                train, bench, threshold=0.1, bloom_prefilter=True
            ).collect()
        )

    drv = flags()
    monkeypatch.setattr(BL, "DRIVER_BUILD_MAX_KEYS", 0)
    dist = flags()
    assert drv, "fixture produced no flags — threshold/slice drifted"
    assert drv == dist
