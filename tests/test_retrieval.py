"""Unit tests for operators/retrieval.py: BM25 scoring against a hand-rolled
reference, RRF fusion arithmetic, maxsim vs numpy brute force, and MMR's
diversity behavior on planted near-duplicate candidates."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import retrieval as RET

DOCS = [
    (0, "spark merge join window batch"),          # all 5 query terms
    (1, "spark spark spark filler filler filler"), # high tf, one term
    (2, "merge join"),                              # two terms, short doc
    (3, "unrelated words entirely different here"),
    (4, ""),                                        # empty
    (5, "batch window"),
]
TERMS = ["spark", "merge", "join", "window", "batch"]


def _bm25_ref(texts, terms, k1=1.2, b=0.75):
    toks = [t.split() if t.strip() else [] for t in texts]
    n = len(toks)
    avgdl = sum(len(x) for x in toks) / n
    dfs = {t: sum(1 for x in toks if t in x) for t in terms}
    out = []
    for x in toks:
        s = 0.0
        for t in terms:
            tf = float(x.count(t))
            df = float(dfs[t])
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(x) / avgdl))
        out.append(s)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_reference(spark, docs_df):
    got = {
        r["doc_id"]: r["score"]
        for r in RET.bm25_scores(docs_df, TERMS, round_dp=None).collect()
    }
    want = _bm25_ref([t for _, t in DOCS], TERMS)
    for i, w in enumerate(want):
        assert got[i] == pytest.approx(w, abs=1e-12), i
    assert got[4] == 0.0  # empty doc
    assert got[3] == 0.0  # no query terms


def test_bm25_topk_order_and_bound(spark, docs_df):
    rows = RET.bm25_topk(docs_df, TERMS, k=3).collect()
    assert [r["rnk"] for r in rows] == [1, 2, 3]
    assert rows[0]["doc_id"] == 0  # all-terms doc wins
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rrf_fuse_arithmetic(spark):
    a = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rnk long")
    b = spark.createDataFrame([(10, 1), (12, 2)], "doc_id long, rnk long")
    got = {r["doc_id"]: r for r in RET.rrf_fuse([a, b], round_dp=None).collect()}
    assert got[10]["rrf"] == pytest.approx(2.0 / 61.0, abs=1e-15)
    assert got[11]["rrf"] == pytest.approx(1.0 / 62.0, abs=1e-15)
    assert got[12]["rrf"] == pytest.approx(1.0 / 62.0, abs=1e-15)
    assert got[10]["rnk"] == 1
    # equal scores tie-break by id
    assert got[11]["rnk"] == 2 and got[12]["rnk"] == 3


def test_rrf_fuse_requires_two(spark):
    a = spark.createDataFrame([(1, 1)], "doc_id long, rnk long")
    with pytest.raises(ValueError):
        RET.rrf_fuse([a])


def test_maxsim_matches_numpy(spark):
    rng = np.random.RandomState(7)
    # 6 docs × up to 3 chunks, dim 32 (low dims produce chance near-dups)
    rows, truth = [], {}
    qs = [rng.randn(32), rng.randn(32)]
    for d in range(6):
        n_chunks = 1 + d % 3
        chunks = [rng.randn(32) for _ in range(n_chunks)]
        for c in chunks:
            rows.append((d, [float(x) for x in c]))
        score = 0.0
        for q in qs:
            sims = [float(np.dot(q, c) / (np.linalg.norm(q) * np.linalg.norm(c))) for c in chunks]
            score += max(sims)
        truth[d] = score
    df = spark.createDataFrame(rows, "doc_id long, emb array<double>")
    got = RET.maxsim_topk(df, [[float(x) for x in q] for q in qs], k=6, round_dp=None).collect()
    for r in got:
        assert r["score"] == pytest.approx(truth[r["doc_id"]], abs=1e-9)
    order = sorted(truth, key=lambda d: (-truth[d], d))
    assert [r["doc_id"] for r in got] == order


def test_mmr_prefers_diversity(spark):
    # candidates: doc 0 and doc 1 are near-identical (both very similar to the
    # query); doc 2 is moderately relevant but orthogonal. Pure relevance
    # ranks (0, 1, 2); MMR at λ=0.5 must rank (0, 2, 1).
    base = np.zeros(32)
    base[0] = 1.0
    ortho = np.zeros(32)
    ortho[1] = 1.0
    near = base.copy()
    near[2] = 0.05  # ~0.999 cosine to base
    mid = 0.6 * base + 0.8 * ortho  # cos to query ~0.6
    cands = [
        (0, [float(x) for x in base], 1.0),
        (1, [float(x) for x in near], 0.9987),
        (2, [float(x) for x in mid], 0.6),
    ]
    df = spark.createDataFrame(cands, "doc_id long, emb array<double>, simq double")
    df = df.cache()
    df.count()
    rows = RET.mmr_rerank(df, k=3, lam=0.5).orderBy("rnk").collect()
    assert [r["doc_id"] for r in rows] == [0, 2, 1]
    # first pick's mmr = λ·simq exactly
    assert rows[0]["mmr"] == pytest.approx(0.5, abs=1e-9)


def test_mmr_tie_breaks_by_id(spark):
    v = [1.0] + [0.0] * 31
    cands = [(i, v, 0.8) for i in range(4)]
    df = spark.createDataFrame(cands, "doc_id long, emb array<double>, simq double")
    df = df.cache()
    df.count()
    rows = RET.mmr_rerank(df, k=2, lam=0.7).orderBy("rnk").collect()
    assert rows[0]["doc_id"] == 0  # identical scores -> smallest id first


def test_zipf_fit_recovers_planted_slope(spark):
    """A corpus whose token counts follow count(r) = C·r^s must fit slope≈s."""
    from lantern_extras_spark.operators import textstats as TS

    s_true = -1.0
    words = []
    for r in range(1, 41):
        n = max(1, round(2000 * r ** s_true))
        words += [f"tok{r:03d}"] * n
    # spread across a few docs
    docs = [(i, " ".join(words[i::5])) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    row = TS.zipf_fit(df, top_k=40, round_dp=None).collect()[0]
    assert row["n_terms"] == 40
    assert row["slope"] == pytest.approx(s_true, abs=0.05)


def test_zipf_fit_guard(spark):
    from lantern_extras_spark.operators import textstats as TS

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="top_k"):
        TS.zipf_fit(df, top_k=1)


def test_bm25_weighted_matches_listform(spark, docs_df):
    """Weight-1.0 join-formulated BM25 must equal the literal-term form on
    every doc that contains a query term."""
    wt = spark.createDataFrame([(t, 1.0) for t in TERMS], "term string, weight double")
    joined = {
        r["doc_id"]: r["score"]
        for r in RET.bm25_scores_weighted(docs_df, wt, round_dp=None).collect()
    }
    listform = {
        r["doc_id"]: r["score"]
        for r in RET.bm25_scores(docs_df, TERMS, round_dp=None).collect()
    }
    for d, s in joined.items():
        assert s == pytest.approx(listform[d], abs=1e-12), d
    # absent docs are exactly the zero-score ones
    assert set(listform) - set(joined) == {3, 4}


def test_bm25_weighted_guards_oversized_term_frame(spark, docs_df):
    """A vocabulary-scale term frame must fail loudly BEFORE the broadcast
    (the frame is broadcast unguarded otherwise — driver blow-up at scale)."""
    big_terms = spark.range(50).select(
        F.concat(F.lit("t"), F.col("id")).alias("term"), F.lit(1.0).alias("weight")
    )
    with pytest.raises(ValueError, match="max_terms"):
        RET.bm25_scores_weighted(docs_df, big_terms, max_terms=10)
    # at the boundary (== max_terms) it must still run
    assert RET.bm25_scores_weighted(docs_df, big_terms, max_terms=50).count() >= 0


def test_bm25_prf_expands_and_ranks(spark):
    # feedback docs share the co-occurring term "together"; PRF must pull the
    # doc that ONLY matches the expansion term into the ranking
    rows = [
        (0, "spark together alpha"),
        (1, "spark together beta"),
        (2, "together gamma delta"),   # no query term: reachable only via PRF
        (3, "epsilon zeta eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = RET.bm25_prf_topk(df, ["spark"], k=4, n_feedback=2, n_expansion=1,
                            round_dp=None).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 in ids, ids          # expansion term reached doc 2
    assert 3 not in ids, ids      # still no term overlap
    assert ids[0] in (0, 1)       # original-term docs keep outranking


def test_search_snippets_picks_best_window(spark):
    docs = spark.createDataFrame(
        [(0, "x x x spark merge x x x x x x x x x x spark spark merge merge x")],
        "doc_id long, text string",
    )
    ranked = spark.createDataFrame([(0, 1)], "doc_id long, rnk long")
    row = RET.search_snippets(ranked, docs, ["spark", "merge"], window=5).collect()[0]
    # best 5-token window holds the late 4-hit cluster
    assert row["n_hits"] == 4
    assert row["snippet"].split().count("spark") == 2
    assert row["snippet"].split().count("merge") == 2


def test_search_snippets_tie_earliest_start(spark):
    docs = spark.createDataFrame(
        [(0, "spark a b c d e f spark")], "doc_id long, text string"
    )
    ranked = spark.createDataFrame([(0, 1)], "doc_id long, rnk long")
    row = RET.search_snippets(ranked, docs, ["spark"], window=3).collect()[0]
    assert row["n_hits"] == 1
    assert row["snippet"] == "spark a b"  # earliest of the tied windows


def test_bm25_literal_pass1_matches_weighted(spark, docs_df):
    """r13: the literal pass-1 shape (one stats agg + projection, term-ASC
    summation) must be BIT-identical to the weighted sorted-fold path —
    same scores, same absent-doc set."""
    from lantern_extras_spark.functions.text import tokens

    staged = docs_df.select("doc_id", tokens(F.col("text")).alias("__toks"))
    wt = spark.createDataFrame([(t, 1.0) for t in TERMS], "term string, weight double")
    weighted = {
        r["doc_id"]: r["score"]
        for r in RET.bm25_scores_weighted(
            docs_df, wt, staged=staged, round_dp=None, max_terms=None
        ).collect()
    }
    lit = {
        r["doc_id"]: r["score"]
        for r in RET._bm25_pass1_literal(
            staged, TERMS, "doc_id", 1.2, 0.75, None
        ).collect()
    }
    assert lit == weighted  # exact float equality AND identical doc sets
