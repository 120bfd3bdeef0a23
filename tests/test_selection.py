"""DSIR importance resampling + corpus divergence (operators/selection.py).

Method anchor: Xie et al., *Data Selection for Language Models via Importance
Resampling* (NeurIPS 2023). No reference-engine counterpart — part of the
beyond-reference training-pipeline surface.
"""

import math

import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import selection as SEL

B = 256


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def mixed(spark):
    # 20 "cat" docs (the target domain) and 20 "dog" docs, distinct vocab
    rows = [(i, "cat feline purr whiskers cat purr") for i in range(20)]
    rows += [(100 + i, "dog canine bark fetch dog bark") for i in range(20)]
    return _docs(spark, rows)


def test_weights_prefer_target_like_docs(spark, mixed):
    target = mixed.where(F.col("doc_id") < 20)
    w = SEL.dsir_log_weights(mixed, target, buckets=B)
    got = {r["doc_id"]: r["dsir_logw"] for r in w.collect()}
    cat = [v for k, v in got.items() if k < 20]
    dog = [v for k, v in got.items() if k >= 100]
    assert min(cat) > max(dog)


def test_weight_is_sum_of_bucket_logratios(spark):
    # one doc, one token: logw = ln(p_t) - ln(p_r) for that token's bucket,
    # computed by hand from the smoothed multinomials
    df = _docs(spark, [(1, "alpha"), (2, "beta"), (3, "beta")])
    target = df.where(F.col("doc_id") == 1)  # target = the alpha doc
    w = SEL.dsir_log_weights(df, target, buckets=B, alpha=1.0, include_bigrams=False)
    got = {r["doc_id"]: r["dsir_logw"] for r in w.collect()}
    # raw: 3 unigrams total (alpha x1, beta x2); target: 1 unigram (alpha)
    lw_alpha = math.log((1 + 1.0) / (1 + B)) - math.log((1 + 1.0) / (3 + B))
    lw_beta = math.log((0 + 1.0) / (1 + B)) - math.log((2 + 1.0) / (3 + B))
    assert got[1] == pytest.approx(lw_alpha, abs=2e-6)
    assert got[2] == pytest.approx(lw_beta, abs=2e-6)
    assert got[2] == got[3]


def test_empty_doc_gets_zero_weight_and_no_features(spark):
    df = _docs(spark, [(1, "some words here"), (2, "   ")])
    out = SEL.dsir_log_weights(df, df, buckets=B)
    row = {r["doc_id"]: r for r in out.collect()}
    assert row[2]["dsir_logw"] == 0.0
    assert row[2]["n_features"] == 0
    # n tokens + (n-1) bigrams
    assert row[1]["n_features"] == 3 + 2


def test_external_raw_missing_buckets_use_default_ratio(spark):
    # df holds a token absent from BOTH raw and target profiles: its features
    # must carry the smoothed default log-ratio, not be silently dropped
    df = _docs(spark, [(1, "zzz-unseen")])
    raw = _docs(spark, [(10, "known tokens only")])
    target = _docs(spark, [(20, "known")])
    out = SEL.dsir_log_weights(df, target, buckets=B, alpha=1.0, raw=raw)
    got = out.collect()[0]
    # raw total 3 features (3 uni + 2 bi = 5 actually), target 1 (1 uni + 0 bi)
    nr, nt = 3 + 2, 1
    default = math.log(1.0 / (nt + B)) - math.log(1.0 / (nr + B))
    assert got["n_features"] == 1
    assert got["dsir_logw"] == pytest.approx(default, abs=2e-6)


def test_select_is_deterministic_and_favors_target(spark, mixed):
    target = mixed.where(F.col("doc_id") < 20)
    s1 = SEL.dsir_select(mixed, target, n=10, buckets=B)
    s2 = SEL.dsir_select(mixed, target, n=10, buckets=B)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in s2.collect())
    assert ids1 == ids2
    assert len(ids1) == 10
    # strongly separated weights: the draw should be mostly target-like docs
    assert sum(1 for i in ids1 if i < 20) >= 8


def test_select_validates_n(spark, mixed):
    with pytest.raises(ValueError):
        SEL.dsir_select(mixed, mixed, n=0)


def test_select_cutoff_path_matches_takeordered(spark, docs):
    """Selection-scale n (the cutoff/filter plan) must pick the IDENTICAL
    set as the TakeOrderedAndProject plan, for several n including n near
    the corpus size; tiny quantile_accuracy stresses the band fallback."""
    target = docs.limit(20)
    for n in (5, 60, int(docs.count()) - 3):
        small = SEL.dsir_select(docs, target, n=n, buckets=B)
        big = SEL.dsir_select(docs, target, n=n, buckets=B, small_n_max=0,
                              quantile_accuracy=50)
        ids_small = sorted(r["doc_id"] for r in small.collect())
        ids_big = sorted(r["doc_id"] for r in big.collect())
        assert ids_big == ids_small, n
    # n >= corpus: everything selected, still via the cutoff entry
    assert (
        SEL.dsir_select(docs, target, n=10**9, buckets=B, small_n_max=0).count()
        == docs.count()
    )


def test_select_cutoff_band_guard_fails_loudly(spark, mixed):
    with pytest.raises(ValueError, match="band_max"):
        # band_max=1 with any real band must trip the guard, naming the remedy
        SEL.dsir_select(mixed, mixed.limit(5), n=20, buckets=B,
                        small_n_max=0, quantile_accuracy=2, band_max=1).collect()


def test_bucket_profile_is_bounded(spark, docs):
    prof = SEL.bucket_profile(docs, buckets=64)
    assert prof.count() <= 64
    assert prof.agg(F.min("b")).collect()[0][0] >= 0
    assert prof.agg(F.max("b")).collect()[0][0] < 64


def test_divergence_zero_for_identical_corpora(spark, mixed):
    d = SEL.corpus_divergence(mixed, mixed, buckets=B).collect()[0]
    assert d["kl_ab"] == 0.0
    assert d["kl_ba"] == 0.0
    assert d["js_div"] == 0.0
    assert d["tv_dist"] == 0.0


def test_divergence_positive_and_bounded_for_disjoint(spark, mixed):
    a = mixed.where(F.col("doc_id") < 20)
    b = mixed.where(F.col("doc_id") >= 100)
    d = SEL.corpus_divergence(a, b, buckets=B).collect()[0]
    assert d["kl_ab"] > 0 and d["kl_ba"] > 0
    assert 0 < d["js_div"] <= math.log(2) + 1e-9
    assert 0 < d["tv_dist"] <= 1.0
    # JS is symmetric by construction
    d2 = SEL.corpus_divergence(b, a, buckets=B).collect()[0]
    assert d2["js_div"] == pytest.approx(d["js_div"], abs=2e-6)
    assert d2["kl_ab"] == pytest.approx(d["kl_ba"], abs=2e-6)


def test_divergence_monotone_in_mixture(spark, mixed):
    # a corpus closer to `a` should diverge less from it
    a = mixed.where(F.col("doc_id") < 20)
    near = mixed.where((F.col("doc_id") < 20) | (F.col("doc_id") == 100))
    far = mixed.where(F.col("doc_id") >= 100)
    d_near = SEL.corpus_divergence(a, near, buckets=B).collect()[0]["js_div"]
    d_far = SEL.corpus_divergence(a, far, buckets=B).collect()[0]["js_div"]
    assert d_near < d_far


def test_validation_errors(spark, mixed):
    with pytest.raises(ValueError):
        SEL.dsir_log_weights(mixed, mixed, alpha=0.0)
    with pytest.raises(ValueError):
        SEL.corpus_divergence(mixed, mixed, alpha=-1.0)
    with pytest.raises(ValueError):
        SEL.hashed_ngram_buckets("text", buckets=1)


# ---------------------------------------------------------------------------
# Differential: Spark DSIR vs a pure-Python replica (randomized corpora)
# ---------------------------------------------------------------------------

import hashlib
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st


def _py_h32(s: str, seed: str) -> int:
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16)


def _py_feats(text: str, buckets: int) -> list[int]:
    toks = text.split()
    out = [_py_h32(t, "dsir1") % buckets for t in toks]
    out += [
        _py_h32(f"{a} {b}", "dsir2") % buckets for a, b in zip(toks, toks[1:])
    ]
    return out


def _py_dsir(docs: dict[int, str], target_ids: set[int], buckets: int, alpha: float):
    raw = Counter(b for t in docs.values() for b in _py_feats(t, buckets))
    tgt = Counter(
        b for i, t in docs.items() if i in target_ids for b in _py_feats(t, buckets)
    )
    nr, nt = sum(raw.values()), sum(tgt.values())
    lw = {}
    for i, t in docs.items():
        s = 0.0
        for b in _py_feats(t, buckets):
            s += math.log((tgt.get(b, 0) + alpha) / (nt + alpha * buckets))
            s -= math.log((raw.get(b, 0) + alpha) / (nr + alpha * buckets))
        lw[i] = s
    return lw


@settings(max_examples=12, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=24), min_size=2, max_size=10
    ),
    buckets=st.sampled_from([16, 64, 256]),
)
def test_dsir_weights_match_python_replica(spark_session_holder, texts, buckets):
    spark = spark_session_holder
    docs = {i: t for i, t in enumerate(texts)}
    target_ids = {i for i in docs if i % 2 == 0}
    df = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    tgt = df.where(F.col("doc_id") % 2 == 0)
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in SEL.dsir_log_weights(df, tgt, buckets=buckets).collect()
    }
    expect = _py_dsir(docs, target_ids, buckets, alpha=1.0)
    for i in docs:
        assert got[i] == pytest.approx(expect[i], abs=2e-6), (i, docs[i])


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    """Hypothesis forbids function-scoped fixtures; re-expose the session
    fixture at module scope (it is session-scoped underneath)."""
    return spark


def test_dsir_precomputed_profiles_match_corpus_path(spark, mixed, tmp_path):
    """Scoring against persisted profiles must equal the corpus-built path —
    the train-once/score-many contract the streaming filter relies on."""
    target = mixed.where(F.col("doc_id") < 20)
    direct = {r["doc_id"]: r["dsir_logw"]
              for r in SEL.dsir_log_weights(mixed, target, buckets=B).collect()}
    rp, tp = str(tmp_path / "rp"), str(tmp_path / "tp")
    SEL.bucket_profile(mixed, buckets=B).write.parquet(rp)
    SEL.bucket_profile(target, buckets=B).write.parquet(tp)
    via_profiles = {r["doc_id"]: r["dsir_logw"]
                    for r in SEL.dsir_log_weights(
                        mixed, buckets=B,
                        raw_profile=spark.read.parquet(rp),
                        target_profile=spark.read.parquet(tp)).collect()}
    assert direct == via_profiles
    with pytest.raises(ValueError):
        SEL.dsir_log_weights(mixed)  # neither target nor target_profile


def test_streaming_dsir_filter(spark, tmp_path):
    """foreachBatch DSIR filter: fixed profiles, per-epoch accepted docs;
    target-like docs pass, off-target docs are filtered; an epoch retry is
    a no-op."""
    from lantern_extras_spark.streaming.stateful import (
        ingest_dsir_batch,
        start_dsir_filter_stream,
    )

    cat = [(i, "cat feline purr whiskers cat purr") for i in range(20)]
    dog = [(100 + i, "dog canine bark fetch dog bark") for i in range(20)]
    hist = spark.createDataFrame(cat + dog, "doc_id bigint, text string")
    target = hist.where("doc_id < 20")
    rp, tp = str(tmp_path / "rp"), str(tmp_path / "tp")
    SEL.bucket_profile(hist, buckets=B).write.parquet(rp)
    SEL.bucket_profile(target, buckets=B).write.parquet(tp)

    src = str(tmp_path / "src")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    batch = spark.createDataFrame(
        [(1000, "cat purr whiskers feline"), (1001, "dog bark fetch canine")],
        "doc_id bigint, text string",
    )
    batch.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_dsir_filter_stream(spark, src, batch.schema, ckpt, out,
                                 rp, tp, min_logw=0.0, buckets=B)
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1000]  # the target-like doc passes, the off-target drops
    # retry idempotency: re-running the epoch leaves the output unchanged
    ingest_dsir_batch(batch, 0, out, rp, tp, min_logw=0.0, buckets=B)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1000]


def test_select_cutoff_handles_heavy_key_ties(spark):
    """Many identical sel_keys across the boundary: the cutoff path must
    still pick the exact TakeOrdered set (id tie-break at the boundary
    row). Identical TEXTS give identical dsir_logw; pround(6) keeps distinct
    Gumbel keys apart, so force ties by making the weights dominate: all-
    same text -> logw equal -> keys differ only by Gumbel. Instead pin ties
    directly through the generic kernel with a constant key column."""
    from lantern_extras_spark.operators.selection import _cutoff_top_n
    from pyspark.sql import functions as F

    # 60 rows, ALL the same key: selection must be the n smallest ids
    df = spark.range(60).select(
        F.col("id").alias("doc_id"), F.lit(1.5).alias("k")
    )
    for n in (1, 7, 59):
        got = sorted(
            r["doc_id"]
            for r in _cutoff_top_n(df, n, "k", "doc_id", 50, 10_000,
                                   "test").collect()
        )
        assert got == list(range(n)), (n, got)
    # mixed: 30 rows at key 2.0, 30 at 1.0; n straddles the tie block
    df2 = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 2.0).otherwise(1.0).alias("k"),
    )
    got = sorted(
        r["doc_id"]
        for r in _cutoff_top_n(df2, 40, "k", "doc_id", 50, 10_000,
                               "test").collect()
    )
    evens = [i for i in range(60) if i % 2 == 0]          # all 30 key-2.0 rows
    odds_first10 = [i for i in range(60) if i % 2 == 1][:10]  # 10 smallest ids at 1.0
    assert got == sorted(evens + odds_first10), got


def test_cutoff_pick_fails_loud_on_bracket_miss():
    """If percentile_approx's rank error ever exceeded the 2x margin, the
    cutoff index would wrap negative (m_hi >= n) or run past the band —
    both must raise naming the remedy, never silently pick a wrong row."""
    import pytest

    from lantern_extras_spark.operators.selection import _pick_cutoff

    band = [(2.0, 1), (1.5, 2), (1.0, 3)]
    # normal pick: rank n - m_hi within the band
    assert _pick_cutoff(band, n=7, m_hi=5, op="t") == (1.5, 2)
    with pytest.raises(ValueError, match="quantile_accuracy"):
        _pick_cutoff(band, n=5, m_hi=5, op="t")  # m_hi >= n -> negative wrap
    with pytest.raises(ValueError, match="quantile_accuracy"):
        _pick_cutoff(band, n=9, m_hi=5, op="t")  # rank 4 > len(band)=3


def test_target_filter_matches_target_corpus_path(spark, mixed):
    """r13 pass-6: the single-pass combined-profile path (target_filter) must
    be bit-identical to the two-pass target-corpus path — same smoothed
    ratios, same per-doc sums, same n_features — for weights AND both
    dsir_select strategies."""
    pred = F.col("doc_id") < 20
    target = mixed.where(pred)
    two_pass = sorted(
        (r["doc_id"], r["dsir_logw"], r["n_features"])
        for r in SEL.dsir_log_weights(mixed, target, buckets=B).collect()
    )
    one_pass = sorted(
        (r["doc_id"], r["dsir_logw"], r["n_features"])
        for r in SEL.dsir_log_weights(
            mixed, target_filter=pred, buckets=B
        ).collect()
    )
    assert two_pass == one_pass

    sel_two = sorted(
        (r["doc_id"], r["sel_key"])
        for r in SEL.dsir_select(mixed, target, n=7, buckets=B).collect()
    )
    sel_one = sorted(
        (r["doc_id"], r["sel_key"])
        for r in SEL.dsir_select(
            mixed, None, n=7, buckets=B, target_filter=pred
        ).collect()
    )
    assert sel_two == sel_one

    cut_two = sorted(
        (r["doc_id"], r["sel_key"])
        for r in SEL.dsir_select(
            mixed, target, n=7, buckets=B, small_n_max=0,
            quantile_accuracy=1000,
        ).collect()
    )
    cut_one = sorted(
        (r["doc_id"], r["sel_key"])
        for r in SEL.dsir_select(
            mixed, None, n=7, buckets=B, small_n_max=0,
            quantile_accuracy=1000, target_filter=pred,
        ).collect()
    )
    assert cut_two == cut_one

def test_onepass_materialization_matches_recompute(spark, mixed, monkeypatch):
    """r13: the doc-count-capped persist of the tagged feature stream (one
    md5 hash pass feeding profile AND per-doc aggs) must be bit-identical to
    the two-pass recompute shape, and the over-cap probe must fall back."""
    pred = F.col("doc_id") < 20

    def weights():
        return sorted(
            (r["doc_id"], r["dsir_logw"], r["n_features"])
            for r in SEL.dsir_log_weights(
                mixed, target_filter=pred, buckets=B
            ).collect()
        )

    one = weights()
    # over-cap: the probe selects the two-pass recompute shape, values unchanged
    monkeypatch.setattr(SEL, "DSIR_MAT_MAX_DOCS", 0)
    assert weights() == one


def test_scoped_persist_bounds_cache_growth(spark, mixed):
    """r14 (verdict item 3): repeated dsir one-pass calls must not accumulate
    CacheManager entries — the next call releases the previous call's
    persisted frames (leak bounded at one call per operator family)."""
    from lantern_extras_spark.operators import selection as SEL

    spark.catalog.clearCache()
    # delta-based: other fixtures may hold localCheckpoint RDDs that
    # clearCache does not release — only the GROWTH across calls matters
    n0 = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        SEL.dsir_log_weights(
            mixed, None, buckets=256, target_filter=F.col("doc_id") < 20
        ).write.format("noop").mode("overwrite").save()
    n1 = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n1 - n0 <= 1, f"dsir one-pass leaked {n1 - n0} cached frames over 3 calls"
    spark.catalog.clearCache()
