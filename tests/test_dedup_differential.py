"""Randomized differential tests: dedup_paragraphs and dedup_spans vs
independent brute-force Python references on generated corpora. The Spark
implementations are window/groupBy/HOF expression pipelines with subtle
semantics (first-occurrence tie-break, interval merge, eligibility rules) —
a second implementation from the spec is the strongest guard against
expression-level bugs the curated fixtures miss."""

import hashlib
import re as pyre

from hypothesis import given, settings, strategies as st

from lantern_extras_spark.operators import dedup as D

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "x1", "y2"]

PARA = st.lists(st.sampled_from(WORDS), min_size=0, max_size=6).map(" ".join)
DOC = st.lists(PARA, min_size=1, max_size=5).map("\n".join)


def ref_dedup_paragraphs(texts, min_chars):
    """Spec: corpus-global; a trimmed unit >= min_chars keeps only its first
    (doc_order, pos) occurrence; shorter/blank units always survive."""
    seen = set()
    out = []
    for text in texts:
        kept, dropped = [], 0
        for u in text.split("\n"):
            norm = u.strip()
            if len(norm) >= min_chars:
                if norm in seen:
                    dropped += 1
                    continue
                seen.add(norm)
            kept.append(u)
        out.append(("\n".join(kept), dropped))
    return out


def ref_dedup_spans(texts, span):
    """Spec: token windows of `span`; non-first occurrences flag [p, p+span);
    flagged token positions removed; docs shorter than span untouched."""
    def toks(s):
        t = s.strip()
        return [] if t == "" else pyre.split(r"\s+", t)

    seen = {}
    flagged = []  # per doc: set of flagged starts (0-based)
    all_toks = [toks(t) for t in texts]
    for d, tk in enumerate(all_toks):
        f = set()
        for p in range(0, max(len(tk) - span + 1, 0)):
            w = " ".join(tk[p:p + span])
            h = hashlib.md5(w.encode()).hexdigest()[:15]
            if h in seen and seen[h] != (d, p):
                f.add(p)
            else:
                seen.setdefault(h, (d, p))
        flagged.append(f)
    out = []
    for d, tk in enumerate(all_toks):
        removed = set()
        for p in flagged[d]:
            removed.update(range(p, p + span))
        kept = [t for i, t in enumerate(tk) if i not in removed]
        out.append((" ".join(kept), len(tk) - len(kept)))
    return out


@given(st.lists(DOC, min_size=1, max_size=6))
@settings(max_examples=12, deadline=None)
def test_dedup_paragraphs_matches_reference(spark, docs_texts):
    min_chars = 8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_paras_dropped"])
        for r in D.dedup_paragraphs(df, min_chars=min_chars).collect()
    }
    want = ref_dedup_paragraphs(docs_texts, min_chars)
    for i, w in enumerate(want):
        assert got[i] == w, (i, docs_texts[i], got[i], w)


@given(st.lists(st.lists(st.sampled_from(WORDS), min_size=0, max_size=14).map(" ".join),
                min_size=1, max_size=5))
@settings(max_examples=12, deadline=None)
def test_dedup_spans_matches_reference(spark, docs_texts):
    span = 4
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens_removed"])
        for r in D.dedup_spans(df, span=span).collect()
    }
    want = ref_dedup_spans(docs_texts, span)
    for i, w in enumerate(want):
        assert got[i] == w, (i, docs_texts[i], got[i], w)


def _py_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_pround(x: float, n: int) -> float:
    import math
    s = float(10**n)
    return math.floor(x * s + 0.5) / s


@given(st.lists(st.lists(st.sampled_from(WORDS), min_size=0, max_size=20).map(" ".join),
                min_size=1, max_size=5))
@settings(max_examples=10, deadline=None)
def test_chunk_documents_matches_reference(spark, texts):
    from lantern_extras_spark.operators.textstats import chunk_documents

    window, overlap, stride = 6, 2, 4
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, window=window, overlap=overlap).collect()
    )
    want = []
    for d, t in enumerate(texts):
        tk = pyre.split(r"\s+", t.strip()) if t.strip() else []
        n = len(tk)
        starts = [
            s for s in range(1, max(n, 1) + 1, stride)
            if s <= n and (s == 1 or s - stride + window - 1 < n)
        ]
        for idx, s in enumerate(starts, 1):
            piece = tk[s - 1:s - 1 + window]
            want.append((d, idx, len(piece), " ".join(piece)))
    assert got == sorted(want)


@given(st.lists(st.lists(st.sampled_from(WORDS), min_size=0, max_size=8).map(" ".join),
                min_size=1, max_size=8))
@settings(max_examples=10, deadline=None)
def test_quota_sample_matches_reference(spark, texts):
    from lantern_extras_spark.operators.sampling import quota_sample

    budget = 10
    rows = [(i, t, f"s{i % 2}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"], r["quota_rank"])
        for r in quota_sample(df, token_budget=budget).collect()
    }
    want = {}
    for src in {r[2] for r in rows}:
        grp = [r for r in rows if r[2] == src]
        grp.sort(key=lambda r: (_py_hash32(f"quota:{r[0]}"), r[0]))
        prefix = 0
        for rank, (i, t, _) in enumerate(grp, 1):
            nt = len(pyre.split(r"\s+", t.strip())) if t.strip() else 0
            if prefix < budget:
                want[i] = (nt, prefix + nt, rank)
            prefix += nt
    assert got == want


@given(st.lists(st.lists(st.sampled_from(WORDS), min_size=1, max_size=6).map(" ".join),
                min_size=2, max_size=8))
@settings(max_examples=10, deadline=None)
def test_resample_mixture_matches_reference(spark, texts):
    import math

    from lantern_extras_spark.operators.sampling import resample_mixture

    target = {"s0": 0.6, "s1": 0.4}
    rows = [(i, t, f"s{i % 2}") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {}
    for r in resample_mixture(df, target).collect():
        got.setdefault(r["doc_id"], []).append(r["copy"])
    tok = {i: len(pyre.split(r"\s+", t.strip())) for i, t, _ in rows}
    grp_tokens = {}
    for i, t, s in rows:
        grp_tokens[s] = grp_tokens.get(s, 0) + tok[i]
    total = sum(grp_tokens.values())
    want = {}
    for i, t, s in rows:
        nt = grp_tokens[s]
        w = 0.0 if nt == 0 else _py_pround(target.get(s, 0.0) * total / nt, 8)
        u = _py_hash32(f"mix:{i}") / float(2**32)
        n = int(math.floor(w)) + (1 if u < w - math.floor(w) else 0)
        if n >= 1:
            want[i] = list(range(1, n + 1))
    assert {k: sorted(v) for k, v in got.items()} == want


TEXT = st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join)


@given(st.lists(TEXT, min_size=2, max_size=10), st.sampled_from([0.2, 0.5, 0.8]))
@settings(max_examples=10, deadline=None)
def test_prefix_strategy_differential(spark, texts, threshold):
    """AllPairs prefix filter vs the all-pairs plan on random corpora: the
    filter's recall-losslessness (jaccard AND the asymmetric containment
    bound) must hold on arbitrary inputs, not just the curated fixtures."""
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for metric in ("jaccard", "containment"):
        want = {(r["id_a"], r["id_b"]): r[metric]
                for r in D.ngram_jaccard_pairs(
                    docs, threshold=threshold, strategy="pairwise",
                    metric=metric, max_block_rows=None, shingle_n=2).collect()}
        got = {(r["id_a"], r["id_b"]): r[metric]
               for r in D.ngram_jaccard_pairs(
                   docs, threshold=threshold, strategy="prefix",
                   metric=metric, max_block_rows=None, shingle_n=2).collect()}
        assert got == want, (metric, threshold, texts)


@given(st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=300),
       st.sampled_from([4, 16]))
@settings(max_examples=10, deadline=None)
def test_kmv_distinct_differential(spark, values, k):
    """KMV estimate vs an independent Python reference over the same hash32:
    identical k-th minimum -> identical estimate, exact below k."""
    import hashlib as hl

    df = spark.createDataFrame([(f"v{v}",) for v in values], "val string")
    got = {r["n_rows"]: r for r in
           __import__("lantern_extras_spark.operators.textstats",
                      fromlist=["kmv_distinct"]).kmv_distinct(df, "val", k=k).collect()}
    row = list(got.values())[0]
    hashes = sorted({int(hl.md5(f"v{v}".encode()).hexdigest()[:8], 16) for v in values})
    if len(hashes) < k:
        want = float(len(hashes))
    else:
        want = (k - 1) * 4294967296.0 / float(hashes[k - 1])
    assert row["n_rows"] == len(values)
    assert abs(row["distinct_est"] - want) < 1e-6, (row, want)


def _fold_l2sq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (float(x) - float(y)) ** 2
    return acc


def _fold_cos(a, b):
    """`cos_sim`'s left-to-right double folds."""
    import math

    ab = aa = bb = 0.0
    for x, y in zip(a, b):
        ab += float(x) * float(y)
        aa += float(x) * float(x)
        bb += float(y) * float(y)
    d = math.sqrt(aa) * math.sqrt(bb)
    return 0.0 if d == 0.0 else ab / d


def ref_semantic_dedup(vecs, centroids, threshold):
    """Spec: nearest-centroid cell (fold l2sq argmin, first-wins tie); row b
    is a dup iff some same-cell a with id_a < id_b has fold cos(a,b) >=
    threshold; winner = smallest such id_a."""
    cells = []
    for v in vecs:
        d = [_fold_l2sq(v, c) for c in centroids]
        cells.append(d.index(min(d)))
    out = {}
    for j in range(len(vecs)):
        for i in range(j):
            if cells[i] != cells[j]:
                continue
            cs = _fold_cos(vecs[i], vecs[j])
            if cs >= threshold:
                out[j] = (cells[j], i, cs)
                break  # smallest i wins
    return out


@given(data=st.data())
@settings(max_examples=5, deadline=None)
def test_semantic_dedup_matches_bruteforce(spark, data):
    import numpy as np

    n = data.draw(st.integers(min_value=6, max_value=40))
    dim = data.draw(st.sampled_from([4, 8]))
    seed = data.draw(st.integers(min_value=0, max_value=2**16))
    rng = np.random.RandomState(seed)
    X = rng.randn(n, dim)
    # plant a couple of near-identical rows so hits exist at high thresholds
    if n >= 4:
        X[n - 1] = X[0] + 1e-4 * rng.randn(dim)
        X[n - 2] = X[1] + 1e-4 * rng.randn(dim)
    rows = [[float(v) for v in X[i]] for i in range(n)]
    cents = rows[: min(3, n)]
    thr = data.draw(st.sampled_from([0.3, 0.6, 0.9]))

    df = spark.createDataFrame(
        [(i, rows[i]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {r["dup_id"]: (r["cell"], r["dup_of"], r["cosine"])
           for r in D.semantic_dedup(df, threshold=thr,
                                     centroids=cents).collect()}
    assert got == ref_semantic_dedup(rows, cents, thr)
