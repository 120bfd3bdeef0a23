"""Retrieval operators: BM25 lexical ranking, reciprocal-rank fusion (hybrid
lexical+vector search), late-interaction maxsim over chunk embeddings, and MMR
diversification.

These complete the search surface around the reference's vector search
(`lantern_cli/src/http_server/search.rs` exposes vector top-k over a
collection; production retrieval stacks pair that with a lexical ranker and a
fusion step — this module is that pairing, Spark-first). Everything is pure
Column expressions except the MMR greedy step, which is inherently sequential
over a BOUNDED candidate set (one Arrow batch per query group).

Scale shapes:
- `bm25_scores`: one tiny exact-integer stats aggregate over the corpus
  (count, Σdl, per-term document frequencies — all longs, so the result is
  deterministic regardless of partial-aggregation order), broadcast back onto
  a second narrow scan that computes per-doc scores with NO shuffle: per-term
  tf comes from `size(filter(tokens, ...))` on the staged token array, so the
  scoring pass is whole-stage-codegen'd projection only. Top-k via
  orderBy().limit() → TakeOrderedAndProject (per-partition partial top-k).
  At 100 TB: two scans of (id, text), one broadcast of a 1-row frame.
- `rrf_fuse`: full-outer joins of k-row ranked lists (k bounded by the
  callers' top-k) — trivially broadcastable; the fused score is a fixed-order
  sum of exact reciprocals, so cross-engine deterministic.
- `maxsim_topk`: chunk-level cosines (narrow), groupBy(doc).max per query
  vector (max is order-insensitive → deterministic), fixed-order sum across
  query vectors, TakeOrderedAndProject top-k.
- `mmr_rerank`: candidate generation and ALL similarity arithmetic stay in
  Column expressions (engine-portable folds + pround); only the greedy
  argmax loop runs in `applyInPandas` over the ≤n-row candidate group.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.functions.portable import pround
from lantern_extras_spark.functions.text import tokens
from lantern_extras_spark.functions.vector import cos_sim
from lantern_extras_spark.session import local_frame


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
) -> DataFrame:
    """Per-document BM25 score for a fixed query-term list.

    idf_t = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))  (the Robertson/Sparck-Jones
    form used by Lucene), tf from the whitespace tokenizer, dl = token count,
    avgdl = Σdl / N computed from exact integers. The per-document score sums
    the per-term contributions in declaration order, so the float result is
    bit-stable across engines (the DuckDB oracle replays the same chain).

    Returns (id_col, score). Documents with no query term score 0.0.
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    aggs = [
        F.count("*").alias("__n"),
        F.sum(F.size("__toks").cast("long")).alias("__sum_dl"),
    ]
    for i, t in enumerate(query_terms):
        aggs.append(
            F.sum(F.array_contains("__toks", t).cast("long")).alias(f"__df_{i}")
        )
    stats = staged.agg(*aggs)

    scored = staged.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    dl = F.size("__toks").cast("double")
    def _tf(term: str) -> Column:
        # NB: a default-arg lambda would have arity 2 and F.filter would pass
        # the element INDEX as the second argument — a real closure is required
        return F.size(F.filter("__toks", lambda x: x == F.lit(term)))

    score: Column = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = _tf(t).cast("double")
        dft = F.col(f"__df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dft + F.lit(0.5)) / (dft + F.lit(0.5)))
        denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl)
        score = score + idf * (tf * F.lit(k1 + 1.0)) / denom
    if round_dp is not None:
        score = pround(score, round_dp)
    return scored.select(F.col(id_col), score.alias("score"))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = 6,
) -> DataFrame:
    """Top-k BM25 documents: orderBy(score desc, id asc).limit(k) →
    TakeOrderedAndProject (per-partition partial top-k, k rows to the driver,
    never a global sort); the rank window then runs over only k rows."""
    scored = bm25_scores(df, query_terms, text_col, id_col, k1, b, round_dp)
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def bm25_sql(
    query_terms: list[str],
    table: str = "documents",
    words_sql: str | None = None,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
) -> str:
    """DuckDB mirror of `bm25_scores` (same stats CTE + same fixed-order sum)
    producing (id_col, score) — composable into oracle queries."""
    if words_sql is None:
        words_sql = (
            "CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END"
        )
    df_exprs = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(w, '{t}') THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i, t in enumerate(query_terms)
    )
    terms = []
    for i, _t in enumerate(query_terms):
        tf = f"CAST(len(list_filter(w, x -> x = '{_t}')) AS DOUBLE)"
        dft = f"CAST(s.df_{i} AS DOUBLE)"
        idf = f"ln(1.0 + (CAST(s.n AS DOUBLE) - {dft} + 0.5) / ({dft} + 0.5))"
        denom = (
            f"({tf} + {k1} * (1.0 - {b} + {b} * CAST(len(w) AS DOUBLE) "
            f"/ (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))"
        )
        terms.append(f"{idf} * ({tf} * {k1 + 1.0}) / {denom}")
    score = "0.0 + " + " + ".join(terms)
    if round_dp is not None:
        score = f"round({score}, {round_dp})"
    return f"""
        WITH __bm_t AS (SELECT {id_col}, {words_sql} AS w FROM {table}),
             __bm_s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                               CAST(sum(len(w)) AS BIGINT) AS sum_dl,
                               {df_exprs}
                        FROM __bm_t)
        SELECT {id_col}, {score} AS score FROM __bm_t, __bm_s s
    """


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion
# ---------------------------------------------------------------------------

def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k0: int = 60,
    k: int | None = None,
    round_dp: int | None = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists (Cormack et al. 2009):
    rrf(d) = Σ_i 1/(k0 + rank_i(d)), missing ranks contribute 0. The inputs
    are top-k lists (bounded), so every join here is a broadcast of k rows;
    the sum runs in declaration order over exact reciprocals — deterministic.

    Returns (id_col, rrf, rnk) ranked by (rrf desc, id asc)."""
    if len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings")
    base = None
    parts = []
    for i, r in enumerate(rankings):
        ri = r.select(
            F.col(id_col), F.col(rank_col).cast("double").alias(f"__r_{i}")
        )
        base = ri if base is None else base.join(ri, id_col, "full_outer")
        parts.append(f"__r_{i}")
    score: Column = F.lit(0.0)
    for p in parts:
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(k0)) + F.col(p)), F.lit(0.0)
        )
    if round_dp is not None:
        score = pround(score, round_dp)
    fused = base.select(F.col(id_col), score.alias("rrf"))
    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    out = fused.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    # the window runs over ≤ Σk_i fused rows (bounded by the input top-ks),
    # never the corpus — single-partition is fine at any corpus scale
    if k is not None:
        out = out.where(F.col("rnk") <= k)
    return out


# ---------------------------------------------------------------------------
# Late-interaction (maxsim) retrieval over chunk embeddings
# ---------------------------------------------------------------------------

def maxsim_topk(
    chunks: DataFrame,
    query_vecs: list[list[float]],
    k: int = 10,
    id_col: str = "doc_id",
    vec_col: str = "emb",
    round_dp: int | None = 6,
) -> DataFrame:
    """ColBERT-style late interaction: score(doc) = Σ_q max over the doc's
    chunks of cos(q, chunk). Each per-query max is order-insensitive (exact
    max over pround-ed cosines) and the cross-query sum is fixed-order, so
    the score is engine-deterministic.

    Scale shape: one narrow projection computing |Q| cosines per chunk row,
    one groupBy(doc) with |Q| max aggregates (map-side partial max — the
    shuffle carries one row per doc per partition), TakeOrderedAndProject
    for the top-k. No correlation between chunks is ever materialized.

    Returns (id_col, m_0..m_{|Q|-1}, score, rnk)."""
    if not query_vecs:
        raise ValueError("maxsim_topk: query_vecs must be non-empty")
    sims = []
    for i, qv in enumerate(query_vecs):
        qcol = F.lit([float(x) for x in qv]).cast("array<double>")
        c = cos_sim(F.col(vec_col), qcol)
        if round_dp is not None:
            c = pround(c, round_dp)
        sims.append(c.alias(f"__c_{i}"))
    staged = chunks.select(F.col(id_col), *sims)
    aggs = [F.max(f"__c_{i}").alias(f"m_{i}") for i in range(len(query_vecs))]
    per_doc = staged.groupBy(id_col).agg(*aggs)
    score: Column = F.lit(0.0)
    for i in range(len(query_vecs)):
        score = score + F.col(f"m_{i}")
    per_doc = per_doc.withColumn("score", score)
    top = per_doc.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# MMR diversification
# ---------------------------------------------------------------------------

def _pround_py(x: float, dp: int) -> float:
    s = float(10 ** dp)
    return math.floor(x * s + 0.5) / s


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "doc_id",
    vec_col: str = "emb",
    sim_col: str = "simq",
    round_dp: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking of a BOUNDED candidate set
    (Carbonell & Goldstein 1998): greedily pick
    argmax_d [ λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) ],
    ties broken by id; the first pick uses max_sel = 0.

    `candidates` must be a top-n frame (id, vec, sim-to-query) — n is the
    caller's top-k, NOT the corpus, so the n×n similarity matrix is tiny by
    construction. All similarity arithmetic (query sims and the pairwise
    matrix) is computed in Column expressions with the engine-portable fold +
    pround, so a SQL oracle unrolling the same greedy steps reproduces the
    values bit-for-bit; only the sequential argmax loop runs in
    `applyInPandas` over the single ≤n-row group (one Arrow batch — the same
    boundedness contract as `autotune`'s result cache).

    Returns (rnk 1..k, id_col, mmr) in pick order."""
    import pandas as pd

    pairs = (
        candidates.alias("a")
        .crossJoin(F.broadcast(candidates.alias("b")))
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("ia"),
            F.col(f"b.{id_col}").alias("ib"),
            pround(
                cos_sim(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), round_dp
            ).alias("s"),
        )
    )
    sim_arrays = pairs.groupBy("ia").agg(
        F.map_from_arrays(F.collect_list("ib"), F.collect_list("s")).alias("__sims")
    )
    staged = (
        candidates.select(F.col(id_col), F.col(sim_col))
        .join(sim_arrays, F.col(id_col) == F.col("ia"), "left")
        .drop("ia")
        .withColumn("__g", F.lit(1))
    )

    n_picks = k
    lam_f = float(lam)
    dp = round_dp
    idc = id_col
    simc = sim_col

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        cand = {
            int(r[idc]): (float(r[simc]), r["__sims"] or {})
            for _, r in pdf.iterrows()
        }
        out = []
        selected: list[int] = []
        while cand and len(out) < n_picks:
            best = None
            for cid in sorted(cand):
                simq, sims = cand[cid]
                max_sel = max((sims.get(s, 0.0) for s in selected), default=0.0)
                mmr = lam_f * simq - (1.0 - lam_f) * max_sel
                if best is None or mmr > best[1]:
                    best = (cid, mmr)
            cid, mmr = best
            out.append((len(out) + 1, cid, _pround_py(mmr, dp)))
            selected.append(cid)
            del cand[cid]
        return pd.DataFrame(out, columns=["rnk", idc, "mmr"])

    return staged.groupBy("__g").applyInPandas(
        greedy, schema=f"rnk bigint, {idc} bigint, mmr double"
    )


# ---------------------------------------------------------------------------
# Join-formulated BM25 (data-driven term sets), pseudo-relevance feedback
# ---------------------------------------------------------------------------

def bm25_scores_weighted(
    df: DataFrame,
    weighted_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
    staged: DataFrame | None = None,
    max_terms: int | None = 65536,
) -> DataFrame:
    """BM25 where the query is a DATAFRAME of (term, weight) — the form that
    lets expansion terms come from the corpus itself with no driver
    round-trip. score(doc) = Σ_t w_t · idf_t · sat(tf_t, dl).
    Pass `staged` (a pre-built, typically cached, `(id_col, __toks)` frame)
    to share one tokenization across several scoring passes.

    `weighted_terms` is BROADCAST (it is query/PRF-sized — tens of terms);
    `max_terms` is the fail-loud guard: a caller handing a vocabulary-scale
    term frame gets a ValueError naming the remedy instead of a silent
    driver/broadcast blow-up (the `_check_max_cell` discipline, ivf.py).
    Pass ``max_terms=None`` ONLY when the frame is bounded by construction
    (e.g. built with ``.limit(n)`` — `bm25_prf_topk` does this): the probe
    is a count JOB, and counting an un-cached derived frame re-runs its
    lineage (measured 1.7× on bm25_prf before the exemption).

    Determinism contract: per-(doc, term) contributions are single float
    expressions; the per-doc reduction runs as a TERM-SORTED sequential fold
    (array_sort + aggregate; the oracle's list(... ORDER BY term) +
    list_sum), never a float groupBy-SUM whose partial order varies.

    Scale shape: tokens shuffle once on (doc, term); the weighted-term and
    document-frequency sides are term-cardinality-sized and broadcast; the
    fold shuffles one row per doc. Docs with no weighted term are absent
    from the output (callers top-k, so absence == score 0 semantics)."""
    # bounded probe: limit(max_terms+1).count() costs O(max_terms) however
    # large the term frame actually is
    n_terms = 0 if max_terms is None else weighted_terms.limit(max_terms + 1).count()
    if max_terms is not None and n_terms > max_terms:
        raise ValueError(
            f"bm25_scores_weighted: weighted_terms has > max_terms="
            f"{max_terms} rows — this frame is broadcast and a "
            f"vocabulary-scale term set would blow up the driver. Score "
            f"against a bounded query/expansion term set, or raise "
            f"max_terms only if the broadcast genuinely fits executor "
            f"memory (term frames are ~50 bytes/row)."
        )
    if staged is None:
        staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    stats = staged.agg(
        F.count("*").alias("__n"),
        F.sum(F.size("__toks").cast("long")).alias("__sum_dl"),
    )
    toks = staged.select(
        F.col(id_col), F.size("__toks").cast("double").alias("__dl"),
        F.explode("__toks").alias("term"),
    )
    wt = weighted_terms.select("term", F.col("weight").cast("double"))
    hits = toks.join(F.broadcast(wt), "term")
    tf = hits.groupBy(id_col, "term").agg(
        F.count("*").cast("double").alias("__tf"),
        F.first("__dl").alias("__dl"),
        F.first("weight").alias("__w"),
    )
    dfreq = (
        toks.join(F.broadcast(wt.select("term")), "term")
        .select(id_col, "term").distinct()
        .groupBy("term").agg(F.count("*").cast("double").alias("__df"))
    )
    n = F.col("__n").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    idf = F.log(F.lit(1.0) + (n - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5)))
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / avgdl
    )
    contrib = F.col("__w") * idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom
    scored_terms = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.col("term"), contrib.alias("__c"))
    )
    per_doc = scored_terms.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("term"), F.col("__c")))),
            F.lit(0.0),
            lambda acc, e: acc + e["__c"],
        ).alias("score")
    )
    if round_dp is not None:
        per_doc = per_doc.withColumn("score", pround(F.col("score"), round_dp))
    return per_doc


def _bm25_pass1_literal(
    staged: DataFrame,
    query_terms: list[str],
    id_col: str,
    k1: float,
    b: float,
    round_dp: int | None,
) -> DataFrame:
    """BM25 over a literal term list, computed as one stats aggregate + one
    projection over a staged `(id_col, __toks)` frame — the no-shuffle shape
    of `bm25_scores`, but with the per-doc summation replayed in TERM-ASC
    order so the floats are bit-identical to `bm25_scores_weighted`'s sorted
    fold (see bm25_prf_topk). Docs with no query term are absent, matching
    the weighted path. Falls back to the caller's weighted path for
    duplicate term lists (the weighted semantics double-counts those)."""
    terms = sorted(query_terms)
    aggs = [
        F.count("*").alias("__n"),
        F.sum(F.size("__toks").cast("long")).alias("__sum_dl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains("__toks", t).cast("long")).alias(f"__df_{i}")
        )
    stats = staged.agg(*aggs)
    scored = staged.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    dl = F.size("__toks").cast("double")
    score: Column = F.lit(0.0)
    for i, t in enumerate(terms):

        def _tf(term: str) -> Column:
            # real closure (not default-arg): F.filter passes the index as a
            # second arg to arity-2 lambdas
            return F.size(F.filter("__toks", lambda x: x == F.lit(term)))

        tf = _tf(t).cast("double")
        dft = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dft + F.lit(0.5)) / (dft + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl
        )
        # same expression shape as the weighted path's contribution,
        # including the weight multiply (1.0 * x == x exactly)
        score = score + F.lit(1.0) * idf * (tf * F.lit(k1 + 1.0)) / denom
    if round_dp is not None:
        score = pround(score, round_dp)
    return scored.where(
        F.arrays_overlap("__toks", F.array(*[F.lit(t) for t in terms]))
    ).select(F.col(id_col), score.alias("score"))


def bm25_prf_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    n_feedback: int = 10,
    n_expansion: int = 5,
    expansion_weight: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = 6,
) -> DataFrame:
    """Pseudo-relevance feedback (RM3-lite): BM25 pass one picks `n_feedback`
    docs; the `n_expansion` most frequent non-query terms inside them (ties
    → term asc) join the query at `expansion_weight`; pass two re-scores
    with the weighted term set. The whole loop is in-engine — expansion
    terms never visit the driver.

    Returns (id_col, score, rnk ≤ k). Pass-one ranking and expansion
    selection use exact integers + lexicographic ties; pass-two scores obey
    `bm25_scores_weighted`'s sorted-fold determinism."""
    spark = df.sparkSession
    orig = local_frame(
        spark, [(t, 1.0) for t in query_terms], "term string, weight double"
    )
    # one tokenization feeds pass one, expansion selection AND pass two
    # (heavy_hitters' single-scan contract); the cached projection is
    # (id, tokens) only and spills under MEMORY_AND_DISK at scale
    # r14: scoped — the next bm25_prf call releases this call's blocks
    # instead of leaking a CacheManager entry per call (r13 verdict item 3)
    from lantern_extras_spark.operators._cachescope import scoped_persist

    (staged,) = scoped_persist(
        "bm25_prf_staged",
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")),
    )
    if len(set(query_terms)) == len(query_terms):
        # r13 (guide §1.2 fewer passes): pass one's terms are DRIVER-SIDE
        # LITERALS (unlike pass two's engine-resident expansion terms), so
        # its scores can come from one stats aggregate + one projection over
        # the staged tokens — no explode, no tf/dfreq joins. Bit-identity
        # with the weighted path (pinned by
        # test_bm25_literal_pass1_matches_weighted):
        # - identical float expressions per term (df/tf/dl are the same
        #   exact integers, 1.0*x == x);
        # - contributions are summed in the SAME term-ASC order as the
        #   weighted path's sorted fold, and absent terms contribute an
        #   exact 0.0 (x + 0.0 == x for the non-negative contributions);
        # - docs containing no query term are dropped (arrays_overlap), the
        #   weighted path's absence semantics.
        pass1 = _bm25_pass1_literal(staged, query_terms, id_col, k1, b, round_dp)
    else:
        # max_terms=None: both term frames are bounded BY CONSTRUCTION (a
        # len(query_terms) literal frame; ∪ a .limit(n_expansion) frame) and
        # the guard's count job would re-run pass-1 lineage (measured 1.7×)
        pass1 = bm25_scores_weighted(df, orig, text_col, id_col, k1, b,
                                     round_dp, staged=staged, max_terms=None)
    feedback = (
        pass1.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(n_feedback).select(id_col)
    )
    toks = staged.select(F.col(id_col), F.explode("__toks").alias("term"))
    expansion = (
        toks.join(F.broadcast(feedback), id_col, "left_semi")
        .where(~F.col("term").isin(query_terms))
        .groupBy("term").agg(F.count("*").alias("__tot"))
        .orderBy(F.col("__tot").desc(), F.col("term").asc())
        .limit(n_expansion)
        .select("term", F.lit(float(expansion_weight)).alias("weight"))
    )
    # r13 (guide §5 / §7.2 duplicated subtrees): `weighted`'s lineage contains
    # the ENTIRE pass-1 scoring pipeline (via `feedback`), and pass two
    # broadcasts it twice (term weights + the dfreq term set) — without a
    # materialization each broadcast job re-executed pass one (42 Spark jobs
    # measured at sf0.1). localCheckpoint the frame — it is bounded BY
    # CONSTRUCTION at len(query_terms) + n_expansion rows — so pass one runs
    # exactly once and pass two's broadcasts read ~a dozen materialized rows.
    # Expansion terms still never visit the driver (checkpoint storage is
    # executor-side).
    weighted = orig.unionByName(expansion).localCheckpoint()
    pass2 = bm25_scores_weighted(df, weighted, text_col, id_col, k1, b, round_dp,
                                 staged=staged, max_terms=None)
    top = pass2.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# Snippets
# ---------------------------------------------------------------------------

def search_snippets(
    ranked: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    window: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Best-window snippet per ranked result: the `window`-token span with
    the most query-term occurrences (ties → earliest start). Runs only over
    the ranked id set (k rows), so the O(n·window) per-doc window scan is
    bounded by the caller's top-k regardless of corpus size.

    Returns (id_col, rnk, n_hits, snippet) — integer hit counts and
    position ties, so cross-engine deterministic."""
    terms_arr = F.lit([str(t) for t in query_terms]).cast("array<string>")
    top = docs.join(F.broadcast(ranked.select(id_col, "rnk")), id_col)
    staged = top.select(
        F.col(id_col), F.col("rnk"), tokens(F.col(text_col)).alias("__toks")
    ).withColumn(
        "__h",
        F.transform("__toks", lambda t: F.when(F.array_contains(terms_arr, t), 1).otherwise(0)),
    ).withColumn("__n", F.size("__toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.col("__n") - window + 1, F.lit(1)))
    exploded = staged.where(F.col("__n") > 0).select(
        F.col(id_col), F.col("rnk"), F.col("__toks"),
        F.explode(starts).alias("__s"),
        F.col("__h"),
    ).withColumn(
        "__hits",
        F.aggregate(F.slice("__h", F.col("__s"), window), F.lit(0), lambda a, x: a + x),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__hits").desc(), F.col("__s").asc())
    best = exploded.withColumn("__r", F.row_number().over(w)).where(F.col("__r") == 1)
    return best.select(
        F.col(id_col), F.col("rnk"),
        F.col("__hits").cast("bigint").alias("n_hits"),
        F.concat_ws(" ", F.slice("__toks", F.col("__s"), window)).alias("snippet"),
    )
