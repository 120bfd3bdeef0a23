"""Corpus snapshot versioning — what changed between two dataset versions.

A 100 TB training corpus is rebuilt, re-crawled, and re-filtered across
releases; before training on version N+1 a pipeline wants the diff against
version N: what was added, what disappeared, what was edited in place, and
what merely moved (same bytes under a new id — re-partitioned crawls do this
constantly, and counting moves as add+remove wildly overstates churn).

`corpus_diff` computes that per-document provenance with joins only — no
sketches, no RNG — so the result is exact, deterministic, and replayable by
the DuckDB oracle:

- join on id for in-place comparison (md5 equality → unchanged/edited; the
  shuffle key is the id, never the body);
- for edited docs, word-3-gram shingle containment (share of the new
  version's shingles already present in the old version) quantifies HOW
  MUCH survived the edit — the same shingle machinery as `decontaminate`;
- ids only in the new snapshot join the OLD snapshot's content-hash map
  (md5 → min old id) to split true additions from moves.

Scale shape: two hash joins (id, md5 digest) plus a shingle intersect
evaluated ONLY on rows whose md5 already differs — unchanged docs (the bulk
of any real diff) never materialize a shingle array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lantern_extras_spark.functions.hashing import hash32
from lantern_extras_spark.functions.text import tokens, word_ngrams_of


def _prepared(df: DataFrame, id_col: str, text_col: str, prefix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(text_col).alias(f"{prefix}_text"),
        F.md5(F.col(text_col).cast("string")).alias(f"{prefix}_md5"),
    )


def _shingle_set(text_col: str) -> F.Column:
    return F.array_distinct(
        F.transform(word_ngrams_of(tokens(F.col(text_col)), 3), lambda s: hash32(s))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """Per-document diff of two corpus snapshots.

    Returns one row per document involved in the diff:
    (doc_id, status, containment, matched_old_id) with status one of

    - ``unchanged``: same id, byte-identical text (md5). containment 1.0,
      matched_old_id = the id.
    - ``edited``: same id, different text. containment = |new ∩ old| / |new|
      over distinct word-3-gram shingle hashes (0.0 when the new version has
      no shingles — nothing measurable survived), matched_old_id = the id.
    - ``moved``: id only in `new`, but the exact text existed in `old` under
      another id. containment 1.0, matched_old_id = the SMALLEST old id with
      that content (deterministic canonical pick).
    - ``added``: id only in `new`, content genuinely novel. containment and
      matched_old_id null.
    - ``removed``: id only in `old`. containment and matched_old_id null.

    Both statuses of a move are reported (the vacated old id shows as
    ``removed``) so the row multiset always reconciles: every old id and
    every new id appears exactly once.

    `parallelism` (r13, guide §2.5 input skew / §1.2): the edited-arm shingle
    containment is COMPUTE-bound (tokenize + 3-gram + hash per row) while
    AQE sizes post-join partitions by BYTES — a churn-sized edited set
    coalesces into one partition and the containment runs single-threaded.
    When set, the edited rows (only that sliver — others keep literal
    containments) are round-robin repartitioned to `parallelism` before the
    projection. Output rows/values are identical; only their distribution
    (and hence union order) changes — callers compare content, not order.
    """
    o = _prepared(old, id_col, text_col, "o")
    n = _prepared(new, id_col, text_col, "n")

    j = n.join(o, n["n_id"] == o["o_id"], "full_outer")

    # content-hash map of the old snapshot: md5 -> smallest old id
    cmap = o.groupBy(F.col("o_md5").alias("c_md5")).agg(
        F.min("o_id").alias("c_old_id")
    )
    j = j.join(cmap, j["n_md5"] == cmap["c_md5"], "left")

    in_both = F.col("n_id").isNotNull() & F.col("o_id").isNotNull()
    same = F.col("n_md5") == F.col("o_md5")
    status = (
        F.when(in_both & same, F.lit("unchanged"))
        .when(in_both, F.lit("edited"))
        .when(F.col("o_id").isNotNull(), F.lit("removed"))
        .when(F.col("c_old_id").isNotNull(), F.lit("moved"))
        .otherwise(F.lit("added"))
    )
    n_sh = _shingle_set("n_text")
    o_sh = _shingle_set("o_text")
    edited_containment = F.when(F.size(n_sh) == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(n_sh, o_sh)).cast("double")
        / F.size(n_sh).cast("double")
    )
    matched = (
        F.when(status.isin("unchanged", "edited"), F.col("o_id"))
        .when(status == "moved", F.col("c_old_id"))
        .otherwise(F.lit(None).cast(o.schema["o_id"].dataType))
    )
    if parallelism:
        # split the edited sliver out of the single projection so ONLY it
        # (id, both texts) pays a round-robin exchange to `parallelism`
        # partitions — the byte-sized AQE coalescing would otherwise run the
        # whole shingle-containment pass on however few partitions the join
        # output's bytes fill. The exchanges feeding the full-outer join are
        # identical in both arms and reused (ReusedExchange), so the join
        # merge runs twice over already-shuffled inputs, not the scans.
        base = j.select(
            F.coalesce(F.col("n_id"), F.col("o_id")).alias(id_col),
            status.alias("status"),
            matched.alias("matched_old_id"),
            F.col("n_text"),
            F.col("o_text"),
        )
        edited_arm = (
            base.where(F.col("status") == "edited")
            .repartition(parallelism)
            .select(
                F.col(id_col),
                F.col("status"),
                edited_containment.alias("containment"),
                F.col("matched_old_id"),
            )
        )
        others_arm = base.where(F.col("status") != "edited").select(
            F.col(id_col),
            F.col("status"),
            F.when(F.col("status").isin("unchanged", "moved"), F.lit(1.0))
            .otherwise(F.lit(None).cast("double"))
            .alias("containment"),
            F.col("matched_old_id"),
        )
        return edited_arm.unionByName(others_arm).select(
            id_col, "status", "containment", "matched_old_id"
        )
    containment = (
        F.when(status == "unchanged", F.lit(1.0))
        .when(status == "moved", F.lit(1.0))
        .when(status == "edited", edited_containment)
        .otherwise(F.lit(None).cast("double"))
    )
    return j.select(
        F.coalesce(F.col("n_id"), F.col("o_id")).alias(id_col),
        status.alias("status"),
        containment.alias("containment"),
        matched.alias("matched_old_id"),
    )


def near_moves(
    old: DataFrame,
    new: DataFrame,
    diff: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Recover re-identified AND lightly edited documents that `corpus_diff`
    can only report as added + removed: a re-crawled page whose id changed
    and whose text shifted a little shares no content hash with any old row,
    but its shingle set still overlaps its predecessor's. Counting those as
    churn overstates a release's novelty exactly where it matters.

    Runs `ngram_jaccard_join` between the diff's `removed` docs (old side)
    and `added` docs (new side) only — both sets are the diff's residue, not
    the corpus, so the posting join is small by construction. Winner per
    added doc: highest jaccard, then smallest old id (deterministic).

    Returns (doc_id, matched_old_id, jaccard) — one row per added doc with a
    near-match; callers subtract these from the added/removed churn counts.
    """
    from lantern_extras_spark.operators.dedup import ngram_jaccard_join

    # r13 pass-6 (guide §7.2 duplicated subtrees): `diff`'s added/removed
    # residues are consumed by FOUR subtree references downstream (each
    # side's shingle frame feeds both the posting explode and the verify
    # join), so the full corpus_diff plan executed ~4x. One narrow
    # (id, status) pass over the residue — the status filter still prunes
    # corpus_diff's expensive edited-containment arm — is localCheckpointed
    # (O(churn) ids, executor-side; the dsir-survivor discipline) so
    # corpus_diff runs exactly once however many times the residues are
    # referenced.
    resid = (
        diff.where(F.col("status").isin("added", "removed"))
        .select(F.col(id_col), F.col("status"))
        .localCheckpoint()
    )
    added = resid.where(F.col("status") == "added").select(id_col)
    removed = resid.where(F.col("status") == "removed").select(id_col)
    pairs = ngram_jaccard_join(
        old.join(removed, id_col, "left_semi"),
        new.join(added, id_col, "left_semi"),
        text_col=text_col, id_col=id_col,
        shingle_n=shingle_n, threshold=threshold,
    )
    return (
        pairs.groupBy("id_b")
        .agg(F.max(F.struct(F.col("jaccard"), (-F.col("id_a")).alias("neg"))).alias("w"))
        .select(
            F.col("id_b").alias(id_col),
            (-F.col("w.neg")).alias("matched_old_id"),
            F.col("w.jaccard").alias("jaccard"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension embedding-distribution drift between two snapshots —
    the vector-side release gate next to `corpus_diff`'s text side: a new
    crawl, a re-filtered corpus, or a re-run embedding model shifts the
    embedding distribution, and downstream consumers (ANN indexes trained on
    version-N centroids, quality thresholds tuned on version-N cosines) go
    quietly stale. Comparing per-dimension moments is the standard cheap
    drift monitor; a centroid re-fit is warranted when it fires.

    Returns one row per dimension: (dim, mean_old, mean_new, mean_delta,
    var_old, var_new) — exact population moments, no sketching.

    Scale shape: posexplode is a narrow JVM projection and groupBy(dim)
    partial-aggregates map-side, so the shuffle carries partitions×dim
    partial rows, never n×dim elements. No Python workers.
    """

    def moments(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v"))
            .groupBy("dim")
            .agg(
                F.avg("__v").alias(f"mean_{tag}"),
                F.var_pop("__v").alias(f"var_{tag}"),
            )
        )

    o, n = moments(old, "old"), moments(new, "new")
    return (
        o.join(n, "dim")
        .select(
            "dim", "mean_old", "mean_new",
            (F.col("mean_new") - F.col("mean_old")).alias("mean_delta"),
            "var_old", "var_new",
        )
        .orderBy("dim")
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """Roll a `corpus_diff` result up to one row per status: document count
    and mean containment (null for statuses without one). The release-gate
    view: alert when `added`+`removed` churn or low edited-containment mass
    crosses a budget."""
    return diff.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.avg("containment").alias("mean_containment"),
    )


def vocab_drift(
    old: DataFrame,
    new: DataFrame,
    phi: float = 0.001,
    text_col: str = "text",
    round_dp: int | None = 6,
) -> DataFrame:
    """Vocabulary drift between two corpus snapshots: for every token that is
    phi-heavy in EITHER snapshot, the share it holds in each and the
    log-ratio of those shares — the lexical counterpart of `embedding_drift`
    (which sees distribution shift in vector space but cannot say which
    words moved). A new boilerplate header, a source going dark, or a
    scraper bug each show up as a token with |log_ratio| >> 0.

    Scale shape: the candidate set comes from `heavy_hitters` run per
    snapshot (per-partition Misra-Gries summaries + exact recount — the
    Zipf tail never shuffles, and there is NO global window over the
    vocabulary); the report is then a heavy-vocab-sized full outer join.
    Totals are narrow sums. Tokens heavy in one snapshot but absent from
    the other get share 0 on that side; log_ratio uses a +1/total Laplace
    floor on both sides so it stays finite and engine-portable.

    Output: (token, n_old, n_new, share_old, share_new, log_ratio), one row
    per candidate token, log_ratio > 0 = gained share in the new snapshot.
    """
    import math

    from lantern_extras_spark.functions.portable import pround
    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.textstats import _mg_group_candidates

    # r13 single-pass restructure (guide §1.2 — fewer passes/jobs): the
    # previous shape ran TWO independent heavy_hitters pipelines (MG sketch +
    # exact recount + total, per snapshot) and then two more candidate
    # recounts and two totals — ~6 passes over the text plus a fan of
    # broadcast jobs (62 Spark jobs measured at sf0.1). Both snapshots now
    # ride ONE tagged union: one tokenization (cached, the heavy_hitters
    # single-scan contract), one per-group MG candidate pass, one combined
    # exact recount with conditional sums, one combined totals row. The
    # phi filter applies post-recount — "heavy in EITHER snapshot" — which
    # is the exact candidate set the full-outer join of the two
    # heavy_hitters outputs produced, with the same exact counts.
    m = math.ceil(1.0 / phi)
    tagged = old.select(
        F.lit("o").alias("__g"), F.col(text_col).alias("__text")
    ).unionByName(new.select(F.lit("n").alias("__g"), F.col(text_col).alias("__text")))
    # r14: scoped cache — the next vocab_drift call releases this one's
    # blocks instead of leaking a CacheManager entry per call (verdict item 3)
    from lantern_extras_spark.operators._cachescope import scoped_persist

    (toks,) = scoped_persist(
        "vocab_drift",
        tagged.select("__g", tokens(F.col("__text")).alias("__toks")),
    )
    cand = _mg_group_candidates(toks, m).select("token").distinct()
    rc = (
        toks.select("__g", F.explode("__toks").alias("token"))
        .join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("__g") == "o", 1).otherwise(0)).cast("bigint").alias("n_old"),
            F.sum(F.when(F.col("__g") == "n", 1).otherwise(0)).cast("bigint").alias("n_new"),
        )
    )
    tots = toks.agg(
        F.sum(F.when(F.col("__g") == "o", F.size("__toks"))).alias("__to"),
        F.sum(F.when(F.col("__g") == "n", F.size("__toks"))).alias("__tn"),
    )
    j = rc.crossJoin(F.broadcast(tots)).where(
        (F.col("n_old") > F.lit(phi) * F.col("__to"))
        | (F.col("n_new") > F.lit(phi) * F.col("__tn"))
    )
    share_old = F.col("n_old") / F.col("__to").cast("double")
    share_new = F.col("n_new") / F.col("__tn").cast("double")
    lr = F.log(
        ((F.col("n_new") + F.lit(1.0)) / (F.col("__tn") + F.lit(1.0)))
        / ((F.col("n_old") + F.lit(1.0)) / (F.col("__to") + F.lit(1.0)))
    )
    if round_dp is not None:
        share_old = pround(share_old, round_dp)
        share_new = pround(share_new, round_dp)
        lr = pround(lr, round_dp)
    return j.select(
        "token",
        "n_old",
        "n_new",
        share_old.alias("share_old"),
        share_new.alias("share_new"),
        lr.alias("log_ratio"),
    )
