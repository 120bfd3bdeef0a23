"""corpus_diff snapshot provenance on constructed old/new corpora."""

from pyspark.sql import functions as F

from lantern_extras_spark.operators import versioning as VER


def _corpora(spark):
    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven eight"),
            (3, "this document will be deleted in the new snapshot"),
            (4, "content that moves to a brand new identifier unchanged"),
            (5, "totally replaced text in the next version"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),          # unchanged
            (2, "one two three four five six revised ending"),   # edited, partial
            (99, "content that moves to a brand new identifier unchanged"),  # moved from 4
            (5, "entirely different words now live here instead"),  # edited, no overlap
            (100, "genuinely novel document appearing for the first time"),  # added
        ],
        "doc_id long, text string",
    )
    return old, new


def test_corpus_diff_statuses_and_containment(spark):
    old, new = _corpora(spark)
    rows = {r["doc_id"]: r for r in VER.corpus_diff(old, new).collect()}

    assert rows[1]["status"] == "unchanged"
    assert rows[1]["containment"] == 1.0 and rows[1]["matched_old_id"] == 1

    assert rows[2]["status"] == "edited" and rows[2]["matched_old_id"] == 2
    assert 0.0 < rows[2]["containment"] < 1.0  # shared prefix shingles survive

    assert rows[5]["status"] == "edited"
    assert rows[5]["containment"] == 0.0       # nothing survived the rewrite

    assert rows[99]["status"] == "moved"
    assert rows[99]["containment"] == 1.0 and rows[99]["matched_old_id"] == 4
    assert rows[4]["status"] == "removed"      # the vacated id reconciles
    assert rows[3]["status"] == "removed"

    assert rows[100]["status"] == "added"
    assert rows[100]["containment"] is None
    assert rows[100]["matched_old_id"] is None

    # reconciliation: every old id and every new id appears exactly once
    old_ids = {r[0] for r in old.select("doc_id").collect()}
    new_ids = {r[0] for r in new.select("doc_id").collect()}
    assert set(rows) == old_ids | new_ids
    assert len(rows) == len(old_ids | new_ids)


def test_corpus_diff_summary(spark):
    old, new = _corpora(spark)
    summ = {r["status"]: r for r in
            VER.diff_summary(VER.corpus_diff(old, new)).collect()}
    assert summ["unchanged"]["n_docs"] == 1
    assert summ["edited"]["n_docs"] == 2
    assert summ["removed"]["n_docs"] == 2
    assert summ["moved"]["n_docs"] == 1
    assert summ["added"]["n_docs"] == 1
    assert summ["added"]["mean_containment"] is None
    assert summ["moved"]["mean_containment"] == 1.0


def test_corpus_diff_duplicate_content_canonical_move(spark):
    """A moved doc whose content existed under SEVERAL old ids matches the
    smallest (deterministic canonical pick); short docs (< 3 words) still
    diff via the whole-text shingle."""
    old = spark.createDataFrame(
        [(7, "dup text"), (3, "dup text"), (9, "tiny")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(50, "dup text"), (9, "tiny bit longer")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in VER.corpus_diff(old, new).collect()}
    assert rows[50]["status"] == "moved" and rows[50]["matched_old_id"] == 3
    assert rows[9]["status"] == "edited" and rows[9]["containment"] == 0.0
    assert rows[7]["status"] == "removed" and rows[3]["status"] == "removed"


def test_embedding_drift_affine_shift(spark):
    """new = 2x + 1 elementwise over the same rows: per-dim means obey the
    exact affine identity and variances scale by 4 (population moments)."""
    import numpy as np

    rng = np.random.RandomState(3)
    X = rng.randn(300, 6)
    old = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    new = old.select(
        F.transform("embedding", lambda x: x * 2.0 + 1.0).alias("embedding")
    )
    rows = VER.embedding_drift(old, new).collect()
    assert [r["dim"] for r in rows] == list(range(6))
    for r in rows:
        assert abs(r["mean_new"] - (2.0 * r["mean_old"] + 1.0)) < 1e-9
        assert abs(r["mean_delta"] - (r["mean_new"] - r["mean_old"])) < 1e-12
        assert abs(r["var_new"] - 4.0 * r["var_old"]) < 1e-9


def test_near_moves_recovers_reid_edits(spark):
    """A doc re-identified AND edited (added+removed in the diff) re-links to
    its predecessor; truly novel additions stay unlinked; the winner is the
    highest-jaccard old doc."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    old = spark.createDataFrame(
        [(1, base),
         (2, "one two three four five six seven eight nine ten"),
         (3, base + " lambda")],  # near-twin of 1 (closer to 900's text)
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine ten"),  # unchanged
         (900, base + " lambda mu"),   # re-id of 3 (and near 1) + small edit
         (901, "completely unrelated novel content about something else")],
        "doc_id long, text string",
    )
    diff = VER.corpus_diff(old, new)
    st = {r["doc_id"]: r["status"] for r in diff.collect()}
    assert st[900] == "added" and st[901] == "added"
    assert st[1] == "removed" and st[3] == "removed"

    nm = {r["doc_id"]: r for r in
          VER.near_moves(old, new, diff, threshold=0.3).collect()}
    assert set(nm) == {900}                       # 901 is genuinely novel
    assert nm[900]["matched_old_id"] == 3         # highest jaccard wins over 1
    assert 0.3 <= nm[900]["jaccard"] < 1.0


def test_ngram_jaccard_join_cross_corpus_only(spark):
    """Pairs span the two corpora (a-side id x b-side id) and never within
    one side; threshold 0 is rejected (no all-pairs fallback across
    corpora)."""
    from lantern_extras_spark.operators.dedup import ngram_jaccard_join

    a = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],  # dup WITHIN a
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight"),
         (11, "entirely different words about query planners")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_join(a, b, threshold=0.3).collect()}
    assert set(pairs) == {(1, 10), (2, 10)}       # cross pairs only
    assert all(0.3 <= j < 1.0 for j in pairs.values())
    import pytest as _pt
    with _pt.raises(ValueError, match="threshold"):
        ngram_jaccard_join(a, b, threshold=0.0)


def test_ngram_jaccard_join_count_path_matches_full_verify(spark):
    """r14 (ADVICE): the counted-intersection default (max_df=None) and the
    full-set verification path (taken whenever max_df is set; 10**9 prunes
    no posting) must produce identical (id_a, id_b, jaccard) multisets —
    pins both shapes against drift, the way
    test_onepass_materialization_matches_recompute pins the dsir paths."""
    from lantern_extras_spark.operators.dedup import ngram_jaccard_join

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = docs.where("doc_id < 120")
    b = docs.where("doc_id >= 80 and doc_id < 240")

    def pairs(max_df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in ngram_jaccard_join(a, b, threshold=0.2, max_df=max_df).collect()
        )

    counted = pairs(None)
    full = pairs(10**9)
    assert counted, "fixture produced no pairs — threshold/slice drifted"
    assert counted == full


def test_vocab_drift_detects_injected_boilerplate(spark):
    from lantern_extras_spark.operators.versioning import vocab_drift

    base = [(i, f"alpha beta gamma w{i % 5} delta") for i in range(40)]
    old = spark.createDataFrame(base, "doc_id long, text string")
    # new snapshot: every doc gains the word 'spam' twice; 'delta' is cut
    new = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 5} spam spam") for i in range(40)],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in vocab_drift(old, new, phi=0.01).collect()}
    # spam: 0 -> 80 occurrences, the largest positive drift
    assert out["spam"]["n_old"] == 0 and out["spam"]["n_new"] == 80
    assert out["spam"]["log_ratio"] == max(r["log_ratio"] for r in out.values())
    # delta: 40 -> 0, negative drift; share_new reports exact 0
    assert out["delta"]["n_new"] == 0 and out["delta"]["share_new"] == 0.0
    assert out["delta"]["log_ratio"] < 0
    # stable tokens stay near 0 (same count, slightly different totals)
    assert abs(out["alpha"]["log_ratio"]) < 0.3
    # shares are exact ratios of the snapshot totals (200 and 240 tokens)
    assert abs(out["alpha"]["share_old"] - 40 / 200) < 1e-6
    assert abs(out["alpha"]["share_new"] - 40 / 240) < 1e-6


def test_vocab_drift_candidates_cover_both_sides(spark):
    from lantern_extras_spark.operators.versioning import vocab_drift

    old = spark.createDataFrame([(1, "aa aa aa bb")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "cc cc cc bb")], "doc_id long, text string")
    toks = {r["token"] for r in vocab_drift(old, new, phi=0.2).collect()}
    # aa heavy only in old, cc only in new, bb in both -> all three reported
    assert toks == {"aa", "bb", "cc"}


def test_corpus_diff_split_arm_matches_single_plan(spark):
    """r13: `parallelism` splits the edited arm behind a round-robin exchange
    — the row MULTISET (all four columns) must be identical to the default
    single-projection plan, and the split plan must carry the repartition."""
    old, new = _corpora(spark)
    base = VER.corpus_diff(old, new)
    split = VER.corpus_diff(old, new, parallelism=4)
    a = sorted(map(tuple, base.collect()))
    b = sorted(map(tuple, split.collect()))
    assert a == b
    assert "RoundRobinPartitioning" in split._jdf.queryExecution().executedPlan().toString()
    # edge: an edited doc whose new text is too short to shingle -> 0.0
    old2 = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    new2 = spark.createDataFrame([(1, "tiny")], "doc_id long, text string")
    r = {x["doc_id"]: x for x in VER.corpus_diff(old2, new2, parallelism=2).collect()}
    assert r[1]["status"] == "edited" and r[1]["containment"] == 0.0
