"""textstats sketch operators: KMV distinct-count, Misra-Gries heavy hitters."""

import pytest
from pyspark.sql import functions as F

def test_kmv_distinct_estimate_accuracy(spark):
    """KMV sketch: exact below k, within ~4 standard errors above k, and
    deterministic (same data -> same estimate, the cross-engine contract)."""
    from lantern_extras_spark.operators.textstats import kmv_distinct

    rows = [(f"v{i % 7}", "small") for i in range(100)]              # 7 distinct
    rows += [(f"w{i}", "big") for i in range(5000)]                  # 5000 distinct
    df = spark.createDataFrame(rows, "val string, grp string")
    out = {r["grp"]: r for r in
           kmv_distinct(df, "val", group_cols=("grp",), k=256).collect()}
    assert out["small"]["distinct_est"] == 7.0                       # exact path
    assert out["small"]["n_rows"] == 100
    est = out["big"]["distinct_est"]
    assert abs(est - 5000) / 5000 < 4.0 / (254 ** 0.5), est          # ~4 sigma
    again = {r["grp"]: r["distinct_est"] for r in
             kmv_distinct(df, "val", group_cols=("grp",), k=256).collect()}
    assert again == {g: r["distinct_est"] for g, r in out.items()}   # deterministic
    # ungrouped variant
    one = kmv_distinct(df, "val", k=256).first()
    assert one["n_rows"] == 5100 and one["distinct_est"] > 4000
    import pytest as _pt
    with _pt.raises(ValueError, match="k must be"):
        kmv_distinct(df, "val", k=2)


def test_heavy_hitters_matches_exact_groupby(spark):
    """The MG candidate pass must never change the answer: sketch output ==
    plain explode/groupBy/filter on a Zipf corpus, under a capacity small
    enough that per-partition pruning really happens."""
    import numpy as np

    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.textstats import heavy_hitters

    rng = np.random.RandomState(7)
    vocab = [f"tok{i}" for i in range(2000)]
    docs = []
    for d in range(400):
        draws = rng.zipf(1.3, size=60) % len(vocab)
        docs.append((d, " ".join(vocab[i] for i in draws)))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)

    phi = 0.005
    got = [(r["token"], r["n"], r["share"]) for r in
           heavy_hitters(df, phi=phi).collect()]

    exploded = df.select(F.explode(tokens("text")).alias("token"))
    N = exploded.count()
    exact = {r["token"]: r["n"] for r in
             exploded.groupBy("token").agg(F.count("*").alias("n"))
             .where(F.col("n") > phi * N).collect()}
    assert dict((t, n) for t, n, _ in got) == exact and exact
    # ordered n desc, token asc; shares consistent
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))
    for t, n, share in got:
        assert share == round(n / N, 6)


def test_heavy_hitters_tiny_capacity_still_complete(spark):
    """m = ceil(1/phi) is the theoretical floor — even at that floor, with
    many partitions and heavy pruning, no phi-heavy token may be lost
    (MG guarantees candidates; pass 2 removes the false positives)."""
    from lantern_extras_spark.operators.textstats import heavy_hitters

    # 3 genuinely heavy tokens buried in 500 distinct light ones
    rows = []
    rid = 0
    for tok, reps in (("alpha", 300), ("beta", 200), ("gamma", 150)):
        for _ in range(reps):
            rows.append((rid, tok)); rid += 1
    for i in range(500):
        rows.append((rid, f"rare{i}")); rid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    phi = 0.1  # N=1150 -> threshold 115; m floor = 10
    got = {r["token"]: r["n"] for r in heavy_hitters(df, phi=phi).collect()}
    assert got == {"alpha": 300, "beta": 200, "gamma": 150}

    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, phi=0.0)
    with pytest.raises(ValueError, match="m must be"):
        heavy_hitters(df, phi=0.5, m=0)


def test_heavy_hitters_grouped_matches_exact(spark):
    """group_col: per-group MG summaries + per-group exact recount equals the
    plain per-group groupBy/filter, against each group's OWN total."""
    import numpy as np

    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.textstats import heavy_hitters

    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for d in range(300):
        g = "a" if d % 3 else "b"  # unbalanced groups
        draws = rng.zipf(1.4, size=40) % len(vocab)
        rows.append((d, g, " ".join(vocab[i] for i in draws)))
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string").repartition(8)

    phi = 0.01
    got = {(r["grp"], r["token"]): r["n"] for r in
           heavy_hitters(df, phi=phi, group_col="grp").collect()}

    ex = df.select(F.col("grp"), F.explode(tokens("text")).alias("token"))
    totals = {r["grp"]: r["N"] for r in
              ex.groupBy("grp").agg(F.count("*").alias("N")).collect()}
    exact = {(r["grp"], r["token"]): r["n"] for r in
             ex.groupBy("grp", "token").agg(F.count("*").alias("n")).collect()
             if r["n"] > phi * totals[r["grp"]]}
    assert got == exact and exact
    # groups with different totals -> same token can be heavy in one group only
    assert len({g for g, _ in exact}) == 2


def test_perplexity_buckets_ordering_and_shares(spark):
    """CCNet bucketing: within each language, every head score >= every
    middle score >= every tail score (cutoffs are order statistics of the
    same score), shares land near thirds, and the operator is id-preserving."""
    from lantern_extras_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = perplexity_buckets(docs, group_col="lang", k=256).cache()
    assert out.count() == docs.count()
    pdf = out.select("lang", "lm_logprob", "ppl_bucket").toPandas()
    assert set(pdf["ppl_bucket"].unique()) == {"head", "middle", "tail"}
    for lang, g in pdf.groupby("lang"):
        h = g[g.ppl_bucket == "head"]["lm_logprob"]
        m = g[g.ppl_bucket == "middle"]["lm_logprob"]
        t = g[g.ppl_bucket == "tail"]["lm_logprob"]
        if len(h) and len(m):
            assert h.min() >= m.max(), lang
        if len(m) and len(t):
            assert m.min() >= t.max(), lang
        # sampled cutoffs: each bucket within [15%, 55%] of the group
        for part in (h, m, t):
            assert 0.15 <= len(part) / len(g) <= 0.55, (lang, len(part), len(g))
    out.unpersist()


def test_perplexity_buckets_validation_and_empty_sample(spark):
    import pyspark.sql.functions as F

    from lantern_extras_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    with pytest.raises(ValueError, match="labels"):
        perplexity_buckets(docs, probs=(0.5,), labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="strictly increasing"):
        perplexity_buckets(docs, probs=(0.7, 0.3), labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="k must be"):
        perplexity_buckets(docs, k=4)
    # an empty sample (threshold ~0 via a huge claimed n) -> NULL buckets,
    # never an empty frame and never everything-in-tail
    z = perplexity_buckets(docs, k=8, n_rows=10**9)
    assert z.count() == 20
    assert z.where(F.col("ppl_bucket").isNull()).count() == 20


def test_oov_rate_semantics(spark):
    """Known-vocab fixture: docs made of common tokens rate 0.0, pure-tail
    docs 1.0, mixed docs the exact fraction; empty docs report 0.0."""
    from lantern_extras_spark.operators.textstats import oov_rate

    common = "alpha beta gamma"
    rows = [(i, common) for i in range(20)]           # make alpha/beta/gamma the head
    rows += [(100, "alpha beta"), (101, "zz1 zz2"), (102, "alpha zz3"), (103, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["oov_rate"] for r in oov_rate(df, top_v=3).collect()}
    assert out[100] == 0.0
    assert out[101] == 1.0
    assert out[102] == 0.5
    assert out[103] == 0.0
    with pytest.raises(ValueError, match="top_v"):
        oov_rate(df, top_v=0)


def test_ngram_novelty_semantics(spark):
    from lantern_extras_spark.operators.textstats import ngram_novelty

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    tgt = spark.createDataFrame(
        [
            # full copy of a reference doc -> novelty 0
            (10, "alpha beta gamma delta epsilon"),
            # entirely new text -> novelty 1
            (11, "zeta eta theta iota kappa"),
            # 4 distinct shingles, 1 seen in ref ("beta gamma delta") -> 0.75
            (12, "beta gamma delta zz yy xx"),
            # under 3 words -> single whole-text shingle, unseen -> 1.0
            (13, "alpha beta"),
            # empty doc -> no shingles -> absent from output
            (14, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_novelty(tgt, ref, n=3).collect()}
    assert sorted(rows) == [10, 11, 12, 13]
    assert rows[10]["novelty"] == 0.0 and rows[10]["n_matched"] == rows[10]["n_ngrams"]
    assert rows[11]["novelty"] == 1.0 and rows[11]["n_matched"] == 0
    assert rows[12]["n_ngrams"] == 4 and rows[12]["n_matched"] == 1
    assert abs(rows[12]["novelty"] - 0.75) < 1e-9
    assert rows[13]["n_ngrams"] == 1 and rows[13]["novelty"] == 1.0


def test_ngram_novelty_duplicate_shingles_count_once(spark):
    from lantern_extras_spark.operators.textstats import ngram_novelty

    ref = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # "a b c" appears twice in the target; distinct shingles count it once
    tgt = spark.createDataFrame([(2, "a b c a b c")], "doc_id long, text string")
    [r] = ngram_novelty(tgt, ref, n=3).collect()
    # shingles: 'a b c' (x2), 'b c a', 'c a b' -> 3 distinct, 1 matched in ref
    assert r["n_ngrams"] == 3 and r["n_matched"] == 1
    assert abs(r["novelty"] - (1.0 - 1.0 / 3.0)) < 1e-6


def test_domain_keywords_semantics(spark):
    from lantern_extras_spark.operators.textstats import domain_keywords

    df = spark.createDataFrame(
        [
            (1, "sports", "goal goal goal match the the"),
            (2, "sports", "match goal team"),
            (3, "finance", "stock stock bond the the"),
            (4, "finance", "bond yield the"),
        ],
        "doc_id long, source string, text string",
    )
    out = domain_keywords(df, k=2, round_dp=6).collect()
    top = {r["source"]: [] for r in out}
    for r in sorted(out, key=lambda r: (r["source"], r["rank"])):
        top[r["source"]].append(r["term"])
    # 'the' appears in both groups -> ln(2/2)=0 -> never a keyword;
    # group-exclusive high-tf terms dominate
    assert top["sports"][0] == "goal"
    # stock and bond tie at tf=2 (both finance-exclusive) -> term-asc tie-break
    assert top["finance"] == ["bond", "stock"]
    assert all("the" not in v for v in top.values())
    # exact counts surface: goal tf=4 over 9 sports tokens, seen in 1 group
    g = {(r["source"], r["term"]): r for r in out}
    assert g[("sports", "goal")]["tf"] == 4
    assert g[("sports", "goal")]["grp_tokens"] == 9
    assert g[("sports", "goal")]["df_g"] == 1
    assert all(r["rank"] <= 2 for r in out)


def test_tokenizer_fertility_semantics(spark):
    from lantern_extras_spark.operators.textstats import tokenizer_fertility

    df = spark.createDataFrame(
        [
            # 2 words; BPE-ish: "don" "'" "t" "panic" = 4 pre-tokens; 10 non-ws chars
            (1, "en", "don't panic"),
            # 1 word of pure letters -> 1 pre-token, 5 chars
            (2, "en", "hello"),
            # empty group -> zero denominators report 0.0
            (3, "empty", "   "),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r["lang"]: r for r in tokenizer_fertility(df).collect()}
    en = out["en"]
    assert en["n_docs"] == 2 and en["total_words"] == 3
    assert en["total_bpe_tokens"] == 5 and en["total_chars"] == 15
    assert abs(en["fertility"] - 5 / 3) < 1e-6
    assert abs(en["chars_per_token"] - 3.0) < 1e-6
    assert out["empty"]["fertility"] == 0.0
    assert out["empty"]["chars_per_token"] == 0.0


# ---------------------------------------------------------------------------
# Keyword-seeded topic labeling + distinct-n diversity
# ---------------------------------------------------------------------------


def test_label_by_keywords_argmax_and_default(spark):
    from lantern_extras_spark.operators.textstats import label_by_keywords

    df = spark.createDataFrame(
        [
            (1, "the shuffle moves data between partitions shuffle shuffle"),
            (2, "an embedding vector model for search"),
            (3, "nothing relevant whatsoever"),
            (4, "shuffle and embedding together but shuffle twice shuffle"),
        ],
        "doc_id bigint, text string",
    )
    labels = {"exec": ("shuffle", "partition"), "ml": ("embedding", "vector", "model")}
    out = {r["doc_id"]: r for r in label_by_keywords(df, labels).collect()}
    assert out[1]["label"] == "exec" and out[1]["label_score"] > 0
    assert out[2]["label"] == "ml"
    assert out[3]["label"] == "other" and out[3]["label_score"] == 0.0
    assert out[4]["label"] == "exec"  # 3 shuffle hits outweigh 1 embedding hit


def test_label_by_keywords_idf_downweights_ubiquitous_seeds(spark):
    from lantern_extras_spark.operators.textstats import label_by_keywords

    # 'common' appears in every doc -> idf ln(N/(N+1)) < 0 -> clamped to 0,
    # so the discriminative seed decides even against more raw hits
    rows = [(i, "common common common rare" if i == 0 else "common filler")
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    labels = {"a": ("common",), "b": ("rare",)}
    out = {r["doc_id"]: r["label"] for r in label_by_keywords(df, labels).collect()}
    assert out[0] == "b"


def test_label_by_keywords_tiebreak_and_validation(spark):
    from lantern_extras_spark.operators.textstats import label_by_keywords

    df = spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
    # identical scores -> lexicographically smaller label wins
    out = label_by_keywords(df, {"zzz": ("alpha",), "aaa": ("beta",)}).collect()[0]
    assert out["label"] == "aaa"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        label_by_keywords(df, {})
    with _pytest.raises(ValueError):
        label_by_keywords(df, {"x": ()})


def test_distinct_ngram_ratio_known_values(spark):
    from lantern_extras_spark.operators.textstats import distinct_ngram_ratio

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a a a")], "doc_id bigint, text string"
    )
    out = {r["n"]: r for r in distinct_ngram_ratio(df, (1, 2)).collect()}
    # unigrams: 8 occurrences, 2 distinct
    assert out[1]["total_ngrams"] == 8 and out[1]["distinct_ngrams"] == 2
    assert out[1]["distinct_ratio"] == 0.25
    # bigrams: doc1 -> [a b, b a, a b], doc2 -> [a a]x3: 6 occurrences, 3 distinct
    assert out[2]["total_ngrams"] == 6 and out[2]["distinct_ngrams"] == 3
    assert out[2]["distinct_ratio"] == 0.5


def test_distinct_ngram_ratio_duplication_craters_diversity(spark):
    from lantern_extras_spark.operators.textstats import distinct_ngram_ratio

    uniq = spark.createDataFrame(
        [(i, f"tok{4*i} tok{4*i+1} tok{4*i+2} tok{4*i+3}") for i in range(50)],
        "doc_id bigint, text string",
    )
    duped = spark.createDataFrame(
        [(i, "same four tokens here") for i in range(50)],
        "doc_id bigint, text string",
    )
    r_u = distinct_ngram_ratio(uniq, (3,)).collect()[0]["distinct_ratio"]
    r_d = distinct_ngram_ratio(duped, (3,)).collect()[0]["distinct_ratio"]
    assert r_u > 0.9 > 0.1 > r_d


def test_distinct_ngram_ratio_per_group_and_validation(spark, docs):
    from lantern_extras_spark.operators.textstats import distinct_ngram_ratio

    out = distinct_ngram_ratio(docs, (1,), group_col="lang").collect()
    langs = {r["lang"] for r in out}
    assert langs == {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert all(0 < r["distinct_ratio"] <= 1 for r in out)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        distinct_ngram_ratio(docs, ())


def test_normalize_unicode_nfc_and_validation(spark):
    from lantern_extras_spark.functions.text import normalize_unicode
    import unicodedata

    decomposed = "café naïve"
    df = spark.createDataFrame([(1, decomposed), (2, None), (3, "plain")],
                               "doc_id bigint, text string")
    out = {r["doc_id"]: r["norm"] for r in
           df.select("doc_id", normalize_unicode("text").alias("norm")).collect()}
    assert out[1] == unicodedata.normalize("NFC", decomposed)
    assert len(out[1]) == len(decomposed) - 2  # both combining marks fused
    assert out[2] is None and out[3] == "plain"
    # NFKD splits compatibility chars too
    from pyspark.sql import functions as F
    kd = df.where("doc_id = 1").select(
        normalize_unicode("text", form="NFKD").alias("n")).collect()[0]["n"]
    assert len(kd) == len(decomposed)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        normalize_unicode("text", form="XYZ")


def test_pii_stats_counts_and_validation(spark):
    from lantern_extras_spark.operators.textstats import pii_stats

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and 10.0.0.1 and +1 555-123-4567 twice c@d.org"),
            (2, "clean text with no pii at all"),
            (3, "call 555-123-4567 or 555.987.6543"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in pii_stats(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (2, 1, 1)
    assert out[1]["pii_total"] == 4
    assert out[2]["pii_total"] == 0
    assert out[3]["n_phone"] == 2 and out[3]["n_email"] == 0
    # kinds subset only counts what was asked
    sub = pii_stats(df, kinds=("email",)).columns
    assert "n_email" in sub and "n_phone" not in sub
    import pytest as _pt
    with _pt.raises(ValueError):
        pii_stats(df, kinds=("ssn",))


def test_code_stats_starcoder_screen(spark):
    from lantern_extras_spark.operators.textstats import code_stats

    good = "def f(x):\n    return x + 1\n\nprint(f(2))"
    long_line = "x = 1" + " " * 1200 + "# pad"
    binary_ish = "deadbeefcafebabe" * 40  # hex blob, no alpha structure
    rows = [(1, good), (2, long_line), (3, binary_ish), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in code_stats(df).collect()}
    assert got[1]["starcoder_keep"] and got[1]["n_lines"] == 4
    assert got[1]["max_line_len"] == len("    return x + 1")
    assert not got[2]["starcoder_keep"]  # max_line_len > 1000
    assert got[3]["hex_frac"] > 0.9 and got[3]["alnum_frac"] > 0.9
    assert got[4]["n_lines"] == 1 and got[4]["avg_line_len"] == 0.0
    assert not got[4]["starcoder_keep"]  # alnum_frac 0
    assert got[5]["n_lines"] == 1  # NULL coalesced to ''


def test_label_by_keywords_literal_matches_join_path(spark, docs, monkeypatch):
    """r14: the literal fast path (one stats agg + one shuffle-free
    projection) must equal the explode->broadcast-join shape EXACTLY —
    same labels, same rounded scores, same default/tie semantics."""
    from lantern_extras_spark.operators import textstats as TS
    from lantern_extras_spark.operators.textstats import label_by_keywords

    labels = {
        "exec": ("shuffle", "partition", "join", "scan"),
        "ml": ("vector", "embedding", "model", "index"),
    }
    # corner rows: no-hit doc -> default; doc hitting ONLY a zero-idf keyword
    # still gets that label with score 0.0 (NOT the default); ties break to
    # the lexicographically smaller label; null/empty text -> default
    extra = spark.createDataFrame(
        [
            (9001, "nothing relevant here at all"),
            (9002, "zebra zebra zebra"),
            (9003, ""),
            (9004, None),
            (9005, "join vector join vector"),
        ],
        "doc_id long, text string",
    )
    base = docs.select("doc_id", "text").unionByName(extra)
    lit_rows = sorted(map(tuple, label_by_keywords(base, labels).collect()))
    monkeypatch.setattr(TS, "KWLBL_LIT_MAX_KW", 0)  # the join path
    join_rows = sorted(map(tuple, label_by_keywords(base, labels).collect()))
    assert lit_rows == join_rows
    got = {r[0]: r for r in lit_rows}
    # default for hitless/empty/null docs, real label for scored docs
    assert got[9001][-2] == "other" and got[9001][-1] == 0.0
    assert got[9003][-2] == "other" and got[9004][-2] == "other"
    assert got[9005][-2] in ("exec", "ml") and got[9005][-1] > 0.0


def test_label_by_keywords_literal_respects_dict_size_gate(spark, monkeypatch):
    """Dictionaries above KWLBL_LIT_MAX_KW keep the join shape (the literal
    expression would bloat codegen); outputs stay equal."""
    from lantern_extras_spark.operators import textstats as TS
    from lantern_extras_spark.operators.textstats import label_by_keywords

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    labels = {"a": ("alpha", "beta"), "d": ("delta",)}
    lit = sorted(map(tuple, label_by_keywords(df, labels).collect()))
    monkeypatch.setattr(TS, "KWLBL_LIT_MAX_KW", 1)  # 3 keywords: join path
    gated = sorted(map(tuple, label_by_keywords(df, labels).collect()))
    assert gated == lit
