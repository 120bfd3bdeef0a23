"""Deterministic sampling and dataset splitting for training-data pipelines.

Real pipelines need *reproducible* splits and samples: the same document must
land in the same split on every run, every engine, every cluster size — which
rules out RNG (`rand()` depends on partitioning) and ORDER BY RANDOM. Both
operators key off the engine-portable `hash32` (functions/hashing.py), so the
DuckDB oracle replays them bit-for-bit and a re-run years later agrees.

Scale shape: both are pure projections + (for stratified_take) one window over
the group key — no driver state, no RNG broadcast, no skew beyond the group
cardinalities themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.functions.hashing import hash32
from lantern_extras_spark.session import local_frame

# hash32 is uniform over [0, 2^32); buckets of 1/10000 give 0.01% split grain
SPLIT_BUCKETS = 10_000


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
    key_col: str | None = None,
) -> DataFrame:
    """Assign a deterministic split label per row: bucket = hash32(salt:key) %
    SPLIT_BUCKETS, mapped to labels by cumulative fraction (dict order).
    Fractions must sum to ≤ 1; any remainder falls into the LAST label.

    The salt namespaces independent splits of the same corpus (e.g. a second
    experiment re-splits without correlation to the first). `key_col`
    overrides the hashed key (default: the id) — rows sharing a key land in
    the same split, which is how `leakage_safe_split` routes whole near-dup
    clusters into one split.
    """
    splits = splits or {"train": 0.9, "eval": 0.05, "test": 0.05}
    if any(v < 0 for v in splits.values()) or sum(splits.values()) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must be ≥ 0 and sum ≤ 1: {splits}")
    bucket = hash32(
        F.concat_ws(":", F.lit(salt), F.col(key_col or id_col).cast("string"))
    ) % SPLIT_BUCKETS
    labels = list(splits)
    cum = 0.0
    expr = None
    for name, frac in splits.items():
        cum += frac
        hi = int(round(cum * SPLIT_BUCKETS))
        cond = bucket < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr.otherwise(F.lit(labels[-1])))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
    key_out_col: str = "split_key",
) -> DataFrame:
    """Leakage-safe train/eval/test split: near-duplicate CLUSTERS land in
    exactly one split. A plain per-doc `hash_split` puts two near-copies of
    the same page on opposite sides of the train/test boundary ~2·p·(1−p) of
    the time — the eval set then scores memorization, the exact failure
    train/test hygiene exists to prevent. Here the split key is the doc's
    near-dup cluster id (connected components over `pairs`, min-id label —
    `dedup_clusters`), falling back to the doc's own id for singletons, so
    every member of a cluster hashes identically.

    `pairs` is any (id_a, id_b) near-dup pair frame (minhash_dedup,
    simhash_pairs, ngram_jaccard_pairs, embedding_neardup_pairs — or a union).
    Adds `key_out_col` (the audited split key) and `out_col`.

    Scale shape: dedup_clusters' O(diameter) label propagation over the pair
    graph (pairs only — never corpus-sized), one equi-join back to the corpus
    on id, then the same zero-shuffle hash bucketing as `hash_split`.
    """
    from lantern_extras_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(pairs).select(
        F.col("id").alias(id_col), F.col("cluster_id")
    )
    keyed = (
        df.join(clusters, id_col, "left")
        .withColumn(
            key_out_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("string"),
        )
        .drop("cluster_id")
    )
    return hash_split(keyed, id_col=id_col, splits=splits, salt=salt,
                      out_col=out_col, key_col=key_out_col)


def split_contamination_report(
    df: DataFrame,
    pairs: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    summary: bool = False,
) -> DataFrame:
    """Audit a train/eval/test split for near-duplicate leakage — the
    verification twin of `leakage_safe_split`: given the split-labeled
    corpus (`df` carries `split_col`) and a near-dup pair set
    (id_a, id_b, jaccard) from any dedup family, report every pair whose
    endpoints landed in DIFFERENT splits. A naive per-doc `hash_split`
    scatters near-copies across the boundary (test answers leak into
    train); `leakage_safe_split` routes whole clusters together, and this
    report returning ZERO rows is the checkable proof — run it as the
    release gate before shipping a split.

    Returns (id_a, split_a, id_b, split_b, jaccard) ordered (id_a, id_b);
    `summary=True` aggregates to one row per (split_a, split_b) crossing:
    (split_a, split_b, n_pairs, max_jaccard).

    Scale shape: two id equi-joins of the pair set against a narrow
    (id, split) projection — cost follows the PAIR count, never corpus²;
    the corpus side is scanned once per side with only two columns read.
    """
    sa = df.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a"))
    sb = df.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b"))
    crossing = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
    )
    if summary:
        return (
            crossing.groupBy("split_a", "split_b")
            .agg(
                F.count("*").cast("bigint").alias("n_pairs"),
                F.max("jaccard").alias("max_jaccard"),
            )
            .orderBy("split_a", "split_b")
        )
    return crossing.select("id_a", "split_a", "id_b", "split_b", "jaccard").orderBy(
        "id_a", "id_b"
    )


def stratified_take(
    df: DataFrame,
    group_cols: tuple[str, ...],
    n_per_group: int,
    id_col: str = "doc_id",
    salt: str = "sample",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Deterministic per-group sample: rank rows inside each group by
    hash32(salt:id) (id tie-break for hash collisions), keep the first
    `n_per_group`. The balanced-mixture primitive ("3 docs per (lang, source)")
    — reproducible across engines and runs, unlike `sampleBy`."""
    h = hash32(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n_per_group)
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    n_buckets: int = 64,
    salt: str = "pack",
    counter: str = "ws",
    merges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Deterministic sequence packing — assign documents to fixed-token-budget
    bins (the pre-training batch-construction step: concatenate docs until the
    context window is full, start the next sequence).

    Contiguous-prefix formulation: docs are ordered deterministically inside
    `n_buckets` hash buckets (order = (hash32(salt:id), id) — effectively a
    seeded shuffle, reproducible across runs/engines/cluster sizes), then
    bin = floor(exclusive_prefix_tokens / max_tokens). A bin averages
    `max_tokens` whitespace tokens; a doc longer than the budget simply spans
    multiple budget units instead of being dropped. Empty docs count 0 tokens
    and ride along.

    Returns (id_col, n_tokens, bucket, bin, pos) — pos is the doc's position
    within its (bucket, bin) sequence, ready for a groupBy concat or a
    per-bin tokenizer pass.

    Scale shape: one projection (hash, token count), one shuffle on bucket,
    one window cumsum per bucket — bins never materialize as driver state,
    and bucket count sets the parallelism (use executors×4 at scale)."""
    from lantern_extras_spark.functions.text import bpe_ish_token_count, token_count

    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if counter not in ("ws", "bpe", "exact"):
        raise ValueError(f"unknown counter {counter!r} (ws/bpe/exact)")
    # counter="bpe" budgets by BPE-ish pre-tokens — much closer to a real
    # tokenizer's count than whitespace words (code/punct-heavy docs consume
    # ~2-3x their word count in BPE tokens); "ws" stays the oracle default.
    # counter="exact" budgets by TRUE byte-level BPE token counts under a
    # merge table (pass `merges` from functions.bpe.train_bpe_on_corpus for
    # a corpus-trained vocab; None = the committed mini-vocab) — the
    # reference's exact-token accounting posture (text_embedding_test.rs:88)
    # carried into packing: every bin budget is the count the tokenizer
    # will actually produce. Arrow-batched pandas UDF, one encoder instance
    # per vocab per executor.
    if counter == "exact":
        from lantern_extras_spark.functions.bpe import bpe_token_count_col

        def count_fn(c):
            return bpe_token_count_col(c, merges=merges)
    else:
        count_fn = token_count if counter == "ws" else bpe_ish_token_count
    base = df.select(
        F.col(id_col),
        count_fn(F.col(text_col)).cast("long").alias("n_tokens"),
        (hash32(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
         % n_buckets).cast("int").alias("bucket"),
        hash32(F.concat(F.lit(f"{salt}#"), F.col(id_col).cast("string"))).alias("__ord"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("__ord").asc(), F.col(id_col).asc())
    prefix = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    binned = base.withColumn("bin", F.floor(prefix / max_tokens).cast("long"))
    wpos = Window.partitionBy("bucket", "bin").orderBy(F.col("__ord").asc(), F.col(id_col).asc())
    return binned.withColumn("pos", F.row_number().over(wpos).cast("long")).select(
        id_col, "n_tokens", "bucket", "bin", "pos"
    )


def pack_sequences_concat(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    n_buckets: int = 64,
    salt: str = "pack",
    sep: str = " ",
    counter: str = "ws",
    merges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Materialize the packed training sequences as DATA (the last pipeline
    stage `pack_sequences` leaves as metadata): one row per (bucket, bin) with
    the member doc ids in pack order and their texts concatenated with `sep`.

    Returns (bucket, bin, n_docs, n_tokens, doc_ids array<id>, text) — `text`
    is the ready-to-tokenize training sequence, `n_tokens` its whitespace
    token total (~max_tokens by construction; a single over-budget doc makes
    an over-budget sequence rather than being truncated — truncation is the
    tokenizer's decision, not the packer's).

    Scale shape: the `pack_sequences` assignment plan (one bucket shuffle +
    window cumsum), an id equi-join back to the text, then ONE groupBy on
    (bucket, bin). Each group holds ~max_tokens tokens of text by
    construction, so `collect_list` per group is bounded regardless of corpus
    size; order inside the group is restored with `array_sort` on
    (pos, …) structs — no window, no driver involvement, parallelism =
    number of (bucket, bin) groups."""
    asg = pack_sequences(df, text_col, id_col, max_tokens, n_buckets, salt,
                         counter=counter, merges=merges)
    joined = asg.join(df.select(F.col(id_col), F.col(text_col)), id_col)
    # pos is unique within (bucket, bin), so struct sort order == pack order
    docs = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col(id_col).alias("__id"),
                                F.col("n_tokens"), F.col(text_col).alias("__t")))
    )
    return (
        joined.groupBy("bucket", "bin")
        .agg(docs.alias("__docs"))
        .select(
            "bucket",
            "bin",
            F.size("__docs").cast("long").alias("n_docs"),
            F.aggregate(
                "__docs", F.lit(0).cast("long"), lambda a, d: a + d["n_tokens"]
            ).alias("n_tokens"),
            F.transform("__docs", lambda d: d["__id"]).alias("doc_ids"),
            F.concat_ws(sep, F.transform("__docs", lambda d: d["__t"])).alias(text_col),
        )
    )


def quota_sample(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source",),
    token_budget: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "quota",
) -> DataFrame:
    """Per-group token-budget cap — "at most ~N tokens from each domain", the
    standard per-source quota of corpus construction. Docs inside each group
    are ordered by the seeded hash (a reproducible shuffle, so the kept subset
    is unbiased w.r.t. any corpus ordering); a doc is kept while the tokens
    BEFORE it are under the budget, so the doc that crosses the line is the
    last one kept (≥1 doc per non-empty group, overshoot < one doc — the
    convention that never emits an empty group).

    Returns kept rows with `n_tokens`, `cum_tokens` (inclusive), and
    `quota_rank` appended. Scale shape: one projection (hash + token count),
    one window cumsum per group — same shape as `pack_sequences`, no driver
    state; group cardinality sets the skew ceiling.
    """
    from lantern_extras_spark.functions.text import token_count

    if token_budget < 1:
        raise ValueError("token_budget must be >= 1")
    h = hash32(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    base = df.withColumn("n_tokens", token_count(F.col(text_col)).cast("long")).withColumn(
        "__ord", h
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("__ord").asc(), F.col(id_col).asc())
    prefix = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        base.withColumn("__prefix", prefix)
        .withColumn("quota_rank", F.row_number().over(w))
        .where(F.col("__prefix") < token_budget)
        .withColumn("cum_tokens", F.col("__prefix") + F.col("n_tokens"))
        .drop("__ord", "__prefix")
    )


def sampled_percentiles(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    id_col: str = "doc_id",
    k: int = 4096,
    salt: str = "qsample",
    n_rows: int | None = None,
) -> DataFrame:
    """Deterministic sampled quantiles — the third engine-portable sketch
    next to KMV (distinct counts) and Misra-Gries (frequencies): an exact
    quantile needs a full sort (or `percentile`'s full-column aggregation
    buffer); at corpus scale a ~k-row uniform sample answers the same
    question with rank error ~√(q(1-q)/k) (~0.8% of rank at k=4096,
    q=0.5).

    Determinism is the point: rows are kept where
    hash32(salt:id) < (k/n)·2³² — a uniform ROW sample keyed on the id (NOT
    on the value: hashing the value would keep or drop all duplicates of a
    value together, biasing the sample by value multiplicity). Same data →
    same sample → same estimates, on any engine, any partitioning, any
    rerun — so the DuckDB oracle replays the whole sketch bit-for-bit, which
    no RNG-based `sample()` can do.

    Estimator: discrete lower quantile over the sample — the value at rank
    ceil(q·m) of the sample sorted by (value, id). When n ≤ k the sample is
    the corpus and the result is the EXACT discrete quantile (the KMV
    convention: estimation only ever kicks in past the sketch budget).

    Output: one row per prob — (prob, estimate, n_sample, n_rows), ordered
    by prob. Empty input → empty output.

    Scale shape: corpus side is ONE narrow hash-filter projection (no
    shuffle, no aggregation buffer over n rows); the global sort window runs
    over the ≤~k sample only. Pass `n_rows` to skip the count job when the
    caller already knows it.
    """
    if not probs or any(not (0.0 < q <= 1.0) for q in probs):
        raise ValueError(f"probs must be in (0, 1]: {probs}")
    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    n = n_rows if n_rows is not None else df.count()
    # same double arithmetic the SQL replay does: least(1, k/n) * 2^32
    thresh = min(1.0, float(k) / max(n, 1)) * 4294967296.0
    h = hash32(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    sample = df.select(
        F.col(value_col).alias("__v"), F.col(id_col).alias("__id")
    ).where(h.cast("double") < F.lit(thresh))
    w = Window.orderBy(F.col("__v").asc(), F.col("__id").asc())
    ranked = sample.withColumn("__rn", F.row_number().over(w))
    m = sample.agg(F.count("*").alias("__m"))
    qdf = local_frame(
        df.sparkSession, [(float(q),) for q in sorted(probs)], "prob double"
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(qdf),
            F.col("__rn")
            == F.greatest(F.lit(1), F.ceil(F.col("prob") * F.col("__m"))),
        )
        .select(
            "prob",
            F.col("__v").alias("estimate"),
            F.col("__m").alias("n_sample"),
            F.lit(n).cast("bigint").alias("n_rows"),
        )
        .orderBy("prob")
    )


def mixture_order(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "order",
    out_col: str = "order_key",
) -> DataFrame:
    """Deterministic mixture-interleaved training order: attach a sort key
    such that EVERY prefix of the key-sorted stream carries the sources in
    proportion to `n_s·w_s` — the batch-level data-mixing primitive that
    turns `mixture_weights`' per-source weights into an actual training
    stream (a per-source shuffle followed by concatenation would feed the
    model one domain at a time; interleaving is what mixtures mean).

    Key = u / w_s where u = hash32(salt:id)/2³² is the row's deterministic
    uniform draw and w_s the row's source weight: P(key ≤ t) = min(1, t·w_s),
    so any key-prefix holds each source in proportion to n_s·w_s — the
    low-discrepancy interleave falls out of the hash with no global rank, no
    RNG, and no coordination. Rows whose source has weight ≤ 0 (or no entry)
    are dropped, mirroring `resample_mixture`.

    No shuffle happens here at all — the ORDER is the key column; writers
    realize it with `repartitionByRange(out_col)` +
    `sortWithinPartitions(out_col)` (one range shuffle, the distributed way
    to materialize a global order — a driver-side row_number would be the
    anti-pattern). Rerun-stable and engine-replayable like every sampler in
    this module.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {group: weight} dict")
    if any(v < 0 for v in weights.values()):
        raise ValueError("weights must be >= 0")
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    w = F.coalesce(wmap[F.col(group_col)], F.lit(0.0))
    u = (
        hash32(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))).cast("double")
        / F.lit(4294967296.0)
    )
    return df.where(w > 0).withColumn(out_col, u / w)


def mixture_weights(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture diagnosis: per-group token counts, actual corpus share,
    target share, and the resampling weight (`target_share / actual_share`)
    that moves the mixture to `target` (the Pile/DoReMi-style static
    reweighting primitive). Groups absent from `target` get weight 0.0 —
    `resample_mixture` drops them.

    Returns one row per group: (group_col, n_docs, n_tokens, actual_share,
    target_share, weight). Group-count-sized output; one aggregation shuffle.
    """
    if not target:
        raise ValueError("target must be a non-empty {group: share} dict")
    if any(v < 0 for v in target.values()):
        raise ValueError("target shares must be >= 0")
    from lantern_extras_spark.functions.text import token_count
    from lantern_extras_spark.functions.portable import pround

    counts = (
        df.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(token_count(F.col(text_col))).cast("bigint").alias("n_tokens"),
        )
    )
    total = counts.agg(F.sum("n_tokens").alias("__total"))
    tmap = F.create_map(*[F.lit(x) for kv in target.items() for x in kv])
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("actual_share", pround(F.col("n_tokens") / F.col("__total"), 8))
        .withColumn("target_share", F.coalesce(tmap[F.col(group_col)], F.lit(0.0)))
        .withColumn(
            "weight",
            pround(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.col("target_share") * F.col("__total") / F.col("n_tokens")
                ),
                8,
            ),
        )
        .select(group_col, "n_docs", "n_tokens", "actual_share", "target_share", "weight")
    )


def resample_mixture(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Materialize the reweighted corpus: each row is emitted
    `floor(weight) + Bernoulli(frac(weight))` times, with the Bernoulli drawn
    deterministically from the seeded hash (same doc → same decision, every
    run/engine). weight > 1 oversamples (duplicate rows distinguished by
    `copy` = 1..n), weight < 1 undersamples, weight 0 (group not in `target`)
    drops the group. In expectation the output token mixture equals `target`
    and total size is preserved when the shares sum to 1.

    Scale shape: the group-count-sized weight table broadcasts onto the scan;
    copies come from `explode` over a 1..n_copies array — rows with
    n_copies = 0 explode an empty array and vanish (NB: Spark's
    `sequence(1, 0)` DESCENDS to [1, 0], so the zero case is guarded
    explicitly), nothing is shuffled for the resample itself.
    """
    wtab = mixture_weights(df, target, group_col, text_col).select(
        group_col, "weight"
    )
    # hash32 is uniform on [0, 2^32): frac-part Bernoulli via threshold
    u = hash32(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))) / F.lit(
        float(2**32)
    )
    n_copies = (
        F.floor(F.col("weight")).cast("int")
        + F.when(u < (F.col("weight") - F.floor(F.col("weight"))), 1).otherwise(0)
    )
    return (
        df.join(F.broadcast(wtab), group_col)
        .withColumn("__n", n_copies)
        .withColumn(
            "copy",
            F.explode(
                F.when(F.col("__n") >= 1, F.sequence(F.lit(1), F.col("__n")))
                .otherwise(F.array().cast("array<int>"))
            ),
        )
        .drop("__n", "weight")
    )


def mixture_plan(
    df: DataFrame,
    target: dict[str, float],
    max_epochs: float = 4.0,
    group_col: str = "source",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Epoch-capped mixture sizing: the largest training corpus the available
    data supports at the `target` mixture when no group may repeat more than
    `max_epochs` times (repeating data beyond a few epochs has sharply
    diminishing returns — the data-constrained-scaling budget question:
    "how many tokens can we actually train on at this mixture?").

    Math: with n_g tokens available and target share t_g, a total budget T
    demands T*t_g tokens of group g, i.e. T*t_g <= n_g*max_epochs for every
    g — so T = min over target groups of n_g*max_epochs/t_g. The group
    achieving the min is the binding constraint (epochs == max_epochs);
    every other group trains fewer epochs than the cap.

    Returns one row per group present in the corpus: (group_col, n_tokens,
    target_share, planned_tokens, epochs, binding). Groups not in `target`
    get share 0 / planned 0 / binding false; target groups missing from the
    corpus contribute no constraint (there is nothing to repeat) and are
    absent from the output.

    Scale shape: one aggregation shuffle to group-count-sized rows, then a
    broadcast scalar cross join — same execution skeleton as
    `mixture_weights`; the min runs over the already-reduced group table.
    """
    if not target:
        raise ValueError("target must be a non-empty {group: share} dict")
    if any(v < 0 for v in target.values()):
        raise ValueError("target shares must be >= 0")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    from lantern_extras_spark.functions.portable import pround
    from lantern_extras_spark.functions.text import token_count

    counts = df.groupBy(group_col).agg(
        F.sum(token_count(F.col(text_col))).cast("bigint").alias("n_tokens")
    )
    tmap = F.create_map(*[F.lit(x) for kv in target.items() for x in kv])
    j = counts.withColumn(
        "target_share", F.coalesce(tmap[F.col(group_col)], F.lit(0.0))
    )
    me = F.lit(float(max_epochs))
    demand_cap = F.col("n_tokens") * me / F.col("target_share")
    lim = (
        j.where((F.col("target_share") > 0) & (F.col("n_tokens") > 0))
        .agg(F.min(demand_cap).alias("__T"))
    )
    active = F.col("target_share") > 0
    planned = F.when(active, F.floor(F.col("__T") * F.col("target_share"))).otherwise(
        F.lit(0)
    ).cast("bigint")
    epochs = F.when(
        active & (F.col("n_tokens") > 0),
        pround(F.col("__T") * F.col("target_share") / F.col("n_tokens"), round_dp),
    ).otherwise(F.lit(0.0))
    binding = F.when(active, demand_cap == F.col("__T")).otherwise(F.lit(False))
    return (
        j.crossJoin(F.broadcast(lim))
        .select(
            group_col,
            "n_tokens",
            "target_share",
            planned.alias("planned_tokens"),
            epochs.alias("epochs"),
            binding.alias("binding"),
        )
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, weight every document
    by 1/|its near-dup cluster| so each duplicated content unit contributes
    exactly one document's worth of training mass (the loss-reweighting
    alternative to hard dedup — keeps phrasing diversity across the copies
    while removing the frequency bias that makes models memorize duplicated
    text). Singletons keep weight 1.0; the weights of a cluster always sum
    to 1.0.

    `pairs` is any (id_a, id_b) near-dup pair frame (minhash_dedup,
    simhash_pairs, embedding_neardup_pairs, or a union) — identical contract
    to `leakage_safe_split`, and the same scale shape: O(diameter) label
    propagation over pairs only, one cluster-size aggregation (cluster-count
    sized), one equi-join back to the corpus.

    Adds (cluster_id, cluster_size, sample_weight) to `df`'s rows.
    """
    from lantern_extras_spark.functions.portable import pround
    from lantern_extras_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(pairs).select(
        F.col("id").alias(id_col), F.col("cluster_id")
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    keyed = (
        df.join(clusters, id_col, "left")
        .join(sizes, "cluster_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn(
            "cluster_size", F.coalesce(F.col("cluster_size"), F.lit(1)).cast("bigint")
        )
    )
    w = 1.0 / F.col("cluster_size").cast("double")
    if round_dp is not None:
        w = pround(w, round_dp)
    return keyed.withColumn("sample_weight", w)


def weighted_reservoir(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
    seed: str = "wres",
    round_dp: int = 9,
) -> DataFrame:
    """Weighted sampling without replacement — Efraimidis & Spirakis (2006)
    A-ES: each row gets key ln(u)/w with u = hash-derived uniform in (0,1);
    the n largest keys are EXACTLY a weight-proportional draw without
    replacement (the one-pass "weighted reservoir" construction). The
    training-pipeline use: sample documents proportional to token count /
    quality weight / soft-dedup mass in one distributed pass, reproducibly —
    the hash-derived u makes the draw a pure function of (id, seed), so
    reruns, retried stages, and the SQL oracle pick the identical sample.

    Rows with null or non-positive weight are excluded (they have zero
    selection probability in the A-ES model).

    `round_dp` makes the keys engine-replayable; pick it so the quantum
    10^-round_dp is far below 1/max(weight) — keys live in (-inf, 0) with
    magnitude ~1/w, so rounding at a coarser scale than the key spread
    collapses near-ties onto the deterministic id tiebreak (still a valid
    sample, but biased toward small ids among collided keys).

    Scale shape: global draws execute as TakeOrderedAndProject (partial
    top-n per partition, n*P rows to the driver-side merge — no global sort,
    no single-reducer ranking window). With `group_col`, a per-group window
    rank caps each group at n — fine when groups are many and bounded (the
    quota_sample posture); keys are rounded (`round_dp`) with an id tiebreak
    so ranking is total and engine-replayable.
    """
    from lantern_extras_spark.functions.hashing import HASH32_SPACE
    from lantern_extras_spark.functions.portable import pround

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.col(weight_col).cast("double")
    u = (hash32(F.col(id_col).cast("string"), seed=seed) + F.lit(0.5)) / F.lit(
        HASH32_SPACE
    )
    base = df.where(w.isNotNull() & (w > 0)).withColumn(
        "res_key", pround(F.log(u) / w, round_dp)
    )
    if group_col is None:
        return base.orderBy(F.col("res_key").desc(), F.col(id_col).asc()).limit(n)
    rank = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.col("res_key").desc(), F.col(id_col).asc()
        )
    )
    return base.withColumn("__rk", rank).where(F.col("__rk") <= n).drop("__rk")


def temperature_weights(
    df: DataFrame,
    alpha: float,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-smoothed mixture weights — the multilingual-training
    exponent trick (XLM-R sec 3.1; mBERT's exponent-0.7 sampling): sampling
    share q_g proportional to p_g^alpha where p_g is the group's token share.
    alpha=1 keeps the natural mixture; alpha->0 approaches uniform over
    groups; the per-doc resampling factor is weight = q_g/p_g, so
    low-resource groups are up-sampled smoothly instead of via hand-set
    targets (`mixture_weights`' static dict).

    Returns one row per group: (group_col, n_docs, n_tokens, actual_share,
    temp_share, weight). Group-count-sized output; one aggregation shuffle +
    broadcast scalars — corpus size only touches the narrow token-count scan.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    from lantern_extras_spark.functions.portable import pround
    from lantern_extras_spark.functions.text import token_count

    counts = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    total = counts.agg(F.sum("n_tokens").alias("__total"))
    p = F.col("n_tokens").cast("double") / F.col("__total").cast("double")
    shared = counts.crossJoin(F.broadcast(total)).withColumn(
        "__p", p
    )
    z = shared.agg(F.sum(F.pow(F.col("__p"), F.lit(float(alpha)))).alias("__z"))
    q = F.pow(F.col("__p"), F.lit(float(alpha))) / F.col("__z")
    return (
        shared.crossJoin(F.broadcast(z))
        .withColumn("actual_share", pround(F.col("__p"), 8))
        .withColumn("temp_share", pround(q, 8))
        .withColumn(
            "weight",
            pround(
                F.when(F.col("__p") > 0, q / F.col("__p")).otherwise(F.lit(0.0)), 8
            ),
        )
        .select(group_col, "n_docs", "n_tokens", "actual_share", "temp_share", "weight")
    )
