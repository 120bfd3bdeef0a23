"""Scale guardrails: physical-plan assertions on the entry queries.
A regression that drops filter pushdown, reads extra columns, or turns a
broadcast join into a shuffle join fails here — before it costs cluster time."""

import re

import pytest

import __spark_entry__ as E
from lantern_extras_spark.plans import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_filter_pushed,
    plan_summary,
)

SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = E.q_pricing_summary(spark, SF)
    assert_filter_pushed(df, "l_shipdate")
    # only 7 of 11 lineitem columns are needed
    assert_column_pruned(df, "l_partkey")
    assert_column_pruned(df, "l_suppkey")


def test_top_revenue_orders_broadcasts_dims(spark):
    df = E.q_top_revenue_orders(spark, SF)
    assert_filter_pushed(df, "EqualTo(c_mktsegment,BUILDING)")
    assert_broadcast_join(df, at_least=2)
    assert_column_pruned(df, "o_totalprice")


def test_region_revenue_broadcasts_all_dims(spark):
    df = E.q_region_revenue(spark, SF)
    # nation, region, supplier, customer all broadcast; only the
    # lineitem⋈orders join may shuffle
    assert_broadcast_join(df, at_least=4)


def test_knn_pushes_query_side_filter(spark, monkeypatch):
    """Both sides' filters reach their scans: the query side in the bounded
    collect that builds the broadcast blocks, the data side in the plan that
    streams through the kernel; neither side reads the label column."""
    from lantern_extras_spark.operators import knn as K

    seen, blocks = [], K._query_blocks
    monkeypatch.setattr(K, "_query_blocks", lambda qsel, *a: seen.append(qsel) or blocks(qsel, *a))
    df = E.q_knn_cos(spark, SF)
    assert_filter_pushed(seen[0], "LessThan(vec_id,5)")
    assert_filter_pushed(df, "GreaterThanOrEqual(vec_id,5)")
    assert "MapInArrow" in plan_summary(df).text  # data side streams, no join
    assert_column_pruned(df, "label")
    assert_column_pruned(seen[0], "label")


def test_embed_documents_is_narrow(spark):
    df = E.q_embed_documents(spark, SF)
    s = plan_summary(df)
    assert s.n_shuffles == 0  # pure projection over the scan
    assert_column_pruned(df, "lang")


def test_user_sessions_single_shuffle(spark):
    df = E.q_user_sessions(spark, SF)
    # windows + both aggregations share the user_id partitioning: 1 shuffle +
    # the final AQE read; allow ≤2 but never the naive 3-4
    assert plan_summary(df).n_shuffles <= 2


def test_doc_search_uses_take_ordered_not_global_window(spark):
    """Top-10 must be TakeOrderedAndProject (partial per-partition top-k); the
    rnk window may only run downstream of the 10-row limit — never over the
    whole scored corpus (a single-partition sort at 100 TB)."""
    df = E.q_doc_search(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text
    # The window must consume the limit's output, not feed it: in the plan
    # string the Window operator appears above (before) TakeOrderedAndProject.
    assert s.text.index("Window") < s.text.index("TakeOrderedAndProject")


def test_ngram_jaccard_no_quadratic_crossjoin(spark):
    """The headline ngram query must run the inverted-index plan: no
    cartesian/nested-loop product anywhere, and the only equi-join key is the
    fine-grained (block, shingle-hash) tuple — the plan whose cost follows
    posting lists, not block²."""
    import re

    df = E.q_ngram_jaccard(spark, SF)
    s = plan_summary(df)
    assert "CartesianProduct" not in s.text
    assert "BroadcastNestedLoopJoin" not in s.text
    # an equi hash/merge join whose keys include the shingle hash column `h`
    # (AQE may pick broadcast at tiny SF; the key set is what matters)
    join_lines = [l for l in s.text.splitlines() if re.search(r"HashJoin|SortMergeJoin", l)]
    assert any(re.search(r"\bh#\d+", l) for l in join_lines), join_lines


def test_knn_filtered_pushes_label_predicate(spark):
    """Filtered kNN: the label predicate must reach the parquet scan — at
    100 TB the filter prunes the read, not just the ranking."""
    df = E.q_knn_filtered(spark, SF)
    assert_filter_pushed(df, "EqualTo(label,3)")


def test_chunk_documents_is_narrow(spark):
    """Chunking is a pure projection — zero shuffles at any corpus size."""
    df = E.q_chunk_documents(spark, SF)
    s = plan_summary(df)
    assert s.n_shuffles == 0, s.text


def test_resample_mixture_broadcasts_weight_table(spark):
    """The group-count-sized weight table must broadcast onto the scan; the
    corpus side of the resample itself never shuffles."""
    from lantern_extras_spark.operators import sampling as SMP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = SMP.resample_mixture(docs, {"src0": 0.5, "src1": 0.5})
    s = plan_summary(out)
    assert s.n_broadcasts >= 1, s.text
    # the only plain exchanges belong to the weight-table aggregation
    # (group-count-sized), not the corpus scan: the final join is broadcast
    assert "BroadcastHashJoin" in s.text or "BroadcastNestedLoopJoin" in s.text


def test_vocab_coverage_window_after_limit(spark):
    """The single-partition window must run on top-k rows, never the vocab:
    the plan's global sort feeds a limit before the window."""
    df = E.q_vocab_coverage(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text or "GlobalLimit" in s.text, s.text


def test_dedup_spans_no_nested_loop_join(spark):
    """Canonical-pick and excision must stay equi-joins — a BNL/cartesian
    over the window table would be quadratic at scale."""
    df = E.q_dedup_spans(spark, SF)
    s = plan_summary(df)
    assert "NestedLoop" not in s.text and "Cartesian" not in s.text, s.text


def test_minhash_lsh_pairs_grouped_buckets_no_window(spark):
    """LSH candidates come from one grouped shuffle per band bucket: no
    bucket-size Window and no band-key self-join, so the only joins left in
    the plan are the two verify joins (candidate ids to their shingle sets)."""
    s = plan_summary(E.q_minhash_lsh_pairs(spark, SF))
    assert "Window" not in s.text, s.text
    joins = re.findall(r"\b(\w+Join|CartesianProduct)\b", s.text)
    assert len(joins) == 2, joins


def test_minhash_incremental_equi_band_join(spark):
    """The batch-vs-store candidate join must be an equi-join on the band
    key (hash/sort-merge), never a nested loop."""
    df = E.q_minhash_incremental(spark, SF)
    s = plan_summary(df)
    assert "NestedLoop" not in s.text and "Cartesian" not in s.text, s.text


def test_heavy_hitters_broadcasts_candidates(spark):
    """The exact recount must semi-join the (tiny) MG candidate set via
    broadcast — a shuffled semi-join would move the whole exploded corpus."""
    df = E.q_heavy_hitters(spark, SF)
    s = plan_summary(df)
    assert s.n_broadcasts >= 1, s.text
    assert "BroadcastHashJoin" in s.text, s.text


def test_mixture_order_is_narrow(spark):
    """The interleave key is a projection — zero shuffles; ordering is the
    writer's range partition, not this operator's."""
    from lantern_extras_spark.operators import sampling as SMP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = SMP.mixture_order(docs, {"src0": 2.0, "src1": 1.0})
    s = plan_summary(out)
    assert s.n_shuffles == 0, s.text


def test_sampled_percentiles_window_on_sample_only(spark):
    """The global-order window must sit above the hash-sample filter (the
    ~k-row side), never above the raw corpus scan: the filter appears below
    the sort in the plan, and the corpus side carries no aggregation buffer."""
    df = E.q_sampled_percentiles(spark, SF)
    s = plan_summary(df)
    t = s.text
    # the sample filter is pushed into / sits directly on the scan
    assert "4294967296" in t or "Filter" in t, t
    # the plan prints root-first, so "window above the filter" means Window
    # appears EARLIER in the text than the sample filter it consumes
    assert t.index("Window") < t.index("Filter"), t


def test_corpus_diff_no_cartesian(spark):
    """id join, content-hash map join, and the summary must all stay
    hash/broadcast joins — a cartesian over two snapshots is quadratic."""
    df = E.q_corpus_diff(spark, SF)
    s = plan_summary(df)
    assert "Cartesian" not in s.text and "NestedLoop" not in s.text, s.text


def test_embedding_drift_partial_aggregation(spark):
    """posexplode + groupBy(dim) must partial-aggregate (map-side combine):
    the exchange carries HashAggregate output, not raw exploded elements."""
    df = E.q_embedding_drift(spark, SF)
    s = plan_summary(df)
    t = s.text
    assert "HashAggregate" in t, t
    # partial agg before the exchange: first HashAggregate occurs below
    # (later in text than) the last Exchange? Text order: plan prints root
    # first, so a partial agg must appear AFTER some Exchange line.
    assert t.count("HashAggregate") >= 2, t  # partial + final per side


def test_kmv_distinct_no_global_ranking_window(spark):
    """KMV's k-min must be the two-phase partial (per-partition bounded heap
    → per-group slice of ≤ k·P survivors), never a ranking window: a
    row_number over an empty partition spec moves EVERY distinct hash
    through one reducer (r7 verdict item 1)."""
    df = E.q_kmv_distinct(spark, SF)
    s = plan_summary(df)
    assert "Window" not in s.text, s.text
    assert "Exchange SinglePartition" not in s.text, s.text


def test_perplexity_buckets_window_on_sample_only(spark):
    """The per-language ranking window must consume the keyed hash sample
    (≤k rows), never the raw corpus — the difference between this plan and
    a per-language ntile() that shuffle-sorts everything. Root-first text:
    Window appears EARLIER than the sample filter it consumes, and the
    cutoffs reach the scored frame via broadcast."""
    import re

    df = E.q_perplexity_buckets(spark, SF)
    s = plan_summary(df)
    t = s.text
    # the ranking window is per-language (non-empty partition spec), and the
    # only md5 in the plan is the keyed sample filter, which sits BELOW the
    # window (root-first text: Window earlier than md5)
    wline = next(l for l in t.splitlines() if re.search(r"\bWindow\b", l))
    assert re.search(r"\[lang#\d+", wline), wline
    assert t.index("Window") < t.index("md5"), t
    assert s.n_broadcasts >= 2, t  # per-doc score join + cutoffs both broadcast


def test_bm25_narrow_scoring_and_take_ordered(spark):
    """BM25's scoring pass must be a narrow projection fed by ONE broadcast
    1-row stats frame (no per-term shuffles), with the top-k as
    TakeOrderedAndProject and the rank window running only on its k-row
    output (root-first: Window above TakeOrderedAndProject)."""
    df = E.q_bm25_search(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text
    assert s.text.index("Window") < s.text.index("TakeOrderedAndProject")
    assert s.n_broadcasts >= 1  # the stats row
    # the only shuffle is inside the stats aggregate (1-row partial->final);
    # scoring itself adds none
    assert s.n_shuffles <= 1, s.text


def test_bq_search_take_ordered_both_stages(spark):
    """Both BQ stages (Hamming prune, exact rerank) must be
    orderBy().limit() -> TakeOrderedAndProject — never a ranking window over
    the corpus. The rank window may only consume the final 10 rows."""
    df = E.q_bq_search(spark, SF)
    s = plan_summary(df)
    assert s.text.count("TakeOrderedAndProject") >= 2, s.text
    assert s.text.index("Window") < s.text.index("TakeOrderedAndProject")
    assert s.n_shuffles == 0, s.text  # both stages are narrow scans


def test_bloom_semi_join_prefilters_before_join(spark):
    """The bloom membership test (getbit over the literal word array) must
    run in a Filter BELOW the exact semi join, so the join's shuffle/probe
    sees only the pruned sliver (root-first: join text earlier than getbit).
    The confirm join broadcasts the small key side."""
    df = E.q_bloom_semi_join(spark, SF)
    s = plan_summary(df)
    t = s.text
    assert "getbit" in t, t  # literal-mode codegen membership test
    assert "LeftSemi" in t, t
    assert t.index("LeftSemi") < t.index("getbit"), t
    assert s.n_broadcasts >= 1, t


def test_bloom_anti_join_single_scan(spark):
    """The anti form must read the big side ONCE: the flagged (row + __m)
    projection is persisted and BOTH union branches re-read the cache
    (InMemoryTableScan ×2), so the source scan and the membership probe run
    a single time instead of once per branch."""
    import re

    df = E.q_bloom_anti_join(spark, SF)
    s = plan_summary(df)
    t = s.text
    # both union branches read the SAME cached flagged relation (the plan
    # text repeats the cached child under each InMemoryTableScan; at runtime
    # the InMemoryRelation materializes — and probes the bloom filter —
    # once). A third cache (the distinct key frame) serves the confirm join.
    assert len(re.findall(r"InMemoryTableScan \[[^\]]*__m", t)) == 2, t
    assert "InMemoryRelation" in t, t
    assert "LeftAnti" in t, t
    # the membership probe lives INSIDE the cached relation, not above it
    assert t.index("InMemoryRelation") < t.index("getbit"), t


def test_maxsim_single_shuffle(spark):
    """Chunking + per-chunk cosines are narrow; the only shuffle is the
    per-doc max aggregate (map-side partial max), and the top-k is
    TakeOrderedAndProject."""
    df = E.q_maxsim_search(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text
    assert s.n_shuffles <= 1, s.text
    assert "partial_max" in s.text, s.text


def test_zipf_window_and_folds_after_limit(spark):
    """The rank window and the regression folds run only downstream of the
    top-k limit (TakeOrderedAndProject); the corpus-side work is one
    map-side-combined count shuffle."""
    df = E.q_zipf_slope(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text
    assert s.text.index("Window") < s.text.index("TakeOrderedAndProject")
    assert "partial_count" in s.text, s.text


def test_mrl_search_take_ordered_both_stages(spark):
    """Both MRL stages (prefix prune, full-dim rerank) must be
    orderBy().limit() -> TakeOrderedAndProject, zero shuffles."""
    df = E.q_mrl_search(spark, SF)
    s = plan_summary(df)
    assert s.text.count("TakeOrderedAndProject") >= 2, s.text
    assert s.text.index("Window") < s.text.index("TakeOrderedAndProject")
    assert s.n_shuffles == 0, s.text


def test_cms_sketch_broadcast_and_partial_agg(spark):
    """The sketch build must partial-aggregate (map-side collapse to
    depth*width cells before the exchange), and point estimation must
    BROADCAST the sketch — never shuffle the key frame against it."""
    df = E.q_cms_frequencies(spark, SF)
    s = plan_summary(df)
    assert "partial_sum" in s.text or "partial_count" in s.text, s.text
    assert s.n_broadcasts >= 1, s.text


def test_hard_negatives_partial_no_corpus_shuffle(spark):
    """The masked partial-topk path: the corpus flows through one narrow
    mapInArrow; the only exchange carries the per-batch top-k survivors
    (O(q*k*batches) rows), then one window."""
    from lantern_extras_spark.operators import knn as K
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    df = K.hard_negatives(emb.where("vec_id >= 4"), q, k=5)
    s = plan_summary(df)
    assert "MapInArrow" in s.text, s.text
    # one exchange feeding the window over the reduced candidate set
    assert s.n_shuffles <= 1, s.text


def test_ngram_novelty_shuffles_on_shingle_and_doc_only(spark):
    """Reference distinct + equi-join + per-doc agg: every exchange is on
    the shingle or the doc id; no cartesian, no driver collect."""
    df = E.q_ngram_novelty(spark, SF)
    s = plan_summary(df)
    assert "Cartesian" not in s.text, s.text
    assert "SortMergeJoin" in s.text or "ShuffledHashJoin" in s.text or s.n_broadcasts >= 1, s.text


def test_mixture_plan_scalar_broadcast(spark):
    """Group-sized agg + broadcast scalar: the min over demand caps must
    arrive via a broadcast exchange, not a shuffle of the corpus."""
    df = E.q_mixture_plan(spark, SF)
    s = plan_summary(df)
    assert s.n_broadcasts >= 1, s.text
    assert "partial_sum" in s.text, s.text  # token totals combine map-side


def test_vocab_drift_no_global_vocab_window(spark):
    """Candidates come from the MG pass; the report plan must contain no
    single-partition global ranking window over the vocabulary."""
    df = E.q_vocab_drift(spark, SF)
    s = plan_summary(df)
    assert "Window" not in s.text or "SinglePartition" not in s.text, s.text


def test_dsir_weights_broadcast_ratio_table(spark):
    """DSIR: the per-bucket log-ratio table (<= buckets rows) must reach the
    feature stream via broadcast, and the bounded profiles must map-side
    combine — the vocabulary never rides an exchange."""
    df = E.q_dsir_weights(spark, SF)
    s = plan_summary(df)
    assert s.n_broadcasts >= 1, s.text
    assert "partial_count" in s.text or "partial_sum" in s.text, s.text
    assert "Cartesian" not in s.text, s.text


def test_dsir_select_take_ordered_no_ranking_window(spark):
    """Gumbel top-k must be TakeOrderedAndProject — per-partition partial
    top-n — never a global sort or a single-partition ranking window."""
    df = E.q_dsir_select(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_dsir_select_big_pure_filter_no_driver_merge(spark):
    """Selection-scale n (cutoff path): the emitted plan must be a pure
    filter over the weighted corpus — NO TakeOrderedAndProject (whose driver
    merge is O(n·P)), no global sort, no ranking window. Driver traffic in
    the cutoff computation is bounded by the boundary band, never by n."""
    df = E.q_dsir_select_big(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" not in s.text, s.text
    assert "rangepartitioning" not in s.text, s.text
    assert "Window" not in s.text, s.text


def test_knn_chunked_union_of_partial_kernels_no_nested_loop(spark):
    """Exact large-vs-large kNN: the plan must be a UNION of per-chunk
    MapInArrow partial kernels over the corpus scan — no
    BroadcastNestedLoopJoin/CartesianProduct (the O(n*q) rows-through-window
    shape 'chunked' exists to avoid), and exactly one finishing window over
    the reduced candidate set. Driver collects are bounded per chunk in the
    builder (pinned by test_knn.py's shrunken-cap test)."""
    df = E.q_knn_chunked(spark, SF)
    s = plan_summary(df)
    assert s.text.count("MapInArrow") >= 2, s.text  # multiple chunk kernels
    assert "Union" in s.text, s.text
    assert "BroadcastNestedLoopJoin" not in s.text, s.text
    assert "CartesianProduct" not in s.text, s.text
    # exactly one finishing Window node (WindowGroupLimit partial/final are
    # the rank<=k pushdown — they keep each kernel's output at k per query
    # before the exchange, exactly what we want)
    assert s.text.count("Window [") == 1, s.text
    assert "WindowGroupLimit" in s.text, s.text


def test_salted_join_joins_on_salted_key(spark):
    """The whole point of salting: the JOIN KEYS must be (key, __salt), not
    the key alone, so under a shuffle join a hot key's probe spreads across
    salt reducers. (At test scale AQE broadcasts the replicated dim — the
    key set is strategy-independent, so pin the join node's keys.) Result
    parity with the plain join is oracle-certified."""
    import re

    df = E.q_salted_join(spark, SF)
    s = plan_summary(df)
    join_lines = [ln for ln in s.text.splitlines() if "HashJoin" in ln]
    assert join_lines, s.text
    assert all(
        re.search(r"\[l_orderkey#\d+L?, __salt#\d+\]", ln) for ln in join_lines
    ), join_lines


def test_skew_report_combines_then_takeordered(spark):
    """Exact key counts must map-side combine (partial_count) and the top-k
    must be TakeOrderedAndProject — never a global sort over the key space."""
    df = E.q_skew_report(spark, SF)
    s = plan_summary(df)
    assert "partial_count" in s.text, s.text
    assert "TakeOrderedAndProject" in s.text, s.text


def test_corpus_divergence_bounded_state(spark):
    """Both profiles collapse map-side to <= buckets rows; the outer join of
    the two profiles is bucket-keyed; no cartesian, no window."""
    df = E.q_corpus_divergence(spark, SF)
    s = plan_summary(df)
    assert "partial_count" in s.text, s.text
    assert "Cartesian" not in s.text, s.text
    assert "Window" not in s.text, s.text


def test_hll_registers_partial_max(spark):
    """HLL register build must partial-aggregate (map-side MAX collapses
    every task to <= m rows before the exchange)."""
    df = E.q_hll_distinct(spark, SF)
    s = plan_summary(df)
    assert "partial_max" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_reservoir_sample_take_ordered(spark):
    """A-ES draw executes as TakeOrderedAndProject — no global sort, no
    ranking window over the corpus."""
    df = E.q_reservoir_sample(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_dedup_keep_best_argmax_is_aggregate_not_window(spark):
    """Survivor selection must ride the struct-MAX aggregate (map-side
    combining); the corpus-wide plan may window only inside the pair
    pipeline, never over the full document set."""
    df = E.q_dedup_keep_best(spark, SF)
    s = plan_summary(df)
    # the argmax is min(struct(-score, id)) — a partial-combining MIN
    assert "partial_min" in s.text, s.text
    assert "Cartesian" not in s.text, s.text


def test_bottomk_quantiles_take_ordered_window_on_sample(spark):
    """Sample selection must be TakeOrderedAndProject; the only ranking
    window runs over the <= k sample rows (after the limit)."""
    df = E.q_bottomk_quantiles(spark, SF)
    s = plan_summary(df)
    assert "TakeOrderedAndProject" in s.text, s.text
    # window is allowed, but only downstream of the k-row limit: the plan
    # must not sort the full events table
    assert s.text.count("TakeOrderedAndProject") >= 1


def test_temperature_mixture_group_sized(spark):
    """One aggregation shuffle + broadcast scalars: the corpus flows through
    a narrow token-count projection only."""
    df = E.q_temperature_mixture(spark, SF)
    s = plan_summary(df)
    assert s.n_broadcasts >= 1, s.text
    assert "partial_sum" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_keyword_labels_broadcast_no_window(spark, monkeypatch):
    """r14 default (literal fast path for driver-sized dictionaries): the
    corpus-facing plan is ONE shuffle-free projection — no exchange, no
    joins, no window, the idf literals baked in. The explode->broadcast
    shape stays pinned for dictionaries above KWLBL_LIT_MAX_KW: keyword
    table and docfreq broadcast, argmax a struct-MIN aggregate, no ranking
    window."""
    from lantern_extras_spark.operators import textstats as TS

    df = E.q_keyword_labels(spark, SF)
    s = plan_summary(df)
    assert "Window" not in s.text, s.text
    # the only exchange is the entry query's output orderBy (range); the
    # scoring itself is join-free and shuffle-free
    assert "hashpartitioning" not in s.text, s.text
    assert "Join" not in s.text, s.text
    assert s.n_broadcasts == 0, s.text

    monkeypatch.setattr(TS, "KWLBL_LIT_MAX_KW", 0)
    s2 = plan_summary(E.q_keyword_labels(spark, SF))
    assert s2.n_broadcasts >= 1, s2.text
    assert "Window" not in s2.text, s2.text
    assert "partial_min" in s2.text or "partial_sum" in s2.text, s2.text


def test_ngram_diversity_partial_aggregates(spark):
    """Both aggregation levels must map-side combine (the Zipf head collapses
    before the exchange); no windows, no cartesian."""
    df = E.q_ngram_diversity(spark, SF)
    s = plan_summary(df)
    assert "partial_count" in s.text or "partial_sum" in s.text, s.text
    assert "Window" not in s.text and "Cartesian" not in s.text, s.text


def test_hll_by_type_partial_max_per_group(spark):
    """Grouped registers partial-aggregate too: <= groups*m rows per task
    reach the exchange."""
    df = E.q_hll_by_type(spark, SF)
    s = plan_summary(df)
    assert "partial_max" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_normalize_nfc_single_python_stage(spark):
    """The pandas UDF is Arrow-batched and the plan stays narrow: no shuffle
    at all (pure projection), exactly one Python evaluation stage group."""
    df = E.q_normalize_nfc(spark, SF)
    s = plan_summary(df)
    assert "ArrowEvalPython" in s.text, s.text
    # the two normalize_unicode calls collapse to ONE UDF evaluation
    # (subexpression elimination) — a second ArrowEvalPython would mean the
    # text crosses the Python boundary twice
    assert s.text.count("ArrowEvalPython") == 1, s.text
    # the only exchange is the presentation orderBy (range partitioning)
    assert s.n_shuffles <= 1 and "rangepartitioning" in s.text, s.text


def test_pii_stats_zero_shuffle(spark):
    """regexp_count projection: no exchange except the presentation sort."""
    df = E.q_pii_stats(spark, SF)
    s = plan_summary(df)
    assert s.n_shuffles <= 1 and "Window" not in s.text, s.text


def test_dedup_within_zero_shuffle(spark):
    """Pure array expressions: in-doc dedup never exchanges data (besides
    the presentation sort) and never explodes."""
    df = E.q_dedup_within(spark, SF)
    s = plan_summary(df)
    assert s.n_shuffles <= 1, s.text
    assert "Generate" not in s.text, s.text  # no explode
    assert "Window" not in s.text, s.text


def test_dup_rate_sketch_partial_max_bounded(spark):
    """The duplicate-rate estimate must ride the bounded register build
    (partial MAX to <= m rows per task) — no full-fingerprint distinct
    shuffle on the estimate path (the exact witness column is allowed its
    one distinct aggregation)."""
    df = E.q_dup_rate_sketch(spark, SF)
    s = plan_summary(df)
    assert "partial_max" in s.text, s.text
    assert "Window" not in s.text, s.text


def test_lint_plan_flags_known_antipatterns(spark):
    """lint_plan must flag the global window, the cartesian, and nothing on
    a clean TakeOrdered plan (the rules encode this repo's measured
    pitfalls)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from lantern_extras_spark.plans.inspect import lint_plan

    df = spark.range(100).withColumn("g", F.pmod("id", F.lit(5)))

    global_win = df.withColumn("r", F.row_number().over(W.orderBy("id")))
    rules = {f["rule"] for f in lint_plan(global_win)}
    assert "global-window" in rules

    part_win = df.withColumn(
        "r", F.row_number().over(W.partitionBy("g").orderBy("id"))
    )
    rules = {f["rule"] for f in lint_plan(part_win)}
    assert "global-window" not in rules

    cart = df.crossJoin(spark.range(3).withColumnRenamed("id", "j"))
    rules = {f["rule"] for f in lint_plan(cart)}
    # a tiny side broadcasts (BNL, info); a true CartesianProduct warns
    assert rules & {"cartesian", "broadcast-nested-loop"}, rules

    clean = df.orderBy(F.col("id").desc()).limit(5)
    findings = lint_plan(clean)
    assert not any(f["severity"] == "warn" for f in findings), findings


def test_ivf_pq_codebook_driver_replay(spark):
    """q_ivf_pq_search (r13 pass-5) replays the 8 codebook rows' cell
    assignment + residual on the DRIVER instead of a second Spark collect.
    Pin bit-identity against the engine-computed plan it replaced:
    assign_cells (exact fold argmin) + zip_with residual for vec_id<8."""
    from pyspark.sql import functions as F

    from lantern_extras_spark.operators import ivf as IVF
    from lantern_extras_spark.operators import pq as PQ

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows8 = (
        emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    coarse = [list(map(float, r["embedding"])) for r in rows8 if r["vec_id"] < 4]
    dim = len(coarse[0])
    bounds = PQ.split_bounds(dim, 4)

    # engine side: the pre-pass-5 plan (kernel assign + zip_with residual)
    indexed = IVF.assign_cells(emb, coarse, vec_col="embedding")
    cents_arr = F.array(*[F.lit(c).cast("array<double>") for c in coarse])
    with_res = indexed.withColumn(
        "rv",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.element_at(cents_arr, F.col("cell") + 1),
            lambda a, b: a - b,
        ),
    )
    engine = {}
    for r in with_res.where(F.col("vec_id") < 8).select("vec_id", "cell", "rv").collect():
        engine[int(r["vec_id"])] = (int(r["cell"]), [float(x) for x in r["rv"]])

    # driver side: the pass-5 replay (sequential sums, strict-< first-wins)
    for r in rows8:
        v = [float(x) for x in r["embedding"]]
        best_d, best_i = float("inf"), -1
        for i, c in enumerate(coarse):
            s = 0.0
            for a, b in zip(v, c):
                d = a - b
                s += d * d
            if s < best_d:
                best_d, best_i = s, i
        rv = [a - b for a, b in zip(v, coarse[best_i])]
        e_cell, e_rv = engine[int(r["vec_id"])]
        assert best_i == e_cell
        # bit-identity, not approx: both sides are the same IEEE double ops
        assert rv == e_rv
        for s_i, (lo, hi) in enumerate(bounds):
            assert rv[lo:hi] == e_rv[lo:hi]
