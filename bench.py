"""Benchmark harness: runs the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Query set = the operator families that matter at scale: relational joins/aggs,
window sessionization, batch kNN (the mapInPandas partial-topk scale path),
deterministic embedding generation, MinHash-LSH dedup, SimHash, PQ build+
quantize+ADC. Each timing includes full plan execution to a driver-side action.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from lantern_extras_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as E
    from lantern_extras_spark.operators import pq as PQ
    from pyspark.sql import functions as F

    spark = get_spark("lantern-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Persist the full query registry so the driver's CORRECTNESS gate can see
    # every name, not just the subset it checked last round (VERDICT r6 item 1).
    E.write_manifest()

    # warm the JVM/session so query timings don't pay one-time startup costs
    spark.range(1000).select(F.sum("id")).collect()

    # pre-touch every table: parquet footer + full scan so the first timed
    # query doesn't absorb OS page-cache and metadata warm-up (the round-2
    # bench charged ~2.4 s of one-time cost to whichever query ran first)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").foreach(lambda r: None)
    E._events(spark, SF_DIR).foreach(lambda r: None)  # nanos-ts table needs the special reader
    # warm the Python worker pool (mapInPandas queries fork+import on first use)
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").foreach(lambda r: None)

    # Embedding throughput per the reference's measure-model-speed methodology
    # (BASELINE.md): emb/s on the short-text synthetic table, warm-up discarded,
    # median-of-3 windows. Runs FIRST so it measures a fresh session rather than
    # whatever GC/page-cache state 3x44 queries leave behind.
    from lantern_extras_spark.embeddings.speed import measure_model_speed

    # max_tokens=1000 matches the reference methodology (measure_speed.rs /
    # BASELINE.md row 1), so the short/long emb-per-sec spread is comparable
    # to the reference's min/max semantics (was 200 through r5).
    speed = measure_model_speed(spark, max_tokens=1000)

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    N_ITER = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

    # --- host-speed calibration (r9 verdict #4) -----------------------------
    # A FIXED pure-JVM workload, independent of the testdata and the engine:
    # 200M xxhash64+sum (CPU/codegen) and a 20M-row two-level aggregation
    # (shuffle machinery). Round-over-round comparison is declared to be
    # CALIBRATED-median only: compare total/calibration_sec (and per-query
    # time/calibration_sec), never raw seconds — this host's wall clock
    # drifted a uniform ~1.2x between same-code runs in r8/r9 and raw ratios
    # read as regressions ("0.88x vs one r8 artifact, 1.06x vs the other").
    def _calibration_once() -> float:
        t0 = time.monotonic()
        # pmod keeps the running sum bounded (raw sum(xxhash64) overflows
        # long under ANSI mode)
        spark.range(200_000_000).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("h")
        ).collect()
        spark.range(20_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k")
        ).groupBy("k").count().groupBy().agg(
            F.sum("count"), F.avg("count")
        ).collect()
        return time.monotonic() - t0

    # r10 verdict #3: a single pre-bench calibration window swung 25% between
    # idle same-day runs — worse than the query noise it divides out. Probes
    # are now INTERLEAVED through the bench (before, at each quarter mark,
    # after → ≥5 probes), the denominator is their median, and the artifact
    # carries their CV; calibrated comparison is declared valid only when
    # CV < 10%, else fall back to raw seconds + the documented ~1.2x band.
    _calibration_once()  # warm-up discarded
    calibration_probes: list[float] = [_calibration_once()]

    # r14 measurement-hygiene fix (r13 verdict item 3, guide §5 caching):
    # operators that persist()/cache() an internal frame leave entries in the
    # session CacheManager, and Spark matches CANONICALIZED plans — so
    # iterations 2..N of the same reconstructed query were partially served
    # from iteration 1's warm cache, and the leaked blocks accumulated memory
    # pressure across the 137-query run (the likely cause of late-run noise).
    # The SQL cache is now cleared BEFORE each timed iteration (outside the
    # timed region), so every iteration computes cold from the parquet inputs.
    # This makes cache-carrying queries report honestly HIGHER medians than
    # the r13 harness did.

    def timed(name: str, fn) -> None:
        # median-of-N so one GC pause / compile stall can't fake a regression;
        # min is reported too (steady-state capability)
        runs = []
        for _ in range(N_ITER):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn()
            runs.append(time.monotonic() - t0)
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        timings_min[name] = round(runs[0], 3)

    # r13 measurement fix (optimization guide §1.4): the timed action is now
    # the built-in no-op sink — it computes every column of every row inside
    # the JVM and discards the result. The previous `.foreach(lambda r: None)`
    # additionally pickled every result row out to Python workers, charging
    # each query +0.14-0.31 s (measured A/B, ~28 s across the 137-query set)
    # of pure harness overhead the real query does not have. The r12
    # artifacts (BENCH_r12.json / bench_detail.json history) are the
    # foreach-based record.
    def run_query(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    qs = E.queries()
    bench_set = [
        "pricing_summary",
        "top_revenue_orders",
        "region_revenue",
        "returned_items",
        "events_hourly",
        "user_sessions",
        "top_users_per_type",
        "vector_distances",
        "knn_cos",
        "knn_partial_strategy",
        "knn_chunked",
        "label_vector_stats",
        "embed_documents",
        "doc_search",
        "token_stats",
        "language_id",
        "quality_by_lang",
        "dedup_exact",
        "minhash_signatures",
        "simhash",
        "simhash_pairs",
        "ngram_jaccard",
        "minhash_lsh_pairs",
        "fingerprints",
        "pq_assign",
        "events_asof_signup",
        "error_burst",
        "sales_rollup",
        "value_percentiles",
        "ivf_search",
        "event_type_users",
        "purchasers_no_errors",
        "order_priority_counts",
        "customers_without_orders",
        "embedding_neardup",
        "pq_adc_topk",
        "ivf_pq_search",
        "ngram_containment",
        "tfidf_top_terms",
        "knn_dot",
        "knn_l2",
        "knn_filtered",
        "error_burst_binned",
        "hash_split",
        "stratified_sample",
        "dedup_clusters",
        "hnsw_recall",
        "decontaminate",
        "decontaminate_bloom",
        "clean_text",
        "strip_boilerplate",
        "pack_sequences",
        "pack_sequences_text",
        "redact_pii",
        "repetition_stats",
        "unigram_logprob",
        "url_canonical",
        "gopher_filter",
        "dedup_paragraphs",
        "vocab_coverage",
        "quota_sample",
        "resample_mixture",
        "chunk_documents",
        "minhash_incremental",
        "dedup_spans",
        "corpus_report",
        "bigram_logprob",
        "bigram_coverage",
        "ivf_knn_join",
        "embedding_decontaminate",
        "leakage_safe_split",
        "kmv_distinct",
        "kmv_distinct_ids",
        "perplexity_buckets",
        "split_contamination",
        "sq8_search",
        "oov_rate",
        "bloom_semi_join",
        "bloom_anti_join",
        "mrl_search",
        "zipf_slope",
        "bm25_search",
        "bm25_prf",
        "search_snippets",
        "bq_search",
        "hybrid_rrf",
        "maxsim_search",
        "mmr_rerank",
        "top_duplicate_spans",
        "decontaminate_spans",
        # round-7 fourth batch. semantic_dedup / semantic_incremental run
        # their native DuckDB-replay configs (interpreted per-pair cosine) —
        # the honest oracle-parity cost; the GEMM scale path is measured in
        # SCALE_SF1.json (semantic_dedup dense e=0.166, scaled e~0.26-0.32)
        "semantic_dedup",
        "semantic_incremental",
        "heavy_hitters",
        "cms_frequencies",
        "ngram_novelty",
        "hard_negatives",
        "hard_negatives_chunked",
        "mixture_plan",
        "domain_keywords",
        "tokenizer_fertility",
        "vocab_drift",
        "soft_dedup",
        "sampled_percentiles",
        "mixture_order",
        "corpus_diff",
        "embedding_drift",
        "semantic_recall",
        "near_moves",
        "duplication_share",
        "heavy_hitters_by_lang",
        # round-8 second-session batch: data selection + sketch + survivor
        "dsir_weights",
        "dsir_select",
        "dsir_select_big",
        "compressed_tradeoff",
        "skew_report",
        "salted_join",
        "corpus_divergence",
        "hll_distinct",
        "dedup_keep_best",
        "reservoir_sample",
        "bottomk_quantiles",
        "temperature_mixture",
        "keyword_labels",
        "ngram_diversity",
        "hll_by_type",
        "normalize_nfc",
        "pii_stats",
        "dedup_within",
        "dup_rate_sketch",
    ]
    # self-healing coverage: any registry query missing from the hard-coded
    # list is appended (and flagged) so the committed bench can never again
    # silently under-cover the manifest (r7 verdict item 3: knn_l2 was absent)
    missing = sorted(set(qs) - set(bench_set))
    if missing:
        print(f"bench_set auto-appended {len(missing)} manifest queries: {missing}",
              file=sys.stderr, flush=True)
        bench_set += missing
    quarter_marks = {len(bench_set) * q // 4 for q in (1, 2, 3)}
    for i, name in enumerate(bench_set):
        timed(name, lambda n=name: run_query(qs[n](spark, SF_DIR)))
        if i in quarter_marks:  # interleaved host-speed probe
            calibration_probes.append(_calibration_once())

    # PQ end-to-end (codebook fit + quantize + ADC top-k) — reference Q1-Q4 analog
    def pq_e2e():
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        cb = PQ.build_codebook(emb, vec_col="embedding", splits=8, k=32, max_train_rows=5000)
        coded = PQ.quantize(emb, cb, vec_col="embedding")
        dim = len(emb.select("embedding").first()[0])
        PQ.adc_topk(coded, cb, [0.0] * dim, k=10).collect()

    timed("pq_e2e", pq_e2e)
    calibration_probes.append(_calibration_once())  # closing probe

    import statistics

    calibration_sec = round(statistics.median(calibration_probes), 3)
    calibration_cv = round(
        statistics.pstdev(calibration_probes) / statistics.fmean(calibration_probes), 4
    )
    calibration_valid = calibration_cv < 0.10

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    # The compact contract line (metric/value/unit/per-query medians/sf only —
    # ~1.1 KB, fits the driver's 2 KB tail window that truncated BENCH_r03's fat
    # line). Printed immediately AND as the very last line after spark.stop()
    # so it survives whether the driver keeps head or tail, with no shutdown
    # noise after the final copy.
    contract = json.dumps(
        {
            "metric": "headline_queries_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    print(contract, flush=True)

    # Full detail (min runs, iteration count, embedding throughput) goes to a
    # sidecar file: BENCH_r03's one-line JSON outgrew the driver's tail-capture
    # window and the headline total became unrecoverable ("parsed": null).
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "total_min": round(sum(timings_min.values()), 3),
        "bench_iters": N_ITER,
        "timed_action": "noop",  # r13: "noop" sink per guide §1.4 (foreach = legacy)
        # r14: SQL cache cleared before every timed iteration so per-iteration
        # runs are cold
        "cache_cleared_between_iters": True,
        "sf": sf_val,
        # Calibration (r9 #4, probes interleaved per r10 #3): fixed pure-JVM
        # work (200M xxhash-sum + 20M-row two-level agg) whose time moves
        # with the host, not the engine. Measured CV across rounds sits at
        # 14-21% (GC pressure moves the probes more than the host moves),
        # so per r11 verdict #6 the PRIMARY cross-round comparator is now
        # min-of-iters (queries_min/total_min — robust to GC noise since
        # the min run is the least-perturbed execution); calibrated ratios
        # corroborate when calibration_valid.
        "calibration_sec": calibration_sec,
        "calibration_probes": [round(p, 3) for p in calibration_probes],
        "calibration_cv": calibration_cv,
        "calibration_valid": calibration_valid,
        "total_calibrated": round(total / calibration_sec, 3),
        "queries_calibrated": {
            k: round(v / calibration_sec, 3) for k, v in timings.items()
        },
        "comparison_contract": (
            "round-over-round PRIMARY = total_min (and per-query "
            "queries_min): min-of-iters is robust to the JVM/GC noise the "
            "interleaved probes exposed (measured CV 14-21%, so the "
            "calibrated path rarely validates). Corroborate with "
            "total_calibrated when calibration_valid (probe CV < 10%); "
            "medians (queries/value) remain the headline contract line. "
            "Raw totals compare within the documented ~1.2x host band."
            + ("" if calibration_valid else
               " THIS RUN: CV >= 10% — calibrated ratios are "
               "corroboration-only.")
        ),
        "embedding_rows_per_sec": {
            "short_text": speed.emb_per_sec_max,
            "long_text": speed.emb_per_sec_min,
            "avg": speed.emb_per_sec_avg,
            "model": speed.model,
            "runtime": speed.runtime,
            # r9 verdict #6: this probe runs the deterministic hash runtime
            # (no onnxruntime in this container) — it tracks REGRESSIONS in
            # the Spark-side embedding pipeline; it is NOT comparable to the
            # reference's real-model emb/s (BASELINE.md target 1).
            "comparable_to_reference": False,
            "reason": "hash stub runtime; real-ONNX emb/s needs onnxruntime (env-gated)",
        },
    }
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), sidecar), "w") as f:
        json.dump(detail, f, indent=1)

    spark.stop()
    print(contract, flush=True)


if __name__ == "__main__":
    main()
