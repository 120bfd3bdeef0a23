"""sf1 scaling bench: run the heaviest bench queries at 10× sf0.1 and record
the per-query scaling exponent — the evidence tying sf0.1 bench numbers to
SCALE.md's 100 TB claims (VERDICT r3 #9).

No sf1 testdata exists (and /root/testdata is read-only), so this builds a
faithful 10× dataset in /tmp from sf0.1:

- relational tables: 10 copies with key columns shifted per copy (orders ×10
  per customer-region structure preserved; dims nation/region/supplier stay
  single-copy, like real scale-up where dimensions grow slower than facts);
- documents: 10 copies with doc_id shift AND a per-copy vocabulary remap
  (every word suffixed `_c<i>` for copy i>0) — cross-copy shingle/token
  overlap is exactly zero, so the duplicate RATE stays constant instead of
  every doc gaining 9 artificial near-dups (which would measure a data
  artifact, not operator scaling);
- embeddings: 10 copies with vec_id shift and deterministic per-copy
  perturbation (xxhash-derived, ±0.3) — copies spread apart in vector space
  rather than stacking 10 exact duplicates into every LSH bucket.

Copy 0 is byte-identical to sf0.1, so sf0.1 ⊂ sf1.

Run: python tools/bench_sf1.py  → one JSON line + SCALE_SF1.json sidecar.
Env: SPARK_GRAFT_SF1_DIR (default /tmp/lantern_sf1), SPARK_GRAFT_SF1_ITERS
(default 2; timing = min over iters, steady-state capability).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lantern_extras_spark import get_spark

SF01 = "/root/testdata/sf0.1"
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/lantern_sf1")
N_COPIES = 10
ID_SHIFT = 10_000_000

# Round 6: the sweep covers EVERY driver query (VERDICT r5 #2) — the
# 100×-design claims rest on measured exponents, so the evidence must be
# complete, not a hand-picked heavy subset. Set SPARK_GRAFT_SF1_ONLY to a
# comma-separated subset for quick iteration.
TABLES_NEEDED = (
    "documents", "embeddings", "lineitem", "orders", "customer",
    "supplier", "nation", "region",
)


def _copies(df, build_one):
    out = None
    for c in range(N_COPIES):
        part = build_one(df, c)
        out = part if out is None else out.unionByName(part)
    return out


def build_sf1(spark) -> None:
    os.makedirs(SF1_DIR, exist_ok=True)

    def done(t):
        return os.path.exists(os.path.join(SF1_DIR, f"{t}.parquet", "_SUCCESS"))

    # dims: single copy (real scale-up grows facts, not dimensions)
    for t in ("supplier", "nation", "region"):
        if not done(t):
            spark.read.parquet(f"{SF01}/{t}.parquet").write.mode("overwrite").parquet(
                f"{SF1_DIR}/{t}.parquet"
            )

    if not done("documents"):
        docs = spark.read.parquet(f"{SF01}/documents.parquet")

        def doc_copy(df, c):
            if c == 0:
                return df
            remapped = F.concat_ws(
                " ", F.transform(F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(f"_c{c}")))
            )
            return df.select(
                (F.col("doc_id") + c * ID_SHIFT).alias("doc_id"),
                remapped.alias("text"),
                "lang", "source",
                F.length(remapped).cast("long").alias("n_chars"),
            )

        _copies(docs, doc_copy).write.mode("overwrite").parquet(f"{SF1_DIR}/documents.parquet")

    if not done("embeddings"):
        emb = spark.read.parquet(f"{SF01}/embeddings.parquet")

        def emb_copy(df, c):
            if c == 0:
                return df
            jiggled = F.transform(
                F.col("embedding"),
                lambda x, j: (
                    x
                    + (
                        (F.xxhash64(F.col("vec_id") * 64 + j + F.lit(c * 1_000_003)) % 2001)
                        - F.lit(1000)
                    ).cast("double")
                    / 1000.0
                    * 0.3
                ).cast("float"),
            )
            return df.select(
                (F.col("vec_id") + c * ID_SHIFT).alias("vec_id"),
                jiggled.alias("embedding"),
                "label",
            )

        _copies(emb, emb_copy).write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet")

    if not done("customer"):
        cust = spark.read.parquet(f"{SF01}/customer.parquet")
        _copies(
            cust,
            lambda df, c: df.withColumn("c_custkey", F.col("c_custkey") + c * ID_SHIFT),
        ).write.mode("overwrite").parquet(f"{SF1_DIR}/customer.parquet")

    if not done("orders"):
        orders = spark.read.parquet(f"{SF01}/orders.parquet")
        _copies(
            orders,
            lambda df, c: df.withColumn("o_orderkey", F.col("o_orderkey") + c * ID_SHIFT * 10)
            .withColumn("o_custkey", F.col("o_custkey") + c * ID_SHIFT),
        ).write.mode("overwrite").parquet(f"{SF1_DIR}/orders.parquet")

    if not done("lineitem"):
        li = spark.read.parquet(f"{SF01}/lineitem.parquet")
        _copies(
            li,
            lambda df, c: df.withColumn("l_orderkey", F.col("l_orderkey") + c * ID_SHIFT * 10),
        ).write.mode("overwrite").parquet(f"{SF1_DIR}/lineitem.parquet")

    if not done("events"):
        # read through the driver's nanos-aware reader, write plain micros;
        # copies shift event_id AND user_id (10× users over the same period —
        # facts grow, the time window doesn't), keeping per-user session /
        # burst / as-of structure identical per copy
        import __spark_entry__ as E

        ev = E._events(spark, SF01)
        _copies(
            ev,
            lambda df, c: df.withColumn("event_id", F.col("event_id") + c * ID_SHIFT)
            .withColumn("user_id", F.col("user_id") + c * ID_SHIFT),
        ).write.mode("overwrite").parquet(f"{SF1_DIR}/events.parquet")


def main() -> None:
    import __spark_entry__ as E

    spark = get_spark("bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    n_iter = int(os.environ.get("SPARK_GRAFT_SF1_ITERS", "2"))

    t0 = time.monotonic()
    build_sf1(spark)
    build_s = round(time.monotonic() - t0, 1)

    # pre-touch both scales (same warm-up discipline as bench.py)
    for sf in (SF01, SF1_DIR):
        for t in TABLES_NEEDED:
            spark.read.parquet(f"{sf}/{t}.parquet").foreach(lambda r: None)
        E._events(spark, sf).foreach(lambda r: None)
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").foreach(lambda r: None)

    qs = E.queries()
    only = os.environ.get("SPARK_GRAFT_SF1_ONLY")
    names = [n.strip() for n in only.split(",")] if only else list(qs)

    def want(name: str) -> bool:
        # a SPARK_GRAFT_SF1_ONLY subset gates the extra scale-config sections
        # too, so targeted re-measurements don't pay for the whole sweep
        return only is None or name in names

    def measure(fn) -> dict:
        per_sf = {}
        for label, sf in (("sf0.1", SF01), ("sf1", SF1_DIR)):
            runs = []
            for _ in range(n_iter):
                t1 = time.monotonic()
                fn(sf)
                runs.append(time.monotonic() - t1)
            per_sf[label] = round(min(runs), 3)
        # exponent e: t ∝ n^e over the 10× step (e=1 linear, <1 sublinear)
        exponent = round(math.log10(max(per_sf["sf1"], 1e-9) / max(per_sf["sf0.1"], 1e-9)), 3)
        return {**per_sf, "exponent": exponent}

    results: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            continue  # an extra-section name (e.g. dedup_spans_scaled)
        results[name] = measure(
            lambda sf, n=name: qs[n](spark, sf).foreach(lambda r: None)
        )
        print(json.dumps({name: results[name]}), flush=True)

    # The driver's embedding_neardup query pins n_planes=6 / threshold=0.4 for
    # its sf0.01 oracle — at sf1 that config has 64 buckets of ~300 rows and a
    # multi-million-pair TRUE result (the jiggled copies sit above cosine 0.4),
    # so its time measures output size, not operator scaling. Measure the
    # operator's scale configuration too: auto-scaled planes (~64 rows/bucket),
    # GEMM bucketing, a real near-dup threshold.
    from lantern_extras_spark.operators import dedup as D

    def neardup_scaled(sf):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        D.embedding_neardup_pairs(
            emb, threshold=0.9, n_planes=None, dim=64
        ).foreach(lambda r: None)

    if want("embedding_neardup_scaled"):
        results["embedding_neardup_scaled"] = measure(neardup_scaled)
        print(json.dumps({"embedding_neardup_scaled": results["embedding_neardup_scaled"]}), flush=True)

    # semantic_dedup's scale config (the registry query, measured in the main
    # loop, is the dense config): nlist=None auto-scales cells to ~2000 rows,
    # bounding per-cell pairwise work as the corpus grows.
    def semantic_scaled(sf):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        D.semantic_dedup(emb, threshold=0.9, nlist=None).foreach(lambda r: None)

    if want("semantic_dedup_scaled"):
        results["semantic_dedup_scaled"] = measure(semantic_scaled)
        print(json.dumps({"semantic_dedup_scaled": results["semantic_dedup_scaled"]}), flush=True)

    # simhash scale config: 60-bit signatures with 15-bit bands (32768 keys
    # per band vs the 32/8 oracle default's 256) — candidate-join bucket
    # density drops 128x, which is what keeps candidate generation linear at
    # corpus scale.
    def simhash_scaled(sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sims = D.simhash(docs, bits=60)
        D.simhash_pairs(sims, bits=60, band_bits=15, max_hamming=6).foreach(lambda r: None)

    if want("simhash_pairs_scaled"):
        results["simhash_pairs_scaled"] = measure(simhash_scaled)
        print(json.dumps({"simhash_pairs_scaled": results["simhash_pairs_scaled"]}), flush=True)

    # span-dedup scale config: content-defined sampling (hash % stride) cuts
    # the window shuffle stride x; full corpus (no doc_id cap), stride=8.
    # impl='rolling' (r7) replaces the per-window python md5 loop with one
    # vectorized SipHash+polynomial pass per doc — the md5 kernel stays the
    # oracle-parity config.
    def spans_scaled(sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        D.dedup_spans(docs, span=16, stride=8, impl="rolling").foreach(lambda r: None)

    if want("dedup_spans_scaled"):
        results["dedup_spans_scaled"] = measure(spans_scaled)
        print(json.dumps({"dedup_spans_scaled": results["dedup_spans_scaled"]}), flush=True)

    # Posting-list pair generators: scale configs (VERDICT r6 item 3).
    # ngram_jaccard: AllPairs prefix filter at t=0.8 — recall-lossless, only
    # n-ceil(t*n)+1 hashes per doc reach the posting join (~5x less shuffle).
    def ngram_jaccard_scaled(sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        D.ngram_jaccard_pairs(docs, threshold=0.8, strategy="prefix",
                              max_block_rows=None).foreach(lambda r: None)

    if want("ngram_jaccard_scaled"):
        results["ngram_jaccard_scaled"] = measure(ngram_jaccard_scaled)
        print(json.dumps({"ngram_jaccard_scaled": results["ngram_jaccard_scaled"]}), flush=True)

    # ngram_containment: asymmetric prefix bound — |∩| >= t*min forces the
    # smallest common hash into the SMALLER doc's prefix, so prefix postings
    # probe full postings of same-or-larger docs. Exact, recall-lossless.
    def ngram_containment_scaled(sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        D.ngram_jaccard_pairs(docs, threshold=0.8, metric="containment",
                              strategy="prefix",
                              max_block_rows=None).foreach(lambda r: None)

    if want("ngram_containment_scaled"):
        results["ngram_containment_scaled"] = measure(ngram_containment_scaled)
        print(json.dumps({"ngram_containment_scaled": results["ngram_containment_scaled"]}), flush=True)

    # minhash LSH candidates: 128-hash signatures banded by lsh_tune(0.8)
    # (b=8, r=16) — 16-value band keys make false band collisions vanish, so
    # the candidate join carries true near-dups only (the oracle's 32/8
    # banding has r=4: at s=0.3 each band still collides with p=s^4≈0.8%).
    def minhash_lsh_scaled(sf):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        tune = D.lsh_tune(0.8, 128)
        sigs = D.minhash_signatures(docs, n_hashes=128)
        D.lsh_candidate_pairs(sigs, bands=tune["bands"], n_hashes=128).foreach(lambda r: None)

    if want("minhash_lsh_pairs_scaled"):
        results["minhash_lsh_pairs_scaled"] = measure(minhash_lsh_scaled)
        print(json.dumps({"minhash_lsh_pairs_scaled": results["minhash_lsh_pairs_scaled"]}), flush=True)

    # dsir_select at selection-scale n (r8 verdict #1): n ∝ corpus (20% of
    # the docs) through the cutoff path — driver traffic is the boundary
    # band (O(N/quantile_accuracy) narrow key rows), never the n-row driver
    # merge TakeOrderedAndProject would pay, so the exponent measures the
    # narrow weight passes, not a growing driver funnel.
    def dsir_select_scaled(sf):
        from lantern_extras_spark.operators import selection as SEL

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        n = int(docs.count() * 0.2)
        target = docs.where(F.col("lang") == "en")
        SEL.dsir_select(docs, target, n=n, buckets=2048,
                        small_n_max=0).foreach(lambda r: None)

    if want("dsir_select_scaled"):
        results["dsir_select_scaled"] = measure(dsir_select_scaled)
        print(json.dumps({"dsir_select_scaled": results["dsir_select_scaled"]}), flush=True)

    # HNSW build at scale: the driver query pins n_shards=8 at BOTH scales, so
    # per-shard size grows 10x and the O(n log n)-ish graph insert goes
    # superlinear (e~0.4). The scale rule is shards ∝ corpus (constant rows
    # per shard; shards build in parallel and searches stay one batched job) —
    # measure it: 8 shards at sf0.1, 80 at sf1.
    def hnsw_scaled(sf):
        from lantern_extras_spark.operators import hnsw as H

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        n_shards = 8 if sf == SF01 else 80
        H.hnsw_recall_vs_exact(emb, n_shards=n_shards, m=12, ef_construction=64,
                               n_queries=5, k=10)

    if want("hnsw_recall_scaled"):
        results["hnsw_recall_scaled"] = measure(hnsw_scaled)
        print(json.dumps({"hnsw_recall_scaled": results["hnsw_recall_scaled"]}), flush=True)

    # knn_join with a 100k+ query side (r9 verdict #1): 60 shifted copies of
    # the base 2000 vectors = 120,000 queries at BOTH scales (above the 100k
    # driver-collect ceiling, so the query side is hash-split into bounded
    # block collects), against the full corpus. Exact brute-force kNN is O(n*q)
    # by definition, so with q fixed the exponent measures the corpus term
    # (~1.0 expected — the irreducible exact-scan cost; ivf_knn_join is the
    # sublinear ANN alternative). What the entry certifies is the SHAPE:
    # driver holds <= chunk_size queries at a time, executor distance
    # matrices stay <= the kernel's slice budget, and the answer is exact.
    def knn_chunked_scaled(sf):
        from lantern_extras_spark.operators import knn as KN

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        base = emb.where(F.col("vec_id") < ID_SHIFT)  # the 2000 base vectors
        q = None
        for c in range(60):
            part = base.select(
                (F.col("vec_id") + F.lit(c * 100_000_000)).alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            q = part if q is None else q.unionByName(part)
        KN.knn_join(emb, q, k=10, metric="cos").foreach(lambda r: None)

    if want("knn_chunked_scaled"):
        results["knn_chunked_scaled"] = measure(knn_chunked_scaled)
        print(json.dumps({"knn_chunked_scaled": results["knn_chunked_scaled"]}), flush=True)

    # salted_join on an ACTUALLY SKEWED key (r9 verdict #2): the committed
    # sweep previously only showed salting losing on an unskewed key (the
    # strategy-demo note). Fixture: one hot key carries 40% of lineitem rows
    # (l_orderkey%10<4 -> k=0), the rest spread over 1000 cold keys; dim has
    # one row per key. Both modes run with autoBroadcastJoinThreshold=-1 and
    # AQE skewJoin OFF — the regime the op exists for: a dim too large to
    # broadcast and an engine/shape AQE's post-hoc SMJ split doesn't cover
    # (explicit salting also fixes hash joins, pre-AQE engines, and layouts
    # downstream ops reuse). Plain -> the hot key's sort+merge lands on ONE
    # reducer; salted(32) -> 32 reducers share it.
    def _skew_frames(sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        left = li.select(
            F.when(F.pmod(F.col("l_orderkey"), 10) < 4, 0)
            .otherwise(F.pmod(F.xxhash64("l_orderkey"), 1000) + 1)
            .alias("k"),
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        )
        right = spark.range(0, 1001).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("dim_val")
        )
        return left, right

    def skew_demo(mode):
        from lantern_extras_spark.operators import skew as SKW

        def run(sf):
            left, right = _skew_frames(sf)
            old_bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            old_sk = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            try:
                if mode == "plain":
                    out = left.join(right, on="k", how="inner")
                else:
                    out = SKW.salted_join(left, right, on="k", salt=32)
                out.foreach(lambda r: None)
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bt)
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old_sk)

        return run

    for mode in ("plain", "salted"):
        key = f"{mode}_join_skewed"
        if want(key):
            results[key] = measure(skew_demo(mode))
            print(json.dumps({key: results[key]}), flush=True)

    # MinHash verify-stage trade-off (VERDICT r5 #6): exact verify
    # re-materializes full shingle sets per candidate pair; signature verify
    # reuses the already-shuffled n_hashes-long signatures — measure both so
    # the estimated-verify cost drop is recorded, not argued.
    def minhash_verify(mode):
        def run(sf):
            docs = spark.read.parquet(f"{sf}/documents.parquet")
            D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.8,
                            verify=mode).foreach(lambda r: None)
        return run

    for mode in ("exact", "signature"):
        key = f"minhash_verify_{mode}"
        if want(key):
            results[key] = measure(minhash_verify(mode))
            print(json.dumps({key: results[key]}), flush=True)

    out = {
        "metric": "sf1_scaling",
        "n_copies": N_COPIES,
        "iters_min_of": n_iter,
        "build_sf1_sec": build_s,
        "queries": results,
        "notes": {
            "salted_join": (
                "deliberately the skew-safety STRATEGY demo on an UNskewed "
                "key (orderkey): the salt-times right replication is pure "
                "overhead here and grows with the dim side, hence the steep "
                "exponent. See plain/salted_join_skewed for the op winning "
                "on an actually skewed key (the regime it exists for)"
            ),
            "plain_join_skewed": (
                "skewed fixture: one key = 40% of lineitem rows, 1000 cold "
                "keys, 1001-row dim; autoBroadcastJoinThreshold=-1 and AQE "
                "skewJoin OFF (the op's regime: dim above broadcast "
                "threshold, engine/shape without AQE's post-hoc SMJ split). "
                "The hot key's sort+merge lands on ONE reducer"
            ),
            "salted_join_skewed": (
                "same fixture/configs through salted_join(salt=32): the hot "
                "key's probe spreads across 32 reducers at the cost of a "
                "32x replication of the 1001-row dim - compare wall time "
                "and exponent against plain_join_skewed"
            ),
            "decontaminate_bloom": (
                "slower ABSOLUTELY than plain decontaminate at every scale "
                "on this fixture - the r10 sf10 sweep (SCALE_SF10.json) "
                "shows both converge to the same linear scan asymptote "
                "(e 0.80 vs 0.91) with the bloom paying k extra hashes per "
                "shingle: with a 10-doc benchmark the exact join is already "
                "a map-side broadcast probe, so there is no shuffle for the "
                "prefilter to save. Its real regime is a benchmark SUITE "
                "too large to broadcast (the earlier 'scales flatter' read "
                "was a first-decade artifact)"
            ),
            "embedding_neardup": (
                "driver-oracle config (n_planes=6, threshold=0.4): 64 buckets "
                "and a multi-million-pair true result on the jiggled sf1 corpus "
                "- its exponent measures output density, not operator scaling"
            ),
            "embedding_neardup_scaled": (
                "scale config (auto planes ~64 rows/bucket, GEMM bucket+verify, "
                "threshold=0.9) - the 100 TB path"
            ),
            "semantic_dedup": (
                "driver-oracle config (32 fixed cells, t=0.3), the registry "
                "query itself: GEMM similarities with fold-settled ties, the "
                "one kernel the DuckDB oracle certifies. Exponent tracks "
                "cell density growing with n - a config artifact"
            ),
            "near_moves": (
                "cost tracks the diff residue (added x removed posting join) "
                "and true-match output, both of which grow with sf in this "
                "construction (every 9th doc is a near-move) - real release "
                "diffs have residues orders of magnitude below corpus size"
            ),
            "semantic_dedup_scaled": (
                "scale config: nlist=None auto-scales k-means cells to ~2000 "
                "rows/cell, bounding per-cell pairwise work as the corpus "
                "grows; threshold=0.9 (true near-dup regime)"
            ),
            "minhash_verify": (
                "exact vs signature candidate verification at identical "
                "LSH params - signature reuses the banding signatures and "
                "skips shingle re-materialization (estimator std "
                "sqrt(J(1-J)/32))"
            ),
            "error_burst": (
                "deliberately the broadcast-nested-loop range-join STRATEGY "
                "demo (O(points x intervals) by construction, both sides grow "
                "with sf); error_burst_binned is the same query+oracle through "
                "the binned equi-join scale path - compare their exponents"
            ),
            "knn_chunked_scaled": (
                "120k queries (60 shifted copies of the 2000 base vectors, "
                "FIXED across scales - above the 100k partial ceiling) vs "
                "the full corpus, exact, k=10 cosine. Brute-force exact kNN "
                "is O(n*q) by definition so e~1.0 in the corpus term is the "
                "irreducible cost - the entry certifies the bounded SHAPE "
                "(driver <= chunk_size queries per block, executor distance "
                "matrices <= the kernel slice budget); ivf_knn_join is the "
                "sublinear ANN alternative"
            ),
            "hnsw_recall_scaled": (
                "r7: n_shards ∝ corpus (8 at sf0.1, 80 at sf1 — constant "
                "rows/shard, parallel builds, searches stay ONE batched job); "
                "e 0.418 (fixed 8 shards) -> 0.161. The 100 TB rule: size "
                "shards to executor memory, not a constant count"
            ),
            "ngram_jaccard_scaled": (
                "r7 AllPairs prefix filter at t=0.8 (strategy='prefix'): only "
                "n-ceil(t*n)+1 sorted hashes per doc reach the posting join, "
                "recall-lossless; e 0.515 -> ~0.27"
            ),
            "ngram_containment_scaled": (
                "r7 asymmetric prefix: smaller doc's prefix postings probe "
                "full postings of same-or-larger docs (|∩| >= t*min pins the "
                "smallest common hash in the small side's prefix). Exact; "
                "e 0.452 -> ~0.1 and absolutely faster than the plain index "
                "config. Remaining growth is true-pair output (inherent)"
            ),
            "minhash_lsh_pairs_scaled": (
                "r7 scale banding: 128-hash signatures, lsh_tune(0.8) -> "
                "b=8/r=16 band keys - false band collisions vanish (r=4 "
                "oracle banding collides at p=s^4 per band), candidate join "
                "carries true near-dups only; e 0.569 -> ~0.17. Remaining "
                "growth is true-pair output (the sf1 corpus adds duplicates "
                "linearly by construction)"
            ),
            "dedup_spans_scaled": (
                "r7 impl='rolling': batch-level SipHash + vectorized polynomial "
                "window hash replaces the per-window python md5 loop. Kernel "
                "itself measures 6x faster (1M-window microbench); end-to-end "
                "sf1 4.35s (md5, r6) -> ~2.3s, exponent 0.069 -> ~0.01-0.2 "
                "(noise band) - the data-dependent cost is now below Spark's "
                "fixed per-query overhead at this scale. md5 stays the "
                "oracle-parity config"
            ),
            "simhash_pairs": (
                "driver-oracle config (32-bit sig, 8-bit bands): only 256 "
                "band-key values, so candidate density grows with corpus size "
                "by construction; simhash_pairs_scaled (60-bit sig, 15-bit "
                "bands, 32768 keys/band) is the corpus-scale config"
            ),
            "ngram_containment": (
                "inverted-index posting-list join without the length-band "
                "prune (containment targets short-in-long pairs, so the prune "
                "would be wrong) - posting-list cost grows with corpus, "
                "exponent ~0.5 expected"
            ),
        },
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "SCALE_SF1.json")
    # a SPARK_GRAFT_SF1_ONLY subset run MERGES into the committed sweep —
    # overwriting with a partial file silently dropped 49 entries once
    if only and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        merged_queries = {**prev.get("queries", {}), **results}
        out["queries"] = merged_queries
        out["notes"] = {**prev.get("notes", {}), **out["notes"]}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
