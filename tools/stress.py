"""Scale stress harness: generates synthetic data 10-100× beyond sf0.1 in /tmp
and measures the scale-path operators — evidence that the chosen plans hold as
data grows (results recorded in SCALE.md).

Run: python tools/stress.py [n_vectors] [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from lantern_extras_spark import get_spark


def gen_vectors(spark, path: str, n: int, dim: int = 64, parts: int = 64) -> None:
    """Deterministic pseudo-random vectors generated distributed (no driver
    materialization) — rand(seed) per element."""
    df = spark.range(0, n, 1, parts).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=i) * 2 - 1).cast("float") for i in range(dim)]).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )
    df.write.mode("overwrite").parquet(path)


def gen_docs(spark, path: str, n: int, parts: int = 64) -> None:
    """Synthetic word-soup docs; every 20th doc shares the seed of its
    predecessor, giving an exact-duplicate rate of ~5% for dedup stress."""
    words = "the quick brown fox jumps over lazy dog spark shuffle partition merge join window batch stream vector hash scan filter".split()
    wcol = F.array(*[F.lit(w) for w in words])
    seed = F.when((F.col("id") % 20 == 0) & (F.col("id") > 0), F.col("id") - 1).otherwise(F.col("id"))
    base = spark.range(0, n, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.element_at(wcol, (((F.xxhash64(seed * 31 + i) % 20) + 20) % 20 + 1).cast("int")) for i in range(60)],
        ).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)


def gen_docs_diverse(spark, path: str, n: int, vocab: int = 5000, parts: int = 64) -> None:
    """Word-soup over a `vocab`-word hash-derived vocabulary: 3-gram shingles
    are discriminative (small posting lists), the regime real text lives in
    and the one the inverted-index ngram strategy targets. The 20-word
    `gen_docs` vocab is the degenerate opposite — dense posting lists — which
    is exactly what `max_block_rows` + MinHash routing exist for. ~5% of docs
    duplicate their predecessor so near-dup pairs exist."""
    seed = F.when((F.col("id") % 20 == 0) & (F.col("id") > 0), F.col("id") - 1).otherwise(F.col("id"))

    def word(i: int):
        return F.concat(F.lit("w"), (((F.xxhash64(seed * 131 + i) % vocab) + vocab) % vocab).cast("string"))

    base = spark.range(0, n, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(i) for i in range(60)]).alias("text"),
    )
    base.write.mode("overwrite").parquet(path)


def main() -> None:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_doc = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    base = "/tmp/lantern_stress"
    vec_path, doc_path = f"{base}/vectors", f"{base}/docs"

    timings = {}

    def timed(name, fn):
        t0 = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 2)
        return out

    timed("gen_vectors", lambda: gen_vectors(spark, vec_path, n_vec))
    timed("gen_docs", lambda: gen_docs(spark, doc_path, n_doc))
    vecs = spark.read.parquet(vec_path)
    docs = spark.read.parquet(doc_path)

    from lantern_extras_spark.operators import dedup as D
    from lantern_extras_spark.operators import ivf as IVF
    from lantern_extras_spark.operators import knn as K
    from lantern_extras_spark.operators import pq as PQ
    from lantern_extras_spark.embeddings.pipeline import embed_column

    q = vecs.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = vecs.where("vec_id >= 10")

    timed("knn_10q", lambda: K.knn_join(data, q, k=10, metric="cos").foreach(lambda r: None))

    def pq_flow():
        cb = PQ.build_codebook(vecs, vec_col="embedding", splits=8, k=256, max_train_rows=50_000)
        coded = PQ.quantize(vecs, cb, vec_col="embedding", as_binary=True)
        coded.write.mode("overwrite").parquet(f"{base}/coded")
    timed("pq_build_quantize_1M", pq_flow)

    def ivf_flow():
        indexed, cents = IVF.build_ivf(vecs, nlist=64, max_train_rows=50_000)
        indexed.write.mode("overwrite").partitionBy("cell").parquet(f"{base}/ivf")
        idx = spark.read.parquet(f"{base}/ivf")
        qv = [0.1] * 64
        IVF.ivf_topk(idx, cents, qv, k=10, nprobe=4).collect()
    timed("ivf_build_and_probe_1M", ivf_flow)

    def ivf_pq_flow():
        coded, cents, cb = IVF.build_ivf_pq(
            vecs, nlist=64, splits=8, k=256, max_train_rows=50_000, total_rows=n_vec
        )
        coded.write.mode("overwrite").partitionBy("cell").parquet(f"{base}/ivfpq")
        idx = spark.read.parquet(f"{base}/ivfpq")
        qv = [0.1] * 64
        IVF.ivf_pq_topk(idx, cents, cb, qv, k=10, nprobe=4).collect()
        # batched probe: 10 queries in ONE job (the autotune eval shape)
        qs = [(i, [0.1 * ((i + j) % 7) for j in range(64)]) for i in range(10)]
        IVF.ivf_pq_topk_batch(idx, cents, cb, qs, k=10, nprobe=4).foreach(lambda r: None)
    timed("ivf_pq_build_probe_batch10", ivf_pq_flow)

    timed("embed_hash_100k_docs", lambda: embed_column(docs, "text", "emb").foreach(lambda r: None))
    timed("exact_dedup_100k", lambda: D.exact_dedup(docs).where("is_duplicate").count())
    timed("minhash_lsh_100k", lambda: D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.8).count())
    timed("simhash_100k", lambda: D.simhash(docs).foreach(lambda r: None))

    # pairs → transitive components (iterative min-label propagation); the
    # ~5% predecessor-duplicate rate yields many 2-doc components — diameter
    # stays shallow, so rounds are few and each is one bounded join
    def clusters_flow():
        pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.8)
        return D.dedup_clusters(pairs).count()
    timed("dedup_clusters_pairs_to_components", clusters_flow)

    # embedding cosine near-dup over the full vector table: hyperplane-LSH
    # GEMM bucketing + per-bucket verify with the max_bucket skew guard;
    # rand() vectors are near-orthogonal so candidate pairs are sparse — the
    # cost measured is the bucketing scan + grouped verify
    timed(
        "embedding_neardup_1M",
        lambda: D.embedding_neardup_pairs(vecs, threshold=0.9, n_planes=12, dim=64).count(),
    )

    # exact ngram Jaccard via the inverted-index strategy on discriminative-
    # shingle docs (real-text regime); guard explicitly disabled — the caller
    # opts in, posting lists carry the cost
    doc2_path = f"{base}/docs_diverse"
    timed("gen_docs_diverse", lambda: gen_docs_diverse(spark, doc2_path, n_doc))
    docs2 = spark.read.parquet(doc2_path)
    timed(
        "ngram_index_exact",
        lambda: D.ngram_jaccard_pairs(docs2, threshold=0.5, max_block_rows=None).count(),
    )
    # containment metric shares the inverted-index plan (different score only)
    timed(
        "ngram_index_containment",
        lambda: D.ngram_jaccard_pairs(
            docs2, threshold=0.5, metric="containment", max_block_rows=None
        ).count(),
    )

    print(json.dumps({"n_vectors": n_vec, "n_docs": n_doc, "timings": timings}))


if __name__ == "__main__":
    main()
