"""Streaming exact dedup with applyInPandasWithState: within-batch and
cross-batch (checkpointed state) dedup semantics."""

import pytest

from lantern_extras_spark.streaming.stateful import start_dedup_stream


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],  # 3 dups 1 within batch
        "doc_id long, text string",
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_dedup_stream(spark, src, batch1.schema, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    texts1 = sorted(r["text"] for r in first.collect())
    assert texts1 == ["alpha", "beta"]

    # batch 2: one repeat from batch 1 (state must reject), one new
    batch2 = spark.createDataFrame([(4, "alpha"), (5, "gamma")], "doc_id long, text string")
    batch2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_dedup_stream(spark, src, batch1.schema, out, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    texts = sorted(r["text"] for r in final.collect())
    assert texts == ["alpha", "beta", "gamma"]  # 'alpha' admitted exactly once ever
    assert final.count() == 3


def test_streaming_near_dedup_across_batches(spark, tmp_path):
    """SimHash-band near-dup guard: exact and near duplicates are rejected
    within and across batches (state survives the checkpoint restart)."""
    from lantern_extras_spark.streaming.stateful import start_near_dedup_stream

    base = ("the quick brown fox jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the tall trees")
    src = str(tmp_path / "src"); out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(1, base),
         (2, base.replace("quick", "speedy")),  # near-dup of 1 -> rejected
         (3, "a completely different document about query planners and shuffles")],
        "doc_id long, text string",
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_near_dedup_stream(spark, src, batch1.schema, out, ckpt)
    q.awaitTermination(120)
    ids1 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids1 == [1, 3]

    batch2 = spark.createDataFrame(
        [(4, base.replace("lazy", "sleepy")),  # near-dup of 1, next batch -> state rejects
         (5, "entirely novel text describing streaming checkpoints and state stores")],
        "doc_id long, text string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_near_dedup_stream(spark, src, batch1.schema, out, ckpt)
    q2.awaitTermination(120)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 3, 5]


def test_near_dedup_band_collisions_do_not_drop_distinct_docs(spark, tmp_path):
    """ADVICE r3: with 8-bit bands (256 keys) and no verify, nearly every doc
    beyond the first few hundred collides on SOME band key and gets dropped —
    ~100% false-positive rate at stream scale. The hamming verify against the
    full simhashes stored in state makes a band-key collision cost a popcount,
    never a drop. 48 pairwise-distant docs (4 bands × 48 = 192 registrations
    over 256 keys/band ⇒ collisions certain) must ALL survive."""
    from lantern_extras_spark.operators.dedup import simhash
    from lantern_extras_spark.streaming.stateful import start_near_dedup_stream

    # disjoint per-doc vocabularies -> simhashes are ~uniform random 32-bit
    # values, pairwise distant yet certain to collide on some 8-bit band key
    docs = [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(48)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # preconditions: every pair is far in simhash space (> max_hamming=3), so
    # zero drops is the unambiguous correct answer — AND at least one band-key
    # collision exists, so the verify stage is actually exercised
    sims = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    mask = (1 << 64) - 1
    min_ham = min(
        bin((sims[a] ^ sims[b]) & mask).count("1")
        for a in sims for b in sims if a < b
    )
    assert min_ham > 3, f"fixture too close: min pairwise hamming {min_ham}"
    band_keys = [
        (b, (s >> (b * 8)) & 0xFF) for s in sims.values() for b in range(4)
    ]
    assert len(band_keys) > len(set(band_keys)), "fixture has no band collisions"

    src = str(tmp_path / "src"); out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_near_dedup_stream(spark, src, df.schema, out, ckpt)
    q.awaitTermination(180)
    survivors = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert survivors == list(range(48))


def test_ingest_dedup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once; re-running the SAME (batch, epoch) must
    overwrite its epoch=N directories, not append — output and store row
    counts are unchanged after the retry."""
    from lantern_extras_spark.streaming.stateful import ingest_dedup_batch

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "spark shuffles data between stages and caches hot sets")],
        "doc_id long, text string",
    )
    ingest_dedup_batch(b0, 0, out, store, threshold=0.9)
    b1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight"),  # store dup
         (11, "a genuinely new document about broadcast joins today")],
        "doc_id long, text string",
    )
    ingest_dedup_batch(b1, 1, out, store, threshold=0.9)
    survivors = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert survivors == [1, 2, 11]
    assert spark.read.parquet(store).count() == 3
    # retry of epoch 1 (same batch id): rewrites epoch=1, no duplicates
    ingest_dedup_batch(b1, 1, out, store, threshold=0.9)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2, 11]
    assert spark.read.parquet(store).count() == 3


def test_streaming_ingest_dedup_with_signature_store(spark, tmp_path):
    """foreachBatch incremental MinHash ingest: survivors land in the output
    AND their signatures in the store; a later batch is matched against the
    store (cross-batch dup rejected) without re-reading accepted text."""
    from lantern_extras_spark.streaming.stateful import start_ingest_dedup_stream

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt, store = str(tmp_path / "ckpt"), str(tmp_path / "store")

    batch1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "spark shuffles data between stages and caches hot sets"),
            (3, "the quick brown fox jumps over the lazy dog tonight"),  # in-batch dup
        ],
        "doc_id long, text string",
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_ingest_dedup_stream(spark, src, batch1.schema, out, ckpt, store,
                                  threshold=0.9)
    q.awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2]
    assert spark.read.parquet(store).count() == 2

    batch2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),  # store dup
            (11, "a genuinely new document about broadcast joins today"),
        ],
        "doc_id long, text string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_ingest_dedup_stream(spark, src, batch1.schema, out, ckpt, store,
                                   threshold=0.9)
    q2.awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 2, 11]
    assert spark.read.parquet(store).count() == 3


def test_ingest_semantic_batch_store_match_and_retry(spark, tmp_path):
    """Embedding-side ingest loop: batch-0 near-dup collapses within batch;
    batch-1 vector near a batch-0 SURVIVOR is rejected against the store
    (corpus provenance, no re-embedding); an epoch retry is idempotent."""
    import numpy as np

    from lantern_extras_spark.streaming.stateful import (
        ingest_semantic_batch,
        resolve_store_data_dir,
    )

    rng = np.random.RandomState(9)
    base = rng.randn(4, 16)
    cents = [[float(v) for v in base[i]] for i in range(2)]
    out, store = str(tmp_path / "sout"), str(tmp_path / "sstore")

    def sread():
        return spark.read.parquet(resolve_store_data_dir(spark, store))

    def df(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    v = lambda a: [float(x) for x in a]
    b0 = df([(1, v(base[2])), (2, v(base[2] + 1e-3 * rng.randn(16))),  # near-dup of 1
             (3, v(base[3]))])
    ingest_semantic_batch(b0, 0, out, store, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [1, 3]
    st = sread()
    assert sorted(r["vec_id"] for r in st.collect()) == [1, 3]
    assert "cell" in st.columns  # store is cell-partitioned-corpus shaped

    b1 = df([(10, v(base[2] + 1e-3 * rng.randn(16))),  # dup of stored 1
             (11, v(rng.randn(16)))])
    ingest_semantic_batch(b1, 1, out, store, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [1, 3, 11]
    assert sread().count() == 3
    # retry epoch 1: rewrites its own partition, nothing duplicated
    ingest_semantic_batch(b1, 1, out, store, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in spark.read.parquet(out).collect()) == [1, 3, 11]
    assert sread().count() == 3


def test_streaming_semantic_ingest_end_to_end(spark, tmp_path):
    """start_semantic_ingest_stream drains a source directory with
    availableNow and rejects cross-batch embedding dups via the store."""
    import numpy as np

    from lantern_extras_spark.streaming.stateful import start_semantic_ingest_stream

    rng = np.random.RandomState(17)
    base = rng.randn(6, 16)
    cents = [[float(v) for v in base[i]] for i in range(2)]
    rows = [(i, [float(x) for x in base[2 + (i % 3)] + 1e-3 * rng.randn(16)])
            for i in range(12)]  # 12 rows, only 3 distinct directions
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_semantic_ingest_stream(
        spark, src, df.schema, str(tmp_path / "o"), str(tmp_path / "c"),
        str(tmp_path / "s"), cents, threshold=0.95,
    )
    q.awaitTermination(180)
    kept = sorted(r["vec_id"] for r in spark.read.parquet(str(tmp_path / "o")).collect())
    assert kept == [0, 1, 2]  # one survivor per direction, min-id winners


def test_store_read_failure_routing(spark, tmp_path):
    """ADVICE r7 (medium): only a genuinely-missing store (first batch)
    routes to the batch-only branch; any OTHER store read failure re-raises
    so the micro-batch retries instead of silently skipping cross-batch
    dedup and admitting duplicates."""
    import pyspark.sql.functions as F
    import pytest
    from pyspark.errors import AnalysisException

    from lantern_extras_spark.streaming.stateful import _read_store_or_none

    # absent path -> first-batch branch
    assert _read_store_or_none(spark, str(tmp_path / "nope")) is None
    # present but still-empty dir (no files yet) -> still first-batch
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_store_or_none(spark, str(empty)) is None
    # dir holding a CORRUPT/non-parquet file: that store exists but is
    # broken — must raise (Spark surfaces it as a footer-read failure)
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0000.parquet").write_text("not parquet")
    with pytest.raises(Exception, match="[Pp]arquet|FOOTER|corrupt"):
        df = _read_store_or_none(spark, str(corrupt))
        if df is not None:  # pragma: no cover — read may defer to action time
            df.count()
    # store exists but is INCOMPATIBLE (required columns missing): that is a
    # real failure — must raise, not silently route to batch-only
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    with pytest.raises(AnalysisException):
        _read_store_or_none(spark, bad, ["doc_id", "sig"])
    # compatible store round-trips
    good = str(tmp_path / "good")
    spark.range(3).select(F.col("id").alias("doc_id"),
                          F.lit("s").alias("sig")).write.parquet(good)
    assert _read_store_or_none(spark, good, ["doc_id", "sig"]).count() == 3


def test_store_read_routing_uses_no_deprecated_api(spark, tmp_path):
    """The missing-store routing reads the error condition through the
    current API: no FutureWarning (getErrorClass is deprecated) is raised."""
    import warnings

    from lantern_extras_spark.streaming.stateful import _read_store_or_none

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _read_store_or_none(spark, str(tmp_path / "nope")) is None
    assert not [w for w in caught if issubclass(w.category, FutureWarning)]


def test_semantic_store_refresh_restores_recall(spark, tmp_path):
    """r7 verdict item 6: the ingest loop pins centroids forever; under
    embedding drift, near-dup pairs straddle cell boundaries fitted to the
    OLD distribution and cell-confined recall decays. The drift monitor
    fires, `refresh_semantic_store` re-clusters + re-assigns, and recall
    is restored."""
    import numpy as np
    from pyspark.sql import functions as F

    from lantern_extras_spark.operators.dedup import semantic_dedup_recall
    from lantern_extras_spark.streaming.stateful import (
        ingest_semantic_batch,
        refresh_semantic_store,
        semantic_store_drift,
    )

    dim = 32
    rng = np.random.RandomState(7)

    def vec(base, jitter=0.0):
        v = np.zeros(dim)
        v[base[0]] = base[1]
        if jitter:
            v = v + rng.randn(dim) * jitter
        return [float(x) for x in v]

    # old geometry: four well-separated centroids on axes e0/e1
    old_cents = [vec((0, 10.0)), vec((0, -10.0)), vec((1, 10.0)), vec((1, -10.0))]
    base_rows = [(i, vec((i % 4 // 2, 10.0 if i % 2 == 0 else -10.0), 0.02))
                 for i in range(8)]
    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")
    bdf = spark.createDataFrame(base_rows, "vec_id long, embedding array<double>")
    ingest_semantic_batch(bdf, 0, out_dir, store_dir, old_cents, threshold=0.999)

    # DRIFTED region at 10*e2: near-dup pairs split by the old e0 boundary
    # (x has a tiny +e0 component, y a tiny -e0 one -> different old cells)
    drift_rows = []
    for p in range(6):
        v = np.zeros(dim)
        v[2] = 10.0
        v[3] = 3.0 * p  # spread PAIRS far apart (cos < 0.999 across pairs)
        x, y = v.copy(), v.copy()
        x[0], y[0] = 0.05, -0.05
        drift_rows.append((100 + 2 * p, [float(t) for t in x]))
        drift_rows.append((101 + 2 * p, [float(t) for t in y]))
    ddf = spark.createDataFrame(drift_rows, "vec_id long, embedding array<double>")
    ingest_semantic_batch(ddf, 1, out_dir, store_dir, old_cents, threshold=0.999)

    # every drifted pair survived ingest (cell-split -> never compared)
    from lantern_extras_spark.streaming.stateful import resolve_store_data_dir

    store = spark.read.parquet(resolve_store_data_dir(spark, store_dir))
    assert store.where(F.col("vec_id") >= 100).count() == 12

    # the drift monitor fires across the epoch split
    drift = semantic_store_drift(spark, store_dir, split_epoch=0).first()
    assert drift["max_abs_mean_delta"] > 1.0, drift

    # recall under OLD centroids: the drifted pairs are missed
    rows = store.select("vec_id", "embedding")
    r_old = semantic_dedup_recall(rows, old_cents, threshold=0.999,
                                  sample_k=10_000).first()
    assert r_old["n_true_pairs"] >= 6
    assert r_old["recall"] < 0.5, r_old

    # refresh: re-fit on the CURRENT distribution, re-assign, epoch=-1
    # rewrite published as the next store VERSION (reader-transparent flip)
    n_before = store.count()
    new_cents = refresh_semantic_store(spark, store_dir, nlist=5)
    refreshed = spark.read.parquet(resolve_store_data_dir(spark, store_dir))
    assert refreshed.count() == n_before
    assert set(refreshed.select("epoch").distinct().toPandas()["epoch"]) == {-1}
    r_new = semantic_dedup_recall(refreshed.select("vec_id", "embedding"),
                                  new_cents, threshold=0.999,
                                  sample_k=10_000).first()
    assert r_new["recall"] >= 0.9, (r_old["recall"], r_new["recall"])


def test_streaming_cms_ingest_and_merge(spark, tmp_path):
    """foreachBatch CMS ingest: each micro-batch writes its own epoch sketch;
    the merged store equals a single batch-built sketch over all data (CMS
    linearity), and estimates never undercount."""
    from pyspark.sql import functions as F

    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.sketches import cms_build, cms_estimate
    from lantern_extras_spark.streaming.stateful import (
        ingest_cms_batch,
        read_cms_store,
        start_cms_ingest_stream,
    )

    src = str(tmp_path / "src")
    ckpt, store = str(tmp_path / "ckpt"), str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")], "doc_id long, text string"
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_cms_ingest_stream(spark, src, b1.schema, ckpt, store, width=64)
    q.awaitTermination(120)

    b2 = spark.createDataFrame([(3, "alpha delta")], "doc_id long, text string")
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_cms_ingest_stream(spark, src, b1.schema, ckpt, store, width=64)
    q2.awaitTermination(120)

    merged = read_cms_store(spark, store)
    whole = cms_build(
        b1.unionByName(b2).select(F.explode(tokens(F.col("text"))).alias("__key")),
        "__key", depth=4, width=64,
    )
    as_map = lambda df: {(r["r"], r["b"]): r["c"] for r in df.collect()}
    assert as_map(merged) == as_map(whole)

    keys = spark.createDataFrame([("alpha",), ("beta",), ("zzz",)], "__key string")
    est = {r["__key"]: r["cms_est"]
           for r in cms_estimate(merged, keys, "__key", depth=4, width=64).collect()}
    assert est["alpha"] >= 3 and est["beta"] >= 2 and est["zzz"] >= 0

    # retry idempotency: re-running an epoch overwrites, never double-counts
    ingest_cms_batch(b2, 1, store, width=64)
    assert as_map(read_cms_store(spark, store)) == as_map(whole)


def test_streaming_bm25_store_matches_batch_and_is_idempotent(spark, tmp_path):
    """foreachBatch BM25 ingest: the store-served search must be IDENTICAL
    (ids, scores, ranks) to retrieval.bm25_topk over the union of every
    ingested batch, with fresh results after each epoch; an epoch retry
    overwrites (never double-counts)."""
    from pyspark.sql import functions as F

    from lantern_extras_spark.operators.retrieval import bm25_topk
    from lantern_extras_spark.streaming.stateful import (
        bm25_search_store,
        ingest_bm25_batch,
        start_bm25_ingest_stream,
    )

    src = str(tmp_path / "src")
    ckpt, store = str(tmp_path / "ckpt"), str(tmp_path / "store")
    terms = ["spark", "join"]
    b1 = spark.createDataFrame(
        [
            (1, "spark join spark window"),
            (2, "join merge shuffle"),
            (3, "totally unrelated words"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_bm25_ingest_stream(spark, src, b1.schema, ckpt, store)
    q.awaitTermination(120)

    def served():
        return [
            (r["doc_id"], r["score"], r["rnk"])
            for r in bm25_search_store(spark, store, terms, k=4).collect()
        ]

    def batch(df):
        return [
            (r["doc_id"], r["score"], r["rnk"])
            for r in bm25_topk(df, terms, k=4).collect()
        ]

    assert served() == batch(b1)

    # second epoch arrives: stats (N, sum_dl, df) AND postings all shift —
    # the served ranking must track the new corpus exactly
    b2 = spark.createDataFrame(
        [(5, "spark spark spark"), (6, "join words here")],
        "doc_id long, text string",
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_bm25_ingest_stream(spark, src, b1.schema, ckpt, store)
    q2.awaitTermination(120)
    both = b1.unionByName(b2)
    assert served() == batch(both)

    # retry idempotence: re-ingesting epoch 1 rewrites identical partitions
    ingest_bm25_batch(b2, 1, store)
    assert served() == batch(both)

    with __import__("pytest").raises(ValueError, match="query_terms"):
        bm25_search_store(spark, store, [])


def test_streaming_ivf_store_matches_batch_and_prunes_cells(spark, tmp_path):
    """foreachBatch IVF ingest under a fixed codebook: store-served top-k
    must equal batch ivf_topk over the union of every ingested batch, stay
    fresh after each epoch, survive an epoch retry, and the store scan must
    prune to the probed cell directories."""
    import numpy as np
    from pyspark.sql import functions as F

    from lantern_extras_spark.operators.ivf import (
        assign_cells,
        ivf_topk,
        save_centroids,
    )
    from lantern_extras_spark.streaming.stateful import (
        ingest_ivf_batch,
        ivf_search_store,
        start_ivf_ingest_stream,
    )

    rng = np.random.RandomState(3)
    def batch_df(ids):
        rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in ids]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = [[float(x) for x in rng.randn(8)] for _ in range(4)]
    cdir = str(tmp_path / "centroids")
    save_centroids(spark, cents, cdir)
    src = str(tmp_path / "src")
    ckpt, store = str(tmp_path / "ckpt"), str(tmp_path / "store")

    b1 = batch_df(range(0, 40))
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_ivf_ingest_stream(spark, src, b1.schema, ckpt, store, cdir)
    q.awaitTermination(120)

    qv = [float(x) for x in rng.randn(8)]

    def served():
        return [
            (r["vec_id"], round(r["distance"], 9))
            for r in ivf_search_store(spark, store, cdir, qv, k=5, nprobe=2).collect()
        ]

    def batch(df):
        idx = assign_cells(df, cents)
        return [
            (r["vec_id"], round(r["distance"], 9))
            for r in ivf_topk(idx, cents, qv, k=5, nprobe=2).collect()
        ]

    assert served() == batch(b1)

    b2 = batch_df(range(40, 70))
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_ivf_ingest_stream(spark, src, b1.schema, ckpt, store, cdir)
    q2.awaitTermination(120)
    both = b1.unionByName(b2)
    assert served() == batch(both)

    # retry idempotence
    ingest_ivf_batch(b2, 1, store, cdir)
    assert served() == batch(both)

    # storage-layer pruning: the probe filter must reach PartitionFilters
    plan = ivf_search_store(spark, store, cdir, qv, k=5, nprobe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200], plan


def test_streaming_hnsw_store_recall_and_freshness(spark, tmp_path):
    """LSM-style HNSW epochs: vectors are searchable the moment their epoch
    lands, recall vs the exact scan stays perfect on seeded small shards
    across the epoch pile, and an epoch retry rewrites byte-identical
    graphs."""
    import numpy as np

    from lantern_extras_spark.operators.knn import knn_join
    from lantern_extras_spark.streaming.stateful import (
        hnsw_search_store,
        ingest_hnsw_batch,
        start_hnsw_ingest_stream,
    )

    rng = np.random.RandomState(9)

    def batch_df(ids):
        rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in ids]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    src = str(tmp_path / "src")
    ckpt, store = str(tmp_path / "ckpt"), str(tmp_path / "store")
    b1 = batch_df(range(0, 60))
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    q = start_hnsw_ingest_stream(spark, src, b1.schema, ckpt, store,
                                 n_shards=2, metric="l2sq")
    q.awaitTermination(120)

    queries = [(0, [float(x) for x in rng.randn(8)]) for _ in range(1)]
    queries += [(1, [float(x) for x in rng.randn(8)])]

    def served_ids():
        return {
            (r["query_id"], r["vec_id"])
            for r in hnsw_search_store(spark, store, queries, k=5).collect()
        }

    def exact_ids(df):
        qdf = spark.createDataFrame(
            [(qid, v) for qid, v in queries],
            "query_id long, query_vec array<double>",
        )
        return {
            (r["query_id"], r["vec_id"])
            for r in knn_join(df, qdf, k=5, metric="l2sq").collect()
        }

    got1 = served_ids()
    assert len(got1 & exact_ids(b1)) / len(exact_ids(b1)) >= 0.9

    b2 = batch_df(range(60, 100))
    b2.coalesce(1).write.mode("append").parquet(src)
    q2 = start_hnsw_ingest_stream(spark, src, b1.schema, ckpt, store,
                                  n_shards=2, metric="l2sq")
    q2.awaitTermination(120)
    both = b1.unionByName(b2)
    got2 = served_ids()
    assert len(got2 & exact_ids(both)) / len(exact_ids(both)) >= 0.9
    assert got2 != got1  # epoch-2 vectors actually reached the ranking

    # retry idempotence: seeded, id-sorted builds rewrite identical graphs
    # (the store is versioned from birth — resolve through the pointer)
    from lantern_extras_spark.streaming.stateful import resolve_store_data_dir

    data = resolve_store_data_dir(spark, store)
    before = {
        (r["shard"],): bytes(r["index"])
        for r in spark.read.parquet(f"{data}/epoch=1").collect()
    }
    ingest_hnsw_batch(b2, 1, store, n_shards=2, metric="l2sq")
    after = {
        (r["shard"],): bytes(r["index"])
        for r in spark.read.parquet(f"{data}/epoch=1").collect()
    }
    assert before == after


def test_hnsw_store_compaction_restores_fanout_recall_pinned(spark, tmp_path):
    """r9 verdict #7: the compaction POLICY. Pile up epochs via
    ingest_hnsw_batch until maybe_compact's trigger fires; compaction must
    collapse the store to ONE epoch / n_shards shards (the per-epoch search
    cost that was growing as q*k*total_shards), the swap must be atomic to
    a single epoch=-1 partition, and recall vs the exact scan must stay
    pinned at the pre-compaction level."""
    import numpy as np

    from lantern_extras_spark.operators.knn import knn_join
    from lantern_extras_spark.streaming.stateful import (
        hnsw_search_store,
        hnsw_store_stats,
        ingest_hnsw_batch,
        maybe_compact_hnsw_store,
    )

    rng = np.random.RandomState(13)
    all_rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(120)]
    store = str(tmp_path / "store")
    for epoch in range(6):  # 6 epochs x 2 shards = 12-shard fan-out
        part = spark.createDataFrame(
            all_rows[epoch * 20 : (epoch + 1) * 20],
            "vec_id long, embedding array<double>",
        )
        ingest_hnsw_batch(part, epoch, store, n_shards=2, metric="l2sq")

    stats = hnsw_store_stats(spark, store)
    assert stats == {"epochs": 6, "total_shards": 12, "rows": 120}

    source = spark.createDataFrame(all_rows, "vec_id long, embedding array<double>")
    queries = [(qid, [float(x) for x in rng.randn(8)]) for qid in range(3)]
    qdf = spark.createDataFrame(
        queries, "query_id long, query_vec array<double>"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join(source, qdf, k=5, metric="l2sq").collect()
    }

    def served():
        return {
            (r["query_id"], r["vec_id"])
            for r in hnsw_search_store(spark, store, queries, k=5).collect()
        }

    recall_before = len(served() & exact) / len(exact)

    # under-threshold: policy declines (cheap metadata check, no rebuild)
    assert not maybe_compact_hnsw_store(
        spark, store, source, max_epochs=10, n_shards=2, metric="l2sq"
    )
    assert hnsw_store_stats(spark, store)["epochs"] == 6

    # over-threshold: compaction runs and restores the single-shard-set cost
    assert maybe_compact_hnsw_store(
        spark, store, source, max_epochs=4, n_shards=2, metric="l2sq"
    )
    stats2 = hnsw_store_stats(spark, store)
    assert stats2 == {"epochs": 1, "total_shards": 2, "rows": 120}
    import os

    from lantern_extras_spark.streaming.stateful import resolve_store_data_dir

    assert os.path.isdir(
        os.path.join(resolve_store_data_dir(spark, store), "epoch=-1")
    )

    # recall pinned: the compacted graph serves at least as well
    recall_after = len(served() & exact) / len(exact)
    assert recall_after >= recall_before >= 0.9

    # shard-budget trigger fires independently of the epoch count
    ingest_hnsw_batch(
        spark.createDataFrame(all_rows[:20], "vec_id long, embedding array<double>"),
        7, store, n_shards=2, metric="l2sq",
    )
    assert maybe_compact_hnsw_store(
        spark, store, source, max_epochs=10, max_shards=3,
        n_shards=2, metric="l2sq",
    )
    assert hnsw_store_stats(spark, store)["total_shards"] == 2

    import pytest as _pt

    with _pt.raises(ValueError, match="max_epochs"):
        maybe_compact_hnsw_store(spark, store, source, max_epochs=0)


def test_bm25_store_duplicate_query_terms_match_batch(spark, tmp_path):
    """A repeated query term must double-count exactly as the batch scorer
    does (each occurrence is one declaration-order contribution)."""
    from lantern_extras_spark.operators.retrieval import bm25_topk
    from lantern_extras_spark.streaming.stateful import (
        bm25_search_store,
        ingest_bm25_batch,
    )

    df = spark.createDataFrame(
        [(1, "spark spark join"), (2, "join join join"), (3, "other words")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    ingest_bm25_batch(df, 0, store)
    terms = ["spark", "join", "spark"]  # 'spark' weighted twice
    served = [(r["doc_id"], r["score"], r["rnk"])
              for r in bm25_search_store(spark, store, terms, k=3).collect()]
    batch = [(r["doc_id"], r["score"], r["rnk"])
             for r in bm25_topk(df, terms, k=3).collect()]
    assert served == batch


def test_ingest_hash_batch_store_match_retry_and_compaction(spark, tmp_path):
    """The media-hash twin of the MinHash ingest loop: cross-epoch banded
    Hamming matching against the store, within-batch keep-first, per-epoch
    overwrite idempotency — and the r11 compaction policy folding the epoch
    pile into one epoch=-1 partition with match behavior unchanged and
    per-batch file overhead back to a constant."""
    from lantern_extras_spark.streaming.stateful import (
        hash_store_stats,
        ingest_hash_batch,
        maybe_compact_hash_store,
        resolve_store_data_dir,
    )

    def store_rows():
        return spark.read.parquet(resolve_store_data_dir(spark, store))

    out, store = str(tmp_path / "out"), str(tmp_path / "store")
    base = 0x1234_5678_9ABC_DEF0

    def batch(rows):
        return spark.createDataFrame(rows, "media_id long, phash long")

    # epoch 0: two distinct hashes + a within-batch near-dup (keep-first)
    ingest_hash_batch(batch([(1, base), (2, base ^ 3), (3, -42)]), 0, out, store)
    assert sorted(r["media_id"] for r in spark.read.parquet(out).collect()) == [1, 3]
    # epoch 1: store dup (hamming 1 vs base), a null hash, a new hash
    ingest_hash_batch(batch([(10, base ^ 1), (11, None), (12, 777)]), 1, out, store)
    survivors = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert survivors == [1, 3, 11, 12]
    # null-hash survivor is kept in OUTPUT but not in the store
    assert sorted(r["media_id"] for r in store_rows().collect()) == [1, 3, 12]
    # retry of epoch 1: overwrites its own partitions, no duplicates
    ingest_hash_batch(batch([(10, base ^ 1), (11, None), (12, 777)]), 1, out, store)
    assert sorted(r["media_id"] for r in spark.read.parquet(out).collect()) == [1, 3, 11, 12]
    assert store_rows().count() == 3

    # grow the pile: epochs 2..9, each one new well-separated hash
    # (golden-ratio multiples are pairwise far in Hamming distance)
    for e in range(2, 10):
        h = ((100 + e) * 0x9E3779B97F4A7C15) % (1 << 63)
        ingest_hash_batch(batch([(100 + e, h)]), e, out, store)
    before = hash_store_stats(spark, store)
    assert before["epochs"] == 10 and before["rows"] == 11
    # under the threshold: no-op
    assert maybe_compact_hash_store(spark, store, max_epochs=16) is False
    # over the threshold: compacts to ONE epoch=-1 partition, bounded files
    assert maybe_compact_hash_store(spark, store, max_epochs=4, n_files=2) is True
    after = hash_store_stats(spark, store)
    assert after["epochs"] == 1 and after["rows"] == 11
    assert after["files"] <= 2 < before["files"]
    # match behavior unchanged against the compacted store
    ingest_hash_batch(batch([(200, base ^ 2), (201, 555_555)]), 20, out, store)
    survivors = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert 200 not in survivors and 201 in survivors
    # and the pile resumes growing from the compacted baseline
    assert hash_store_stats(spark, store)["epochs"] == 2


def test_hash_store_writer_lock(spark, tmp_path):
    """Two writers against one hash store: the second fails LOUDLY
    (StoreLockError) instead of racing the non-transactional compaction
    swap — the r11 'pause the ingest stream' convention, enforced."""
    import pytest as _pt

    from lantern_extras_spark.streaming.stateful import (
        StoreLockError,
        _store_writer_lock,
        compact_hash_store,
        force_unlock_store,
        ingest_hash_batch,
        resolve_store_data_dir,
    )

    out, store = str(tmp_path / "out"), str(tmp_path / "store")

    def store_count():
        return spark.read.parquet(resolve_store_data_dir(spark, store)).count()

    def batch(rows):
        return spark.createDataFrame(rows, "media_id long, phash long")

    def h(i):  # pairwise-far hashes (same trick as the compaction test)
        return (i * 0x9E3779B97F4A7C15) % (1 << 63)

    # normal single-writer flow: lock acquired + released per call
    ingest_hash_batch(batch([(1, h(1)), (2, h(2))]), 0, out, store)
    ingest_hash_batch(batch([(3, h(3))]), 1, out, store)
    assert store_count() == 3

    # writer A holds the lock (a mid-flight ingest/compaction elsewhere):
    # writer B's ingest AND a manual compaction both refuse to run, and the
    # error names the holder (owner/host/pid from the lock file content)
    with _store_writer_lock(spark, store, "writer A"):
        with _pt.raises(StoreLockError, match="writer A"):
            ingest_hash_batch(batch([(9, h(9))]), 2, out, store)
        with _pt.raises(StoreLockError, match="locked by another writer"):
            compact_hash_store(spark, store)
    # orphaned-lock recovery (hard crash never runs the unlock): the
    # operator escape hatch clears it after confirming the holder is dead
    with _pt.raises(StoreLockError):
        with _store_writer_lock(spark, store, "crasher"):
            raise StoreLockError("simulated crash")  # finally DOES unlock here
    # the truly-orphaned case: create the lock out-of-band
    from lantern_extras_spark.streaming.stateful import _store_lock_fs

    fs, lock, _ = _store_lock_fs(spark, store)
    assert fs.createNewFile(lock)
    with _pt.raises(StoreLockError):
        ingest_hash_batch(batch([(90, h(90))]), 5, out, store)
    assert force_unlock_store(spark, store) is True
    assert force_unlock_store(spark, store) is False  # already clear
    # lock released on exit: both proceed again
    ingest_hash_batch(batch([(9, h(9))]), 2, out, store)
    compact_hash_store(spark, store, n_files=1)
    assert store_count() == 4
    # the interrupted epoch-2 ingest never half-wrote: survivors intact
    assert sorted(r["media_id"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 9]


def test_compaction_is_reader_transparent(spark, tmp_path):
    """r12 verdict #6: a reader polling the store while compactions run
    never sees an empty or partial view — compaction writes the folded
    data into the NEXT version directory and flips the `_CURRENT` pointer
    atomically (previous version retained one flip as grace)."""
    import threading

    from lantern_extras_spark.streaming.stateful import (
        compact_hash_store,
        ingest_hash_batch,
        resolve_store_data_dir,
    )

    out, store = str(tmp_path / "out"), str(tmp_path / "store")

    def h(i):
        return (i * 0x9E3779B97F4A7C15) % (1 << 63)

    for e in range(6):
        ingest_hash_batch(
            spark.createDataFrame([(e, h(e))], "media_id long, phash long"),
            e, out, store,
        )
    expected = 6
    stop = threading.Event()
    observed: list[int] = []
    errors: list[BaseException] = []

    def poll():
        try:
            while not stop.is_set():
                n = spark.read.parquet(
                    resolve_store_data_dir(spark, store)
                ).count()
                observed.append(n)
        except BaseException as e:  # noqa: BLE001 — surfaced to the assert
            errors.append(e)

    t = threading.Thread(target=poll)
    t.start()
    try:
        for _ in range(3):  # repeated flips: v2, v3, v4
            compact_hash_store(spark, store, n_files=1)
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors[0]
    assert observed and all(n == expected for n in observed), (
        f"reader saw row counts {sorted(set(observed))}, expected {{{expected}}}"
    )
    # retention: newest + one grace version on disk, older ones swept
    import os as _os

    versions = sorted(d for d in _os.listdir(store) if d.startswith("v"))
    assert versions == ["v00003", "v00004"]


def test_legacy_flat_store_migrates_on_first_compaction(spark, tmp_path):
    """Stores created before the versioned layout (flat epoch=N under
    store_dir) keep ingesting flat; their FIRST compaction migrates them to
    v00001 + _CURRENT with rows and match behavior unchanged, and ingest
    resumes inside the versioned layout."""
    import os as _os

    from lantern_extras_spark.streaming.stateful import (
        compact_hash_store,
        hash_store_stats,
        ingest_hash_batch,
        resolve_store_data_dir,
    )

    out, store = str(tmp_path / "out"), str(tmp_path / "store")

    def h(i):
        return (i * 0x9E3779B97F4A7C15) % (1 << 63)

    # fabricate a pre-versioning store: flat epoch partitions, no _CURRENT
    for e in range(3):
        spark.createDataFrame(
            [(e, h(e))], "media_id long, phash long"
        ).write.parquet(f"{store}/epoch={e}")
    assert resolve_store_data_dir(spark, store) == store  # legacy resolves flat
    # ingest against the legacy store stays flat (no surprise migration)
    ingest_hash_batch(
        spark.createDataFrame([(10, h(10))], "media_id long, phash long"),
        3, out, store,
    )
    assert _os.path.isdir(f"{store}/epoch=3") and not _os.path.exists(
        f"{store}/_CURRENT"
    )
    assert hash_store_stats(spark, store) == {
        "epochs": 4, "rows": 4, "files": hash_store_stats(spark, store)["files"]
    }
    # first compaction migrates: versioned layout, flat partitions swept
    compact_hash_store(spark, store, n_files=1)
    assert _os.path.exists(f"{store}/_CURRENT")
    assert resolve_store_data_dir(spark, store).endswith("/v00001")
    assert not any(d.startswith("epoch=") for d in _os.listdir(store))
    assert hash_store_stats(spark, store)["rows"] == 4
    # post-migration ingest lands INSIDE the current version
    ingest_hash_batch(
        spark.createDataFrame([(20, h(20))], "media_id long, phash long"),
        9, out, store,
    )
    assert _os.path.isdir(f"{store}/v00001/epoch=9")
    assert hash_store_stats(spark, store) == {
        "epochs": 2, "rows": 5,
        "files": hash_store_stats(spark, store)["files"],
    }
    # store-dup matching still works across the migrated store
    ingest_hash_batch(
        spark.createDataFrame(
            [(30, h(2) ^ 1), (31, h(77))], "media_id long, phash long"
        ),
        10, out, store,
    )
    survivors = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert 30 not in survivors and 31 in survivors


def test_hnsw_writers_serialized_by_lock(spark, tmp_path):
    """The HNSW store shares the hash store's writer-lock contract: an
    epoch ingest racing a compaction's version flip could land in the
    grace-retained OLD version and be swept — both writers must refuse
    while another holds the lock."""
    import pytest as _pt

    from lantern_extras_spark.streaming.stateful import (
        StoreLockError,
        _store_writer_lock,
        compact_hnsw_store,
        ingest_hnsw_batch,
    )

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    ingest_hnsw_batch(df, 0, store, n_shards=2, metric="l2sq")
    with _store_writer_lock(spark, store, "writer A"):
        with _pt.raises(StoreLockError, match="writer A"):
            ingest_hnsw_batch(df, 1, store, n_shards=2, metric="l2sq")
        with _pt.raises(StoreLockError, match="locked by another writer"):
            compact_hnsw_store(spark, store, df, n_shards=2, metric="l2sq")
    # released: both proceed
    ingest_hnsw_batch(df, 1, store, n_shards=2, metric="l2sq")
    compact_hnsw_store(spark, store, df, n_shards=2, metric="l2sq")
