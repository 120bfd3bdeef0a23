"""Binary quantization (BQ) — the fourth member of the compressed-search
family next to PQ (operators/pq.py), IVF (operators/ivf.py) and SQ8
(operators/sq.py): 1 bit per dimension.

bit_j = v_j > mid_j with mid = per-dimension midrange (min+max)/2 — midrange
rather than mean because min/max are order-insensitive aggregates, so the
threshold (and therefore every code) is bit-deterministic across engines and
partitionings; a mean over doubles is not. Codes pack 32 bits per
`array<bigint>` word (64× smaller than float32 at dim≫32; the reference's
index server speaks exactly this representation on the wire — B1 element
frames, serving/index_server.py; lantern_cli/src/external_index/server.rs).

Search is the classic two-stage plan: Hamming distance over the packed codes
(bit_count(xor) — pure integer arithmetic, whole-stage codegen) prunes the
corpus to k·oversample candidates, then an exact float rerank orders the
survivors. At 100 TB the scan reads ~1/32 of the float bytes for stage one
and fetches full vectors for only the bounded candidate set.

Everything is Column expressions; the DuckDB oracle replays the pipeline on
UNPACKED bits (Σ bit differences == popcount of the packed xor — pinned by
test), so cross-engine hash parity covers threshold, bits, Hamming ranking,
tie-breaks and the exact rerank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.functions.portable import pround
from lantern_extras_spark.functions.vector import l2sq_dist

WORD_BITS = 32  # 32 bits per bigint word: values < 2^32 never touch the sign


def bq_train(df: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension midrange thresholds — the entire BQ 'codebook' (dim
    doubles). One narrow posexplode + partial-aggregated groupBy(dim); only
    the dim-sized result is collected (same contract as `sq8_train`)."""
    rows = (
        df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    if not rows:
        raise ValueError("bq_train: empty input — no thresholds to fit")
    by_dim = {r["dim"]: (r["mn"], r["mx"]) for r in rows}
    dims = sorted(by_dim)
    counts = {r["n"] for r in rows}
    if dims != list(range(len(dims))) or len(counts) != 1:
        raise ValueError(
            f"bq_train: ragged vectors (dims seen: {dims[:8]}…, "
            f"per-dim counts: {sorted(counts)[:4]})"
        )
    return [(float(by_dim[d][0]) + float(by_dim[d][1])) / 2.0 for d in dims]


def _bits_col(vec: Column, mids: list[float]) -> Column:
    mids_a = F.lit([float(m) for m in mids]).cast("array<double>")
    return F.zip_with(
        vec.cast("array<double>"), mids_a,
        lambda v, m: F.when(v > m, F.lit(1)).otherwise(F.lit(0)),
    )


def _pack_words(bits: Column, dim: int) -> Column:
    """Pack a {0,1} int array into 32-bit words stored in array<bigint>:
    word_w = fold(acc·2 + bit) over bits[w·32 … w·32+31] — exact integer
    arithmetic, identical on every engine. The final word of a non-multiple
    dim is shorter (consistent as long as encode and query use the same
    packing)."""
    words = []
    for w in range(0, dim, WORD_BITS):
        n = min(WORD_BITS, dim - w)
        words.append(
            F.aggregate(
                F.slice(bits, w + 1, n),
                F.lit(0).cast("long"),
                lambda acc, b: acc * 2 + b,
            )
        )
    return F.array(*words)


def bq_encode_py(vec: list[float], mids: list[float]) -> list[int]:
    """Driver-side encoder (exact integer ops — bit-identical to the engine
    path): used for query vectors so single-query search needs no extra job."""
    bits = [1 if float(v) > float(m) else 0 for v, m in zip(vec, mids)]
    words = []
    for w in range(0, len(bits), WORD_BITS):
        acc = 0
        for b in bits[w:w + WORD_BITS]:
            acc = acc * 2 + b
        words.append(acc)
    return words


def bq_encode(
    df: DataFrame,
    mids: list[float],
    vec_col: str = "embedding",
    out_col: str = "bq",
    drop_vec: bool = False,
) -> DataFrame:
    """Attach the packed BQ code (`array<bigint>`, 32 bits per word)."""
    bits = _bits_col(F.col(vec_col), mids)
    out = df.withColumn(out_col, _pack_words(bits, len(mids)))
    return out.drop(vec_col) if drop_vec else out


def bq_hamming_col(code_col: Column | str, query_words: list[int]) -> Column:
    """Hamming distance between a packed code column and a packed query:
    Σ bit_count(word ⊕ qword) — integer-exact, codegen-friendly."""
    codes = F.col(code_col) if isinstance(code_col, str) else code_col
    qw = F.lit([int(x) for x in query_words]).cast("array<bigint>")
    return F.aggregate(
        F.zip_with(codes, qw, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def bq_search(
    df: DataFrame,
    query_vec: list[float],
    mids: list[float] | None = None,
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int | None = 5,
) -> DataFrame:
    """Two-stage single-query search: Hamming top-(k·oversample) over packed
    codes (orderBy().limit() → TakeOrderedAndProject — per-partition partial
    top-k, never a global sort), exact l2sq rerank over the bounded survivor
    set. Returns (id_col, hamming, l2sq_distance, rnk ≤ k).

    Pass precomputed `mids` to skip the training job (persist them next to
    the coded table, exactly like SQ8 bounds)."""
    if mids is None:
        mids = bq_train(df, vec_col)
    if len(query_vec) != len(mids):
        raise ValueError(f"bq_search: query dim {len(query_vec)} != corpus dim {len(mids)}")
    coded = bq_encode(df, mids, vec_col=vec_col, out_col="__bq")
    qwords = bq_encode_py([float(x) for x in query_vec], mids)
    ham = bq_hamming_col("__bq", qwords).alias("hamming")
    cand = (
        coded.select(F.col(id_col), F.col(vec_col), ham)
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k * oversample)
    )
    qcol = F.lit([float(x) for x in query_vec]).cast("array<double>")
    d = l2sq_dist(F.col(vec_col), qcol)
    if dist_scale is not None:
        d = pround(d, dist_scale)
    reranked = cand.select(
        F.col(id_col), F.col("hamming"), d.alias("l2sq_distance")
    ).orderBy(F.col("l2sq_distance").asc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("l2sq_distance").asc(), F.col(id_col).asc())
    return reranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def bq_knn_join(
    coded: DataFrame,
    queries: DataFrame,
    mids: list[float],
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
    code_col: str = "bq",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    dist_scale: int | None = 5,
) -> DataFrame:
    """Multi-query two-stage search: broadcast the query side (with its
    engine-encoded codes) onto the packed-code scan, per-query Hamming rank
    window prunes to k·oversample, exact rerank window finishes. The corpus
    never shuffles; per-query partitions carry only candidate rows after the
    first prune."""
    qcoded = bq_encode(queries, mids, vec_col=qvec_col, out_col="__qbq")
    ham = F.aggregate(
        F.zip_with(F.col(code_col), F.col("__qbq"),
                   lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = coded.crossJoin(
        F.broadcast(qcoded.select(qid_col, qvec_col, "__qbq"))
    ).select(
        F.col(qid_col), F.col(id_col), F.col(vec_col), F.col(qvec_col),
        ham.alias("hamming"),
    )
    w1 = Window.partitionBy(qid_col).orderBy(F.col("hamming").asc(), F.col(id_col).asc())
    cand = scored.withColumn("__hr", F.row_number().over(w1)).where(
        F.col("__hr") <= k * oversample
    )
    d = l2sq_dist(F.col(vec_col), F.col(qvec_col))
    if dist_scale is not None:
        d = pround(d, dist_scale)
    rer = cand.select(qid_col, id_col, "hamming", d.alias("l2sq_distance"))
    w2 = Window.partitionBy(qid_col).orderBy(
        F.col("l2sq_distance").asc(), F.col(id_col).asc()
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(qid_col, id_col, "hamming", "l2sq_distance", "rnk")
    )


def bq_recall_vs_exact(
    df: DataFrame,
    n_queries: int = 10,
    k: int = 10,
    oversample: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> float:
    """Recall of BQ two-stage top-k against exact float kNN over sampled
    queries — the honesty dial every approximate path here carries."""
    from lantern_extras_spark.operators.knn import EvalSet

    mids = bq_train(df, vec_col)
    coded = bq_encode(df, mids, vec_col=vec_col, out_col="bq").cache()
    coded.count()
    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    rec = ev.recall(
        bq_knn_join(coded, ev.queries_df, mids, k=k, oversample=oversample,
                    id_col=id_col, vec_col=vec_col)
        .withColumnRenamed("rnk", "rank")
    )
    coded.unpersist()
    return rec
