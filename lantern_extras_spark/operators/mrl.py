"""Matryoshka (MRL) truncated-dimension search — the fifth member of the
compressed-search family next to PQ, IVF, SQ8 (operators/sq.py) and BQ
(operators/bq.py).

Matryoshka-trained embeddings (Kusupati et al. 2022) pack a usable coarse
embedding into every PREFIX of the vector, so stage one scores only the
first `d_prefix` dimensions (reading d'/d of the float bytes — with parquet
storing the prefix as its own column, the scan truly shrinks) and stage two
reranks the bounded candidate set with full-dimension distance. Unlike
PQ/SQ8/BQ there is NO training step and no codebook to version — truncation
IS the compression, which is why serving stacks reach for it first.

Everything is Column expressions (slice + the same fold arithmetic as
knn_l2), so the DuckDB oracle replays both stages bit-for-bit; ranks round
(pround) before every cut so candidate-set ties agree across engines.

Scale shape: stage one is a narrow projection + TakeOrderedAndProject
(per-partition partial top-k); stage two runs on k·oversample rows. The
multi-query variant broadcasts the query side; the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.functions.portable import pround
from lantern_extras_spark.functions.vector import l2sq_dist


def mrl_search(
    df: DataFrame,
    query_vec: list[float],
    d_prefix: int,
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int | None = 5,
) -> DataFrame:
    """Two-stage single-query search: prefix-l2sq top-(k·oversample) via
    orderBy().limit() → TakeOrderedAndProject, exact full-dim rerank over
    the survivors. Returns (id_col, prefix_distance, l2sq_distance, rnk ≤ k)."""
    if d_prefix < 1 or d_prefix > len(query_vec):
        raise ValueError(
            f"mrl_search: d_prefix must be in [1, {len(query_vec)}], got {d_prefix}"
        )
    qfull = F.lit([float(x) for x in query_vec]).cast("array<double>")
    qpre = F.lit([float(x) for x in query_vec[:d_prefix]]).cast("array<double>")
    pre = l2sq_dist(F.slice(F.col(vec_col).cast("array<double>"), 1, d_prefix), qpre)
    if dist_scale is not None:
        pre = pround(pre, dist_scale)
    cand = (
        df.select(F.col(id_col), F.col(vec_col), pre.alias("prefix_distance"))
        .orderBy(F.col("prefix_distance").asc(), F.col(id_col).asc())
        .limit(k * oversample)
    )
    d = l2sq_dist(F.col(vec_col), qfull)
    if dist_scale is not None:
        d = pround(d, dist_scale)
    reranked = (
        cand.select(F.col(id_col), F.col("prefix_distance"), d.alias("l2sq_distance"))
        .orderBy(F.col("l2sq_distance").asc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("l2sq_distance").asc(), F.col(id_col).asc())
    return reranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def mrl_knn_join(
    df: DataFrame,
    queries: DataFrame,
    d_prefix: int,
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    dist_scale: int | None = 5,
) -> DataFrame:
    """Multi-query two-stage search: broadcast queries onto the corpus scan,
    per-query prefix rank window prunes to k·oversample, full-dim rerank
    window finishes. Returns (qid_col, id_col, prefix_distance,
    l2sq_distance, rnk ≤ k)."""
    pre = l2sq_dist(
        F.slice(F.col(vec_col).cast("array<double>"), 1, d_prefix),
        F.slice(F.col(qvec_col).cast("array<double>"), 1, d_prefix),
    )
    if dist_scale is not None:
        pre = pround(pre, dist_scale)
    scored = df.crossJoin(F.broadcast(queries.select(qid_col, qvec_col))).select(
        F.col(qid_col), F.col(id_col), F.col(vec_col), F.col(qvec_col),
        pre.alias("prefix_distance"),
    )
    w1 = Window.partitionBy(qid_col).orderBy(
        F.col("prefix_distance").asc(), F.col(id_col).asc()
    )
    cand = scored.withColumn("__pr", F.row_number().over(w1)).where(
        F.col("__pr") <= k * oversample
    )
    d = l2sq_dist(F.col(vec_col), F.col(qvec_col))
    if dist_scale is not None:
        d = pround(d, dist_scale)
    rer = cand.select(qid_col, id_col, "prefix_distance", d.alias("l2sq_distance"))
    w2 = Window.partitionBy(qid_col).orderBy(
        F.col("l2sq_distance").asc(), F.col(id_col).asc()
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rnk") <= k)
    )


def mrl_recall_vs_exact(
    df: DataFrame,
    d_prefix: int,
    n_queries: int = 10,
    k: int = 10,
    oversample: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> float:
    """Recall of MRL two-stage top-k against exact full-dim kNN over sampled
    queries — the honesty dial every approximate path here carries. On
    MRL-trained embeddings the prefix preserves neighborhoods; on arbitrary
    embeddings this measures how much signal the leading dims carry."""
    from lantern_extras_spark.operators.knn import EvalSet

    ev = EvalSet(df, n_queries=n_queries, k=k, id_col=id_col, vec_col=vec_col, seed=seed)
    return ev.recall(
        mrl_knn_join(df, ev.queries_df, d_prefix, k=k, oversample=oversample,
                     id_col=id_col, vec_col=vec_col)
        .withColumnRenamed("rnk", "rank")
    )
