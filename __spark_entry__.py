"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2 + the
training-data pipeline operators); `oracle_sql()` returns the DuckDB-equivalent
SQL for every hash-comparable query. Engine-portable primitives (md5-based
hash32, whitespace tokens, word/char n-grams, hash embeddings) are mirrored by
SQL-fragment builders below so both engines compute bit-identical values;
float aggregates are rounded in BOTH engines before comparison and rankings
tie-break on (rounded value, id).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lantern_extras_spark.functions import text as T
from lantern_extras_spark.functions import vector as V
from lantern_extras_spark.functions.hashing import hash32
from lantern_extras_spark.functions.portable import portable_round_sql, pround
from lantern_extras_spark.embeddings.pipeline import hash_embedding, ignore_filter
from lantern_extras_spark.operators import dedup as D
from lantern_extras_spark.operators import knn as K
from lantern_extras_spark.operators import pq as PQ
from lantern_extras_spark.operators import textstats as TS
from lantern_extras_spark.operators import ivf as IVF
from lantern_extras_spark.operators import sampling as SMP
from lantern_extras_spark.operators import bloom as BL
from lantern_extras_spark.operators import mrl as MRL
from lantern_extras_spark.operators import bq as BQ
from lantern_extras_spark.operators import retrieval as RET
from lantern_extras_spark.operators import skew as SKW
from lantern_extras_spark.operators import selection as SEL
from lantern_extras_spark.operators import sketches as SK
from lantern_extras_spark.operators import sq as SQ
from lantern_extras_spark.operators import temporal as TMP
from lantern_extras_spark.operators import versioning as VER
from lantern_extras_spark.session import events_ts, local_frame

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: Smallest input each spread partition targets (see `_spread`).
SPREAD_TARGET_BYTES = 32 << 10


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Input-skew mitigation (optimization guide §2.5: "one huge unsplittable
    file ... otherwise repartition immediately after the read"). The testdata
    parquet files are written as a SINGLE row group, so Spark's scan cannot
    split them: every pre-shuffle map stage (tokenization, shingle md5,
    embedding folds) runs as ONE task however many cores the session has.

    The repartition is CONDITIONAL on the observed input layout: when the
    file is large enough that the scan already yields >= defaultParallelism
    splits (any real multi-file / multi-row-group table — the 100 TB case),
    this is a no-op and the plan is byte-identical to the unspread one. Only
    an under-split input pays one round-robin exchange of the (pruned,
    pushed-down) scan output to recover the cluster's parallelism. Round-robin
    keeps results partition-independent (and Spark's sort-before-repartition
    keeps retries deterministic).

    Spread is OPT-IN per query (measured r13): it wins only where ONE heavy
    map pass feeds ONE consumer (gopher_filter 0.54x, ngram_novelty 0.49x,
    language_id 0.85x, knn_cos 0.86x in paired A/B). Queries that reference
    the scan from several subplans (dsir 1.61x, bm25_prf 1.55x) or whose map
    work is trivial (clean_text 1.98x) pay the extra exchange with no gain."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df  # non-local path: layout unknown, keep the plain scan
    cores = spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
    units = {"k": 10, "m": 20, "g": 30}
    m = __import__("re").fullmatch(r"(\d+)([bkmg]?)b?", raw.strip().lower())
    max_pb = (int(m.group(1)) << units.get(m.group(2), 0)) if m else 128 << 20
    if size // max_pb >= cores:
        return df  # scan already splits to full parallelism
    # r14 (guide §2 "partition count must follow data size", r13 verdict
    # item 2): repartition(cores) put ~19 KB in each of 32 partitions at the
    # bench SF — per-task scheduling + Arrow/python-worker overhead outweighed
    # the extra slots (interleaved paired A/B at c32: n=16 ran 0.75x vs n=32
    # on decontaminate AND decontaminate_bloom mins). Each spread partition
    # now targets >= SPREAD_TARGET_BYTES of input, still clamped to
    # [2, cores]; a 100 TB input never reaches this branch (the scan already
    # splits), so the constant only shapes small under-split inputs.
    return df.repartition(max(2, min(cores, size // max(1, SPREAD_TARGET_BYTES))))


#: Session-scoped scan-plan memo (r13, guide §6 file-listing caching / §1.2
#: driver-side construction time): `spark.read.parquet(path)` re-reads the
#: footer for schema inference on EVERY call — measured 58 ms of the 75 ms
#: per `_t`, times ~500 constructions per bench run. The memo holds the
#: IMMUTABLE scan DataFrame (a logical plan — never data or results) keyed on
#: (applicationId, path), exactly the metadata Spark itself caches per
#: session in its file-source cache; every execution still reads the parquet
#: bytes. A new session (fresh applicationId) re-reads all footers.
#: The value carries the file's mtime: a regenerated/rewritten parquet
#: within one application gets a fresh scan that REPLACES the old entry
#: (stale file listings otherwise surface as FileNotFoundException or
#: silently-old data). Entries of other (stopped) applications are dropped
#: on insert, so the memo holds at most one entry per path.
_SCAN_MEMO: dict[tuple[str, str], tuple[float | None, DataFrame]] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None  # non-local path: immutability is the caller's contract
    app = spark.sparkContext.applicationId
    hit = _SCAN_MEMO.get((app, path))
    if hit is not None and hit[0] == mtime:
        return hit[1]
    df = spark.read.parquet(path)
    for k in [k for k in _SCAN_MEMO if k[0] != app]:
        del _SCAN_MEMO[k]
    _SCAN_MEMO[(app, path)] = (mtime, df)
    return df


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    # the driver supplies its own SparkSession; make sure executors can import
    # this package inside pandas-UDF queries regardless of driver cwd, and pin
    # UTC so timestamp rendering matches the (timezone-naive) DuckDB oracle
    from lantern_extras_spark.session import _ship_package

    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = _read_parquet_memo(spark, path)
    return _spread(spark, df, path) if spread else df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as a microsecond TIMESTAMP (see `events_ts`)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # nanosAsLong is set before the first (memoized) read, so the cached scan
    # plan embeds the right schema for every later call too
    return events_ts(_read_parquet_memo(spark, f"{sf_dir}/events.parquet"))


# ---------------------------------------------------------------------------
# Engine-portable SQL fragments (DuckDB dialect) mirroring functions/*.py
# ---------------------------------------------------------------------------

def _sql_hash32(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _sql_words(col: str = "text") -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array(trim({col}), '\\s+') END"
    )


def _sql_shingles3(words: str = "w") -> str:
    """Distinct word 3-grams over a words-array alias (mirrors T.word_ngrams n=3)."""
    return (
        f"CASE WHEN len({words}) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
        f"list_distinct(list_transform(range(1, greatest(len({words}) - 2, 1) + 1), "
        f"i -> array_to_string({words}[i:i+2], ' '))) END"
    )


def _sql_ngrams(words: str, n: int) -> str:
    """ALL word n-grams (occurrence-preserving, mirrors T.word_ngrams_of)."""
    return (
        f"CASE WHEN len({words}) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
        f"list_transform(range(1, greatest(len({words}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string({words}[i:i+{n - 1}], ' ')) END"
    )


def _sql_embed_elem(i: int, col: str = "text", model: str = "hash/test-model") -> str:
    """One hash-embedding element, float32-rounded then widened back to double —
    mirrors Spark's array<float> storage of hash_embedding exactly (IEEE f32
    cast parity between DuckDB and the JVM verified)."""
    h = _sql_hash32(f"concat('{model}:{i}:', {col})")
    return f"CAST(CAST((({h} / 4294967296.0) * 2.0 - 1.0) AS FLOAT) AS DOUBLE)"


def _sql_ignore_filter(col: str = "text") -> str:
    return f"({col} IS NOT NULL AND {col} != '' AND {col} != 'Error: Summary failed (llm)')"


def _hash_embed_py(text: str, model: str = "hash/test-model", dim: int = 16) -> list[float]:
    """Driver-side reference implementation (bit-identical to both engines)."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{model}:{i}:{text}".encode()).hexdigest()[:8], 16)
        out.append(h / 4294967296.0 * 2.0 - 1.0)
    return out


_LANGS = list(TS.STOPWORD_PROFILES)


def _sql_lang_pred() -> str:
    """Mirror of operators/textstats.language_id: argmax of stopword hits with
    declaration-order tie-break."""
    score = {
        lang: f"len(list_filter(w, t -> t IN ({', '.join(repr(s) for s in sw)})))"
        for lang, sw in TS.STOPWORD_PROFILES.items()
    }
    cases = []
    for j, lang in enumerate(_LANGS):
        conds = [f"s_{lang} > 0"]
        for other in _LANGS[:j]:
            conds.append(f"s_{lang} > s_{other}")
        for other in _LANGS[j + 1:]:
            conds.append(f"s_{lang} >= s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    scores_sql = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return scores_sql, case_sql


QUERY_TEXT = "spark merge join window batch"


# ---------------------------------------------------------------------------
# Relational core (scan/filter/join/agg/window/sort/limit evidence)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape on lineitem: scan + filter pushdown + grouped agg.
    Reference analog: all SQL-gen aggregation is delegated (SURVEY §2.4)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            pround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (broadcast-able dims), agg, deterministic top-10."""
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


def q_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, revenue by nation."""
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    li = _t(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-hour event rollup (batch form of the streaming windowed agg)."""
    ev = _events(spark, sf)
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), pround(F.sum("value"), 2).alias("total_value"))
    )


def q_event_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT coverage: per-day event counts pivoted into one column per
    event type (Spark groupBy().pivot() with an EXPLICIT value list — the
    scale-correct form: without it Spark runs an extra distinct scan to
    discover values AND the output schema becomes data-dependent). The
    DuckDB oracle replays as portable conditional aggregation (CASE-sum),
    which is exactly the plan pivot lowers to."""
    ev = _events(spark, sf)
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )
    return out.select(
        "day", *[F.col(k).cast("bigint").alias(f"n_{k}") for k in kinds]
    ).orderBy("day")


def q_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel analytics: per user the first time of each stage
    (view → click → purchase), a stage counts only if it happens AFTER the
    previous stage's first occurrence — the sequencing constraint that makes
    funnels different from plain per-type counts. One conditional-min
    aggregation per stage over one scan (no self-joins); the oracle replays
    the same min-filter chain declaratively."""
    from lantern_extras_spark.operators.temporal import funnel

    ev = _events(spark, sf)
    out = funnel(ev, ["view", "click", "purchase"])
    return out.select(
        "n_users",
        F.col("n_view").alias("n_viewed"),
        F.col("n_click_after").alias("n_clicked_after_view"),
        F.col("n_purchase_after").alias("n_purchased_after_click"),
    )


def q_user_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window functions: per user the
    number of sessions and the largest session size."""
    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    sess = (
        ev.withColumn("prev_us", F.lag(F.unix_micros("ts")).over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_us").isNull()
                | ((F.unix_micros("ts") - F.col("prev_us")) > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))
    return per_sess.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def q_top_users_per_type(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking window: top-5 users by total value within each event type."""
    ev = _events(spark, sf)
    totals = ev.groupBy("event_type", "user_id").agg(pround(F.sum("value"), 2).alias("total_value"))
    w = Window.partitionBy("event_type").orderBy(F.col("total_value").desc(), F.col("user_id").asc())
    return totals.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 5)


# ---------------------------------------------------------------------------
# Vector operators (X15 distances, W1/J2 top-k, A1-style stats)
# ---------------------------------------------------------------------------

def q_vector_distances(spark: SparkSession, sf: str) -> DataFrame:
    """Distance functions between consecutive vectors (l2sq/cos/dot + sign-bit
    hamming) — the X15 scalar surface."""
    emb = _t(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb"))
    sign = lambda c: F.transform(c.cast("array<double>"), lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)))
    return (
        a.join(b, "vec_id")
        .select(
            "vec_id",
            pround(V.l2sq_dist("va", "vb"), 5).alias("l2sq"),
            pround(V.cos_sim("va", "vb"), 6).alias("cosine"),
            pround(V.inner_product("va", "vb"), 5).alias("dot"),
            V.hamming_dist(sign(F.col("va")), sign(F.col("vb"))).cast("bigint").alias("sign_hamming"),
        )
    )


def q_knn_cos(spark: SparkSession, sf: str) -> DataFrame:
    """Batch exact kNN join (J2/N3): queries = vec_id<5, corpus = rest, k=10 by
    cosine distance; declarative crossjoin+window strategy (oracle-parity path —
    the partial-topk mapInPandas strategy is benchmarked and equivalence-tested
    in tests/)."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 5)
    out = K.knn_join(data, q, k=10, metric="cos", strategy="crossjoin", dist_scale=6)
    return out.select("query_id", "vec_id", F.col("distance").alias("cos_distance"), F.col("rank").cast("bigint").alias("rnk"))


def q_knn_l2(spark: SparkSession, sf: str) -> DataFrame:
    """Same kNN join under squared-euclidean."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 5)
    out = K.knn_join(data, q, k=10, metric="l2sq", strategy="crossjoin", dist_scale=5)
    return out.select("query_id", "vec_id", F.col("distance").alias("l2sq_distance"), F.col("rank").cast("bigint").alias("rnk"))


def q_knn_dot(spark: SparkSession, sf: str) -> DataFrame:
    """kNN under (negative) inner product — the reference's `<+>` operator
    semantics (external_index/cli.rs:111-123): ascending distance = most
    similar first."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 5)
    out = K.knn_join(data, q, k=10, metric="dot", strategy="crossjoin", dist_scale=5)
    return out.select("query_id", "vec_id", F.col("distance").alias("dot_distance"),
                      F.col("rank").cast("bigint").alias("rnk"))


def q_knn_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-filtered kNN (the reference's filtered search, H5 `filter`
    param): corpus restricted to label=3 BEFORE the distance work — the
    predicate reaches the parquet scan, so at 100 TB the filter prunes the
    read, not just the ranking."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where((F.col("vec_id") >= 5) & (F.col("label") == 3))
    out = K.knn_join(data, q, k=10, metric="cos", strategy="crossjoin", dist_scale=6)
    return out.select("query_id", "vec_id", F.col("distance").alias("cos_distance"),
                      F.col("rank").cast("bigint").alias("rnk"))


def q_label_vector_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label vector statistics (norms via higher-order functions)."""
    emb = _t(spark, sf, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            pround(F.avg(V.vector_norm("embedding")), 5).alias("avg_norm"),
            pround(F.avg(F.element_at(F.col("embedding"), 1)), 6).alias("avg_e0"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding pipeline (X1/F1/§3.2) — deterministic hash model, oracle-checkable
# ---------------------------------------------------------------------------

def q_embed_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding generation over documents with F1 ignore-filter semantics;
    output is a scalar checksum + first element per row so the oracle compares
    values without array-serialization concerns."""
    docs = _t(spark, sf, "documents")
    emb = hash_embedding("text")
    d = emb.cast("array<double>")
    return docs.select(
        "doc_id",
        F.when(ignore_filter("text"), F.size(emb)).cast("bigint").alias("emb_dim"),
        F.when(ignore_filter("text"), V.vector_checksum(d, 5)).alias("emb_checksum"),
        F.when(ignore_filter("text"), pround(F.element_at(d, 1), 6)).alias("e0"),
    )


def q_doc_search(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship semantic search (H5 shape): embed corpus + query with the same
    model, cosine top-10 with deterministic tie-break."""
    docs = _t(spark, sf, "documents")
    qv = _hash_embed_py(QUERY_TEXT)
    corpus = docs.where(ignore_filter("text")).select(
        "doc_id", hash_embedding("text").alias("emb")
    )
    qcol = F.lit(qv).cast("array<double>")
    scored = corpus.select(
        "doc_id", pround(V.cos_sim(F.col("emb"), qcol), 6).alias("cosine")
    )
    # Top-10 via orderBy().limit() → TakeOrderedAndProject (partial top-k per
    # partition, k rows to driver) instead of ranking the whole corpus through a
    # single-partition global window — the 100 TB-safe plan (reference
    # http_server/search.rs is a LIMIT-k, not rank-everything). The rnk window
    # then runs over only the 10 surviving rows.
    top = scored.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()).limit(10)
    w = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup (training-data pipeline operators)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    # stage tokens once per row (total_tokens + uniq both read them); BPE and
    # punct counts are one-scan regexp_replace lengths (functions/text.py)
    staged = docs.select(
        "source", "text", T.tokens(F.col("text")).alias("__toks")
    )
    return (
        staged.groupBy("source")
        .agg(
            F.sum(F.size("__toks")).cast("bigint").alias("total_tokens"),
            F.sum(T.bpe_ish_token_count("text")).cast("bigint").alias("total_bpe_tokens"),
            pround(F.avg(T.uniq_token_ratio_of(F.col("__toks"))), 5).alias("avg_uniq_ratio"),
            pround(F.avg(T.punct_ratio("text")), 6).alias("avg_punct_ratio"),
        )
    )


def q_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic accuracy vs the labeled lang column."""
    docs = _t(spark, sf, "documents", spread=True)
    pred = TS.language_id(docs)
    return (
        pred.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)).cast("bigint").alias("n_correct"),
        )
    )


def q_quality_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    qm = TS.quality_metrics(docs)
    return qm.groupBy("lang").agg(
        pround(F.avg("quality_score"), 6).alias("avg_quality"),
        pround(F.avg("mean_token_len"), 5).alias("avg_mean_token_len"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dup accounting per source (md5-keyed grouping)."""
    docs = _t(spark, sf, "documents")
    d = D.exact_dedup(docs)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text_hash").alias("n_distinct"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0)).cast("bigint").alias("n_dupes"),
    )


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """First 4 MinHash permutation values per document — pins the portable
    shingle→hash32→universal-perm chain bit-for-bit."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    sigs = D.minhash_signatures(docs, n_hashes=4)
    return sigs.select(
        "doc_id",
        F.element_at("sig", 1).alias("sig0"),
        F.element_at("sig", 2).alias("sig1"),
        F.element_at("sig", 3).alias("sig2"),
        F.element_at("sig", 4).alias("sig3"),
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return D.simhash(docs)


def q_hash_banded_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Certifies the GENERIC banded-Hamming engine (dedup.hash_neardup_pairs
    — the join behind image pHash and audio fingerprint near-dup) against
    the declarative oracle: portable 32-bit SimHash values feed the banded
    self-join (8 bands × 4 bits, pigeonhole-exact for distance ≤ 6); DuckDB
    replays band extraction (shift/mask), the banded join, and the
    popcount(xor) verify."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    sigs = D.simhash(docs)
    return D.hash_neardup_pairs(
        sigs, "simhash", id_col="doc_id", bits=32, band_bits=4, max_distance=6
    )


def q_hash_banded_join(spark: SparkSession, sf: str) -> DataFrame:
    """Certifies the CROSS-FRAME banded-Hamming join (dedup.hash_neardup_join
    — the batch-vs-store incremental media-dedup engine) against the
    declarative oracle, including the r11 `exclude_self` re-ingest filter:
    the store holds docs 0-149's SimHash, the arriving batch docs 140-299
    (the 140-149 overlap models a replayed shard — its exact self-matches
    must be excluded, its genuine cross-id matches kept). DuckDB replays
    band extraction, the banded batch×store join, popcount(xor) verify, and
    the self-match exclusion."""
    # r14 (guide §4.1 opaque-function pushdown / §2.3 project-before): the
    # simhash Arrow kernel is a MapInPandas node, so a doc_id filter applied
    # to its OUTPUT cannot be pushed below it — both join sides were running
    # the md5 kernel over the FULL table and filtering afterwards. Only
    # doc_id < 300 rows can reach either side (store < 150, batch 140-300),
    # so filter BEFORE the kernel: the predicate lands in the parquet scan
    # (PushedFilters) and the kernel hashes 300 docs instead of the corpus.
    # Per-doc function => identical rows (filter-before == filter-after).
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    sigs = D.simhash(docs)
    store = sigs.where(F.col("doc_id") < 150)
    batch = sigs.where((F.col("doc_id") >= 140) & (F.col("doc_id") < 300))
    return D.hash_neardup_join(
        batch, store, "simhash", id_col="doc_id", bits=32, band_bits=4,
        max_distance=6, exclude_self=True,
    )


def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup PAIR stage (dedup.simhash_pairs) — banded candidates +
    hamming verify, hash-checked end to end: the DuckDB oracle replays the
    8-bit band extraction ((sim // 2^(8b)) % 256), the max_bucket skew guard
    (count window over (band_idx, band_key)), the banded candidate self-join,
    and the popcount(xor) ≤ max_hamming verify. Completes the dedup family:
    every SQL-expressible stage of every dedup pipeline is now oracle-checked
    (reference parity anchor: lantern_cli/src/daemon/README near-dup notes)."""
    docs = _t(spark, sf, "documents")
    sims = D.simhash(docs)
    return D.simhash_pairs(sims).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked exact 3-gram Jaccard ≥ 0.2 within (lang, source) blocks, via the
    inverted-index strategy (explode hashed shingles → co-occurrence count =
    |∩|) — identical results to the pairwise plan for threshold > 0, but cost
    scales with shingle posting lists, not block². Blocks above
    `max_block_rows` (default 20k) fail loudly or route through MinHash-LSH —
    the quadratic-block guard lives in
    lantern_extras_spark/operators/dedup.py:ngram_jaccard_pairs."""
    docs = _t(spark, sf, "documents")
    pairs = D.ngram_jaccard_pairs(docs, block_cols=("lang", "source"), threshold=0.2)
    return pairs.select("id_a", "id_b", pround("jaccard", 5).alias("jaccard"))


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:decontaminate — the
    training-pipeline op that strips eval-set leakage before training): docs
    with doc_id < 10 act as the evaluation set; training docs (doc_id ≥ 10)
    are flagged when ≥ 30% of a benchmark doc's distinct 3-gram shingles
    appear in them (containment of the BENCH side, so an embedded eval item
    scores high no matter how much text surrounds it). Both sides are
    case/punctuation-normalized before shingling (normalize=True default —
    the r5-verdict fix; oracle SQL applies the identical lower+regexp chain).
    The documents table has near-dup groups by construction, so real hits
    exist. Scale shape: broadcast benchmark + exploded-shingle equi-join,
    no self-join."""
    docs = _t(spark, sf, "documents", spread=True)
    bench = docs.where(F.col("doc_id") < 10)
    train = docs.where(F.col("doc_id") >= 10)
    flags = D.decontaminate(train, bench, threshold=0.3)
    return flags.select(
        "doc_id", "bench_id", pround("containment", 5).alias("containment")
    )


def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered decontamination (dedup.decontaminate with
    bloom_prefilter=True — r8 verdict #6): a Bloom filter over the
    benchmark's distinct shingle hashes prunes non-member corpus shingles
    DURING the exploded scan, so the posting equi-join shuffles only the
    plausible sliver instead of the full corpus shingle volume — the
    module's own prune-during-scan thesis applied to the release gate.
    EXACT: no false negatives, and the equi-join discards false-positive
    admissions, so the oracle is the identical plain-containment SQL."""
    docs = _t(spark, sf, "documents", spread=True)
    bench = docs.where(F.col("doc_id") < 10)
    train = docs.where(F.col("doc_id") >= 10)
    flags = D.decontaminate(train, bench, threshold=0.3, bloom_prefilter=True)
    return flags.select(
        "doc_id", "bench_id", pround("containment", 5).alias("containment")
    )


def q_clean_text(spark: SparkSession, sf: str) -> DataFrame:
    """Scrape-cleanup pipeline op (functions/text.py:clean_text): tag strip →
    entity decode (one level, &amp; last) → whitespace collapse, all native
    expressions inside whole-stage codegen. Documents are wrapped in synthetic
    markup so the oracle exercises every stage (tags, entities incl. the
    double-escaped &amp;amp;, mixed whitespace) rather than passing plain text
    through."""
    docs = _t(spark, sf, "documents")
    wrapped = docs.where(F.col("doc_id") < 50).select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">  '), F.col("text"),
            F.lit(" &nbsp;&amp;amp; <br/>trailing\t&lt;tag&gt;</p>"),
        ).alias("raw"),
    )
    return wrapped.select("doc_id", T.clean_text(F.col("raw")).alias("cleaned"))


def q_html_text_extract(spark: SparkSession, sf: str) -> DataFrame:
    """WARC-grade HTML → text extraction (functions/text.py:html_to_text):
    script/style CONTENT dropped (not just tags), comments dropped, block
    boundaries become newlines, entity decode, line-preserving whitespace
    normalization — the seam between read_warc response bodies and the text
    pipeline. Documents are wrapped in a full page template (head with style
    + script whose BODY contains markup-looking text, nav comment, heading,
    list) so every stage is exercised; every regex stays in the
    Java-regex ∩ RE2 subset and the oracle replays the chain verbatim."""
    docs = _t(spark, sf, "documents")
    wrapped = docs.where(F.col("doc_id") < 50).select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>t</title><style type="text/css">p { color: red }</style>'
                '<script>var x = "<p>not text</p>"; if (a && b) { go(); }</script></head>'
                "<body><!-- nav\nmenu --><h1>Heading</h1>\n<p>  "
            ),
            F.col("text"),
            F.lit(
                " &nbsp;&amp;amp; tail</p><ul> <li>alpha</li>\t<li>beta &lt;3</li></ul>"
                "<br/><div>closing   line</div></body></html>"
            ),
        ).alias("raw"),
    )
    return wrapped.select("doc_id", T.html_to_text(F.col("raw")).alias("extracted"))


def q_strip_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal
    (operators/textstats.py:strip_boilerplate_lines): every doc of a source is
    wrapped with the same header/footer lines (the cookie-banner/nav-menu
    pattern), which then occur in 100% of the source's docs and are stripped;
    body lines never reach the 50% doc-fraction bar and survive in order. The
    oracle replays explode → per-(source,line) doc counts → anti-join →
    ordered reassembly with DuckDB's lockstep unnest + string_agg."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    wrapped = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n", F.lit("SUBSCRIBE TO OUR NEWSLETTER"), F.col("text"),
            F.lit("(c) 2026 Example Corp"),
        ).alias("text"),
    )
    out = TS.strip_boilerplate_lines(
        wrapped, group_cols=("source",), min_docs=2, max_doc_frac=0.5
    )
    return out.select("doc_id", "text_clean")


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sequence packing (operators/sampling.py:pack_sequences):
    docs are seeded-shuffled into 8 hash buckets, and bin = floor(exclusive
    prefix-token-sum / 256) — the pre-training batch-construction step, fully
    hash-checked (bucket, bin, and within-bin position all replayed by the
    DuckDB oracle's window cumsum)."""
    docs = _t(spark, sf, "documents")
    return SMP.pack_sequences(docs, max_tokens=256, n_buckets=8)


def q_pack_sequences_text(spark: SparkSession, sf: str) -> DataFrame:
    """Packed sequences as DATA (operators/sampling.py:pack_sequences_concat
    — the r5-verdict completion of the pipeline's last stage): one row per
    (bucket, bin) with member doc ids in pack order and texts concatenated,
    the ready-to-tokenize training sequence. Fully hash-checked — the oracle
    replays the assignment windows AND the ordered string_agg, so doc order
    inside every sequence is pinned, not just membership."""
    docs = _t(spark, sf, "documents")
    packed = SMP.pack_sequences_concat(docs, max_tokens=256, n_buckets=8)
    return packed.select(
        "bucket", "bin", "n_docs", "n_tokens",
        F.array_join(F.transform("doc_ids", lambda d: d.cast("string")), ",").alias("doc_ids"),
        "text",
    )


DS_PROLOGUE = "GLOBAL PROLOGUE SPAN TOKENS SHARED ACROSS EVERY DOCUMENT IN CORPUS"


def q_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated-bigram LM quality proxy (operators/textstats.py:
    bigram_logprob_score): ln(0.7·P_bi + 0.3·P_uni) per transition, per-doc
    mean — the word-salad detector a unigram score misses. Self-referenced
    here (corpus = ref) so the whole chain is one deterministic job; the
    oracle replays both vocab joins and the interpolation bit-for-bit."""
    docs = _t(spark, sf, "documents")
    out = TS.bigram_logprob_score(docs)
    return out.select("doc_id", pround("lm2_logprob", 5).alias("lm2_logprob"))


def q_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus health summary (operators/textstats.py:
    corpus_report): volume, exact interpolated token percentiles, md5 dup
    rate, blank fraction, mean composite quality — one scan, one agg."""
    docs = _t(spark, sf, "documents")
    return TS.corpus_report(docs)


def q_dedup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring span dedup (operators/dedup.py:dedup_spans — Lee et
    al. ExactSubstr semantics): a 10-token prologue injected into every doc
    survives only in doc 0; full-doc exact dups lose everything; unique
    bodies keep everything else. Hash-pins window hashing, canonical pick,
    interval merging, and token-level excision."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    base = docs.select(
        "doc_id", F.concat(F.lit(DS_PROLOGUE), F.lit(" "), F.col("text")).alias("text")
    )
    out = D.dedup_spans(base, span=8)
    return out.select("doc_id", "text_dedup", "n_tokens_removed")


def q_top_duplicate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-span provenance (operators/dedup.py:top_duplicate_spans —
    the audit companion to dedup_spans): top-10 most-repeated 8-token windows
    with occurrence/doc counts, canonical first occurrence, and the window
    text rebuilt from it. The injected prologue's windows must dominate the
    ranking; the oracle replays windowing, counting, ranking, and the text
    slice."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    base = docs.select(
        "doc_id", F.concat(F.lit(DS_PROLOGUE), F.lit(" "), F.col("text")).alias("text")
    )
    out = D.top_duplicate_spans(base, span=8, k=10)
    return out.select(
        "whash", "n_occurrences", "n_docs",
        F.col("first_doc").cast("bigint").alias("first_doc"),
        F.col("first_pos").cast("bigint").alias("first_pos"),
        "span_text",
    )


def q_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash dedup (operators/dedup.py:minhash_dedup_incremental
    — the streaming-ingest shape): docs >= 300 arrive as a new batch and are
    matched against the signed corpus (docs < 300) plus within-batch, with
    the signature-estimate verify (the store keeps only (id, sig)). Pins the
    band join, per-side bucket caps, the Broder estimator, and the
    corpus/batch labeling."""
    docs = _t(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") < 300)
    new = docs.where(F.col("doc_id") >= 300)
    corpus_sigs = D.minhash_signatures(corpus).select("doc_id", "sig")
    out = D.minhash_dedup_incremental(new, corpus_sigs, threshold=0.5)
    return out.select("id_a", "id_b", pround("jaccard", 5).alias("jaccard"), "vs")


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Long-doc token-window chunking (operators/textstats.py:
    chunk_documents): 16-token windows, 4-token overlap — chunk membership,
    order, short final chunks, and the no-pure-overlap rule all hash-pinned."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 50)
    return TS.chunk_documents(docs, window=16, overlap=4)


MIX_TARGET = {"src0": 0.3, "src1": 0.2, "src2": 0.1, "src3": 0.4}


def q_bigram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Top word-bigram report (operators/textstats.py:vocab_coverage with
    ngram=2): ranked sliding-window bigram counts with cumulative coverage —
    the merge-candidate statistic of tokenizer design."""
    docs = _t(spark, sf, "documents")
    return TS.vocab_coverage(docs, top_k=40, ngram=2)


def q_quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-budget quota (operators/sampling.py:quota_sample):
    seeded-hash order, keep while the exclusive token prefix is under budget.
    The id_sum column pins WHICH docs were kept, not just how many."""
    docs = _t(spark, sf, "documents")
    kept = SMP.quota_sample(docs, group_cols=("source",), token_budget=600)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        F.max("cum_tokens").cast("bigint").alias("max_cum"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


def q_resample_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture resampling (operators/sampling.py:resample_mixture):
    per-source weights = target_token_share / actual_share; each doc emitted
    floor(w) + deterministic-Bernoulli(frac(w)) times. weighted_id_sum pins
    the exact per-doc copy counts; sources outside the target vanish."""
    docs = _t(spark, sf, "documents")
    out = SMP.resample_mixture(docs, target=MIX_TARGET)
    return out.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("copy").alias("max_copy"),
        F.sum(F.col("doc_id") * F.col("copy")).cast("bigint").alias("weighted_id_sum"),
    )


DP_HEADER = "LICENSED UNDER CC BY 4.0 - SEE TERMS AT EXAMPLE ORG"
DP_FOOTER = "FOLLOW US ON SOCIAL MEDIA FOR UPDATES AND NEWS"


def q_dedup_paragraphs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-global line/paragraph dedup (operators/dedup.py:dedup_paragraphs
    — CCNet/RefinedWeb stage): a license header + footer injected into every
    doc survives only in its first corpus occurrence; exact-dup doc bodies
    collapse the same way. Hash-checks the rebuilt text AND the per-doc drop
    count, so canonical-occurrence choice (min (doc_id, pos)) is pinned."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    base = docs.select(
        "doc_id",
        F.concat_ws("\n", F.lit(DP_HEADER), F.col("text"), F.lit(DP_FOOTER)).alias("text"),
    )
    out = D.dedup_paragraphs(base, para_sep="\n", min_chars=20)
    return out.select("doc_id", "text_dedup", "n_paras_dropped")


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-design vocabulary report (operators/textstats.py:
    vocab_coverage): top-50 lowercased whitespace tokens with rank, count,
    corpus frequency, and cumulative coverage — deterministic tie-break
    (count desc, token asc) so ranks are engine-portable."""
    docs = _t(spark, sf, "documents")
    return TS.vocab_coverage(docs, top_k=50)


def q_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 90/5/5 train/eval/test split (hash32-bucketed — same doc,
    same split, every run/engine/cluster; no RNG), summarized as counts per
    (split, lang)."""
    docs = _t(spark, sf, "documents")
    out = SMP.hash_split(docs)
    return out.groupBy("split", "lang").agg(F.count("*").alias("n"))


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic balanced mixture: 2 docs per (lang, source), ranked by
    portable hash — the reproducible alternative to sampleBy."""
    docs = _t(spark, sf, "documents")
    out = SMP.stratified_take(docs, ("lang", "source"), 2)
    return out.select("doc_id", "lang", "source",
                      F.col("sample_rank").cast("bigint").alias("sample_rank"))


def q_ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Subset/boilerplate detection: |∩|/min(|a|,|b|) ≥ 0.5 on 3-gram shingle
    sets within (lang, source) blocks, via the same inverted-index plan as
    q_ngram_jaccard (no length-band prune — a short doc fully contained in a
    long one is exactly the target)."""
    docs = _t(spark, sf, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, block_cols=("lang", "source"), threshold=0.5, metric="containment"
    )
    return pairs.select("id_a", "id_b", pround("containment", 5).alias("containment"))


def q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (functions/text.py:redact_pii — the deterministic
    pre-release pass for scraped corpora): docs are wrapped with synthetic
    email / IPv4 / phone spans so every pattern fires, then redacted to typed
    placeholders in one native regexp chain. The oracle replays the identical
    chain in the same most-specific-first order (RE2 ∩ Java-regex subset)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    did = F.col("doc_id").cast("string")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("Contact admin"), did, F.lit("@site.example.org or +1 555-000-"),
            did, F.lit(" via 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 | "), F.col("text"),
        ).alias("raw"),
    )
    return wrapped.select("doc_id", T.redact_pii("raw").alias("redacted"))


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveText repetition filters
    (operators/textstats.py:repetition_stats): docs are wrapped with a
    twice-repeated boilerplate line so the duplicate-line signals fire on
    every row, while the top-2-gram / dup-5-gram fractions measure each doc's
    own text. Pure per-row array-sort + indexed-scan expressions (no shuffle);
    the oracle recomputes the same fractions via unnest + GROUP BY."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    wrapped = docs.select(
        "doc_id",
        F.concat_ws(
            "\n", F.lit("SUBSCRIBE NOW"), F.col("text"), F.lit("SUBSCRIBE NOW"),
        ).alias("text"),
    )
    out = TS.repetition_stats(wrapped)
    return out.select(
        "doc_id",
        pround("dup_line_frac", 5).alias("dup_line_frac"),
        pround("dup_line_char_frac", 5).alias("dup_line_char_frac"),
        pround("top_ngram_char_frac", 5).alias("top_ngram_char_frac"),
        pround("dup_ngram_char_frac", 5).alias("dup_ngram_char_frac"),
    )


def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality proxy
    (operators/textstats.py:unigram_logprob_score): per-doc mean token
    log-probability under the corpus's own add-one-smoothed unigram LM —
    the deterministic analog of CCNet's KenLM perplexity ranking. Vocab is
    one token-count aggregation; totals ride a broadcast 1-row cross join
    (no driver collect); the oracle replays count → ln → per-doc avg."""
    docs = _t(spark, sf, "documents")
    out = TS.unigram_logprob_score(docs)
    return out.select("doc_id", pround("lm_logprob", 5).alias("lm_logprob"))


def q_code_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The Stack / StarCoder code-file screen (operators/textstats.py:
    code_stats — Kocetkov et al. 2022 §3): line-shape stats, alnum/alpha/hex
    character fractions, and the published keep rule, all native expressions.
    Oracle replays split/transform/regexp chains in DuckDB (list_max over a
    lambda transform on the oracle side)."""
    docs = _t(spark, sf, "documents")
    # no orderBy: the output is corpus-sized and the driver's hash compare
    # is order-insensitive — a global range-partition here is pure waste
    return TS.code_stats(docs)


_HYGIENE_PRE = "a\u200bb \u00a0 c\u202ad\ufffd e\u00adf "
_HYGIENE_POST = " tail\u2060x\u3000y\x07z \u2009w"


def q_text_hygiene(spark: SparkSession, sf: str) -> DataFrame:
    """Text-hygiene pass (functions/text.py:strip_invisible + hygiene_stats):
    zero-widths/BOM/soft-hyphen/bidi controls removed, NBSP/exotic spaces →
    plain space, plus the four encoding-health counters (invisible, exotic
    space, U+FFFD, C0/C1 control). Documents are wrapped with a sampler of
    every poison class so all branches execute; the DuckDB oracle rebuilds
    the identical wrap via chr() concat and replays the regex chain
    (regexp_count ≡ len(regexp_extract_all))."""
    docs = _t(spark, sf, "documents")
    wrapped = docs.where(F.col("doc_id") < 80).select(
        "doc_id",
        F.concat(F.lit(_HYGIENE_PRE), F.col("text"), F.lit(_HYGIENE_POST)).alias("raw"),
    )
    stats = T.hygiene_stats(F.col("raw"))
    return wrapped.select(
        "doc_id",
        T.strip_invisible(F.col("raw")).alias("cleaned"),
        stats["n_invisible"].alias("n_invisible"),
        stats["n_exotic_space"].alias("n_exotic_space"),
        stats["n_replacement"].alias("n_replacement"),
        stats["n_control"].alias("n_control"),
    )


def q_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher quality screen (operators/textstats.py:gopher_filter —
    length / mean-token-length / symbol-ratio / stopword / repetition rules
    with an audit trail): every 5th doc is wrapped with duplicated spam lines
    so repetition rules fire on a known subset while the rest exercise the
    token screens. Every signal is an exact integer quotient, so the DuckDB
    oracle replays the full rule set bit-for-bit, reasons included."""
    docs = _t(spark, sf, "documents", spread=True)
    wrapped = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws("\n", F.lit("SPAM SPAM"), F.col("text"), F.lit("SPAM SPAM")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = TS.gopher_filter(wrapped)
    return out.select(
        "doc_id", "gopher_keep",
        F.array_join("gopher_drop_reasons", ",").alias("reasons"),
    )


def q_url_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup (functions/url.py): messy
    variants (uppercase scheme/host, www., default port, fragment, trailing
    slash) are synthesized deterministically per doc and reduced to the
    canonical form + grouping domain — `groupBy(canonical)` is the cheapest
    dedup a crawl corpus has. Oracle replays the identical regex chain."""
    from lantern_extras_spark.functions.url import canonicalize_url, url_domain

    docs = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/docs/"), F.col("source"), F.lit("/"),
        (F.col("doc_id") % 20).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#section")).otherwise(F.lit("")),
    )
    w = docs.select("doc_id", url.alias("url"))
    return w.select(
        "doc_id",
        canonicalize_url("url").alias("canonical"),
        url_domain("url").alias("domain"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms over the doc_id<50 slice (tf · ln(N/df),
    portable 6-dp rounding BEFORE ranking so cross-engine ln() ulps can't flip
    ranks; ties break on term)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 50)
    out = TS.tfidf_top_terms(docs, k=3, round_dp=6)
    return out.select(
        "doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
        F.col("df_t").cast("bigint").alias("df_t"), "score",
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return TS.fingerprint(docs).select("doc_id", "fp_key")


# ---------------------------------------------------------------------------
# PQ assignment (Q3 kernel) with a deterministic slice codebook → oracle-able
# ---------------------------------------------------------------------------

def q_pq_assign(spark: SparkSession, sf: str) -> DataFrame:
    """PQ code assignment with a deterministic codebook (centroids = vectors of
    vec_id<8, sliced into 4 subvectors) so the argmin kernel itself is verified
    against SQL; the k-means codebook path is covered in tests/ with shape and
    recall invariants."""
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    dim = len(cents[0]["embedding"])
    bounds = PQ.split_bounds(dim, 4)
    rows = []
    for r in sorted(cents, key=lambda r: r["vec_id"]):
        v = list(map(float, r["embedding"]))
        for s, (lo, hi) in enumerate(bounds):
            rows.append((s, int(r["vec_id"]), v[lo:hi]))
    cb = local_frame(spark, rows, "subvector_id int, centroid_id int, c array<float>")
    coded = PQ.quantize(emb, cb, vec_col="embedding", out_col="pqvec", dim=dim,
                        formulation="direct")
    return coded.select(
        "vec_id",
        F.element_at("pqvec", 1).cast("bigint").alias("c0"),
        F.element_at("pqvec", 2).cast("bigint").alias("c1"),
        F.element_at("pqvec", 3).cast("bigint").alias("c2"),
        F.element_at("pqvec", 4).cast("bigint").alias("c3"),
    )


# ---------------------------------------------------------------------------
# Multi-stage pipelines (LSH, clusters, ADC, IVF∘PQ) — all hash-checked: each
# has a DuckDB oracle replaying every stage (promoted from rows-only in r2/r3)
# ---------------------------------------------------------------------------

def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline (banded candidates + exact verify).
    Hash-checked: the DuckDB oracle replays signatures (32 affine perms over the
    portable hash32), 8-band banding with the max_bucket skew guard, candidate
    self-join, and the exact-Jaccard verify — band keys are '_'-joined sig
    slices in both engines."""
    docs = _t(spark, sf, "documents")
    return D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2).select(
        "id_a", "id_b", pround("jaccard", 5).alias("jaccard")
    )


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clusters over the MinHash-LSH pair graph
    (connected components via iterative min-label propagation,
    dedup.py:dedup_clusters); the DuckDB oracle recomputes the same pair set
    and resolves components with a recursive CTE — an iterative Spark
    algorithm hash-checked against a declarative fixpoint."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    return D.dedup_clusters(pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


def q_dedup_clusters_star(spark: SparkSession, sf: str) -> DataFrame:
    """Same transitive clusters, resolved by the alternating large-star/
    small-star contraction (dedup.py:_cc_star — O(log² n) rounds independent
    of component diameter, the 100 TB-safe strategy for unknown pair-graph
    shapes). Hash-certified against the SAME recursive-CTE oracle as
    `dedup_clusters`, proving both strategies are bit-identical."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    return D.dedup_clusters(pairs, strategy="star").select(
        F.col("id").alias("doc_id"), F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH cosine near-dup pairs. Hash-checked: the seeded
    hyperplanes are inlined as literals in the DuckDB oracle, which replays the
    bucket → pair → cosine-verify pipeline exactly (threshold applied on the
    unrounded cosine, output rounded for the cross-engine hash)."""
    emb = _t(spark, sf, "embeddings")
    pairs = D.embedding_neardup_pairs(emb, threshold=0.4, n_planes=6, dim=EMB_DIM)
    return pairs.select("id_a", "id_b", pround("cosine", 6).alias("cosine"))


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup): coarse cells with
    a deterministic codebook (centroids = vectors of vec_id<32 — the
    q_ivf_search trick, 32 cells so the within-cell pair count stays
    bench-friendly at sf0.1), within-cell cosine prune with the first-wins winner
    rule. Hash-checked end to end: the oracle replays cell assignment
    (argmin-l2sq, min-struct tie-break), the within-cell pair join, the
    cosine, and the min-id winner pick. The native impl's Column pair join
    is the replay config (its cells come from the same exact assignment
    kernel as the pandas impl); the k-means + GEMM pandas impl is the scale
    path (parity pinned in tests/test_dedup.py)."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 32).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    out = D.semantic_dedup(
        emb, threshold=0.3, centroids=centroids, impl="native"
    )
    return out.select(
        "dup_id", "cell", "dup_of", pround("cosine", 6).alias("cosine")
    )


def q_duplication_share(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc duplication share (dedup.doc_duplication_share): fraction of
    each doc's distinct 3-gram shingles appearing in >=2 docs. The oracle
    replays shingling, the doc-frequency aggregation, and the per-doc
    ratio."""
    # r14: spread=True — re-measured under the cold-per-iteration cache
    # contract (the r13 rejection was measured with warm iterations hiding
    # the single-task shingle pass): 0.73x monkeypatch-paired, 0.67x in a
    # spread on/off A/B. The rest of the minhash/ngram family
    # re-measured neutral (0.99-1.03x) and stays unspread.
    docs = _t(spark, sf, "documents", spread=True)
    out = D.doc_duplication_share(docs)
    return out.select(
        "doc_id", "n_shingles", "n_dup_shingles",
        pround("dup_share", 6).alias("dup_share"),
    )


def q_semantic_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Cell-confinement recall audit (dedup.semantic_dedup_recall): on a
    deterministic ~256-row hash sample, ALL cos>=0.3 pairs vs the subset
    sharing a vec_id<32 cell. The oracle replays sample membership, cell
    assignment, the brute-force pair scan, and the recall ratio."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 32).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    out = D.semantic_dedup_recall(emb, centroids, threshold=0.3, sample_k=256)
    return out.select(
        "n_sample", "n_true_pairs", "n_captured", pround("recall", 6).alias("recall")
    )


def q_semantic_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SemDeDup ingest (dedup.semantic_dedup_incremental): batch
    = vec_id<100 matched against corpus store = vec_id>=100 through shared
    vec_id<32 cells; corpus matches outrank batch matches, then smallest id
    (corpus ids are LARGER here, so a hash mismatch would expose any
    id-before-rank ordering bug). Oracle replays cells, the batch-only pair
    restriction, the cosine, and the (rank, id) winner pick."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 32).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    out = D.semantic_dedup_incremental(
        emb.where(F.col("vec_id") < 100),
        emb.where(F.col("vec_id") >= 100),
        centroids=centroids,
        threshold=0.3,
        impl="native",
    )
    return out.select(
        "dup_id", "cell", "dup_of", pround("cosine", 6).alias("cosine"), "vs"
    )


def q_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ADC top-k with a deterministic slice codebook (centroids = vectors of
    vec_id<8, 4 subvectors — the q_pq_assign trick) so the LUT build + ADC scan
    + top-k are hash-checked against SQL; the k-means codebook path keeps its
    own coverage in tests/test_pq.py and the bench pq_e2e query. Ordering uses
    the float32 adc distance with vec_id tie-break; output is rounded to 4 dp."""
    emb = _t(spark, sf, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    dim = len(cents[0]["embedding"])
    bounds = PQ.split_bounds(dim, 4)
    rows = []
    for r in sorted(cents, key=lambda r: r["vec_id"]):
        v = list(map(float, r["embedding"]))
        for s, (lo, hi) in enumerate(bounds):
            rows.append((s, int(r["vec_id"]), v[lo:hi]))
    cb = local_frame(spark, rows, "subvector_id int, centroid_id int, c array<float>")
    coded = PQ.quantize(emb, cb, vec_col="embedding", dim=dim, formulation="direct")
    qv = _hash_embed_py(IVF_QUERY_TEXT, dim=dim)
    out = PQ.adc_topk(coded, cb, qv, k=10)
    return out.select(
        "vec_id", pround(F.col("adc_distance").cast("double"), 4).alias("adc_distance")
    )


def q_knn_chunked(spark: SparkSession, sf: str) -> DataFrame:
    """Exact multi-block kNN (operators/knn.py, the partial strategy with
    query blocks): the query side is split into blocks of at most
    chunk_size rows (chunk_size=8 gives 4 blocks over 30 queries), each
    broadcast through the partial kernel, block frames unioned, one
    finishing window. Above the 100k driver ceiling the same plan is built
    from hash-split bounded collects, so exact ground truth never has to
    take the ANN path (ref lantern_cli/src/index_autotune/mod.rs:196-203
    semantics at N3 scale). Must hash-match the plain crossjoin/SQL answer
    exactly."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 30)
    out = K.knn_join(data, q, k=10, metric="cos", dist_scale=6, chunk_size=8)
    return out.select(
        "query_id", "vec_id", F.col("distance").alias("cos_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_knn_partial_strategy(spark: SparkSession, sf: str) -> DataFrame:
    """The scale-path kNN strategy (mapInPandas partial top-k). Output columns
    mirror q_knn_cos so the same DuckDB oracle hash-checks both strategies —
    the partial kernel must agree with the declarative crossjoin plan
    bit-for-bit after portable rounding."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 5)
    out = K.knn_join(data, q, k=10, metric="cos", strategy="partial", dist_scale=6)
    return out.select(
        "query_id", "vec_id", F.col("distance").alias("cos_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )



# ---------------------------------------------------------------------------
# Temporal joins / rollup / percentiles / IVF (added operator surface)
# ---------------------------------------------------------------------------

def q_events_asof_signup(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (backward, by user): each event joined to the user's most
    recent signup event at-or-before it — single-shuffle union+window plan
    (operators/temporal.py), vs DuckDB's native ASOF JOIN in the oracle."""
    ev = _events(spark, sf)
    left = ev.select("event_id", "user_id", "ts")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", "ts", pround("value", 2).alias("signup_value"))
    )
    out = TMP.asof_join(left, signups, on="ts", by=["user_id"])
    return out.select(
        "event_id", "user_id",
        F.col("r_ts_us").alias("signup_us"),
        F.col("r_signup_value").alias("signup_value"),
    )


def q_error_burst(spark: SparkSession, sf: str) -> DataFrame:
    """Pure range join (no equi key): events falling in the 5-minute window
    after a sampled error event; broadcast-nested-loop strategy (the error
    side is small by construction)."""
    ev = _events(spark, sf).withColumn("us", F.unix_micros("ts"))
    errors = (
        ev.where((F.col("event_type") == "error") & (F.col("event_id") % 100 == 0))
        .select(F.col("event_id").alias("error_id"), F.col("us").alias("lo"),
                (F.col("us") + 300 * 1_000_000).alias("hi"))
    )
    pts = ev.select(F.col("event_id").alias("pid"), F.col("us").alias("x"))
    joined = TMP.range_join(pts, errors, "x", "lo", "hi",
                            extra_on=F.col("pid") != F.col("error_id"))
    return joined.groupBy("error_id").agg(F.count("*").alias("n_events"))


def q_error_burst_binned(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME error-burst range join through the strategy='bin' scale path
    (explode intervals over bins, equi-join on bin id, exact re-check) —
    output mirrors q_error_burst so one oracle hash-checks both strategies,
    proving the bin kernel against the broadcast-nested-loop plan. Bin width =
    the interval width (each interval covers ≤ 2 bins)."""
    ev = _events(spark, sf).withColumn("us", F.unix_micros("ts"))
    errors = (
        ev.where((F.col("event_type") == "error") & (F.col("event_id") % 100 == 0))
        .select(F.col("event_id").alias("error_id"), F.col("us").alias("lo"),
                (F.col("us") + 300 * 1_000_000).alias("hi"))
    )
    pts = ev.select(F.col("event_id").alias("pid"), F.col("us").alias("x"))
    joined = TMP.range_join(pts, errors, "x", "lo", "hi",
                            extra_on=F.col("pid") != F.col("error_id"),
                            strategy="bin", bin_width=300 * 1_000_000)
    return joined.groupBy("error_id").agg(F.count("*").alias("n_events"))


def q_sales_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP aggregation (beyond the reference's flat GROUP BYs)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(pround(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
    )


def q_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous percentiles per event type (linear interpolation in
    both engines)."""
    ev = _events(spark, sf)
    return ev.groupBy("event_type").agg(
        pround(F.percentile("value", 0.5), 4).alias("p50"),
        pround(F.percentile("value", 0.9), 4).alias("p90"),
        pround(F.percentile("value", 0.99), 4).alias("p99"),
    )


def q_sampled_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sampled-quantile sketch (sampling.sampled_percentiles):
    hash32-keyed uniform row sample (k=512) + discrete lower quantile at rank
    ceil(q·m) — the DuckDB oracle replays the sample membership AND the rank
    pick bit-for-bit, which no RNG sample can. Contrast q_value_percentiles:
    exact full-column percentiles; this is the sketch the 100 TB corpus runs
    (one narrow hash filter instead of a full aggregation buffer)."""
    ev = _events(spark, sf)
    return SMP.sampled_percentiles(
        ev, "value", probs=(0.5, 0.9, 0.99), id_col="event_id", k=512
    ).select("prob", pround("estimate", 6).alias("estimate"), "n_sample", "n_rows")


def q_event_type_users(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation: per event type, exact distinct users + totals."""
    ev = _events(spark, sf)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


def q_purchasers_no_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Set difference: users who purchased but never errored (EXCEPT)."""
    ev = _events(spark, sf)
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    return purchasers.exceptAll(erroring)


def q_order_priority_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders in a date window having at
    least one late lineitem, counted by priority."""
    orders = _t(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = _t(spark, sf, "lineitem").select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join: customers that never placed an order, counted per segment."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey").distinct()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


IVF_QUERY_TEXT = "ivf probe query"

# The testdata embeddings fixture dim (TESTDATA.md; all SFs carry 64). Used
# only where the oracle SQL needs dim-sized LITERALS (the inlined query vector
# and hyperplane matrices); everything else in the oracles derives bounds from
# len() of the actual data via _sql_split_ranges, so the same SQL stays correct
# on any-dim fixtures (the adversarial-parity suite runs dim-8). The hash
# query-vector truncation is consistent by construction: element i of
# hash_embedding depends only on (model, i, text), so a 64-dim literal read
# through len(data)-bounded ranges equals the lower-dim vector exactly.
EMB_DIM = 64


def q_ivf_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN with a deterministic coarse codebook (centroids = vectors
    of vec_id<4): assign cells, probe the 2 cells nearest the query,
    exact top-5 inside the probed subset. The same structure backed by k-means
    centroids + cell-partitioned storage is the 100 TB scale path
    (operators/ivf.py; partition pruning does the reading)."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    dim = len(centroids[0])
    qv = _hash_embed_py(IVF_QUERY_TEXT, dim=dim)
    # the assignment kernel's cells are the exact (a-b)^2 fold argmin, the
    # SQL oracle's summation order
    indexed = IVF.assign_cells(emb, centroids, vec_col="embedding")
    out = IVF.ivf_topk(indexed, centroids, qv, k=5, nprobe=2, metric="l2sq",
                       vec_col="embedding", id_col="vec_id")
    return out.select(
        "vec_id", F.col("cell").cast("bigint").alias("cell"),
        pround("distance", 5).alias("l2sq_distance"),
    )


def q_ivf_pq_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF∘PQ residual composition (the classic IVF-PQ layout, ivf.py:191-288):
    deterministic coarse codebook (centroids = vectors of vec_id<4, exact
    fold cell assignment), residual = v − centroid[cell], deterministic
    residual PQ codebook (residuals of vec_id<8 sliced into 4 subvectors — the
    q_pq_assign trick), ADC top-10 over the 2 probed cells. Exercises the full
    cell-pruned ADC path (probe → per-cell LUT → code lookups → top-k) with a
    DuckDB oracle replaying every stage. At scale the probed-cell filter is
    storage partition pruning (pinned by tests/test_ivf.py)."""
    emb = _t(spark, sf, "embeddings")
    # r13 pass-5 (guide §1.2 fewer passes): ONE 8-row collect replaces the
    # previous two jobs (coarse collect + a second collect that re-ran the
    # assign/residual plan for vec_id<8). The codebook rows' cells and
    # residuals are replayed driver-side with the IDENTICAL arithmetic as
    # assign_cells' exact fold: sequential left-to-right double sums, strict-<
    # first-wins argmin, elementwise double subtraction — Python floats ARE
    # IEEE doubles, so the values are bit-identical (pinned by
    # tests/test_plans.py::test_ivf_pq_codebook_driver_replay).
    rows8 = (
        emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    coarse = [list(map(float, r["embedding"])) for r in rows8 if r["vec_id"] < 4]
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
    dim = len(coarse[0])
    bounds = PQ.split_bounds(dim, 4)
    rows = []
    for r in rows8:  # already vec_id-ascending
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
        for s_i, (lo, hi) in enumerate(bounds):
            rows.append((s_i, int(r["vec_id"]), rv[lo:hi]))
    cb = local_frame(spark, rows, "subvector_id int, centroid_id int, c array<double>")
    coded = PQ.quantize(with_res, cb, vec_col="rv", dim=dim, formulation="direct")
    qv = _hash_embed_py(IVF_QUERY_TEXT, dim=dim)
    out = IVF.ivf_pq_topk(coded, coarse, cb, qv, k=10, nprobe=2, id_col="vec_id")
    return out.select("vec_id", pround("adc_distance", 4).alias("adc_distance"))


def q_hnsw_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded-HNSW eval with a SQL oracle (N1/N4, hnsw.py): the returned rows
    ARE the exact l2sq top-10 ground truth (fully SQL-replayable, same shape as
    knn_l2), plus a `recall_ok` flag the oracle pins to TRUE. The flag comes
    from building seeded HNSW shards over the same corpus, batch-searching the
    same 5 queries, and intersecting with the truth — graph traversal isn't
    SQL-expressible, but its pass criteria are literals the oracle asserts:
    `recall_ok` (aggregate ≥ 0.9) AND per-query `recall`, which the seeded
    build measures at exactly 1.0 for every sf0.01 query — so an HNSW
    regression that loses even ONE neighbor for one query flips the hash red
    (the r5-advice tightening; 0.9 alone let a 1.0→0.91 slide pass)."""
    from lantern_extras_spark.operators import hnsw as H

    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where(F.col("vec_id") >= 5)
    exact = K.knn_join(data, q, k=10, metric="l2sq", strategy="crossjoin", dist_scale=5)

    # r13 pass-5 (guide §2.6 overlap-independent-jobs): the exact-truth
    # collect and the HNSW build+search job are independent driver-side
    # actions — the exact collect now runs from a worker thread so the shard
    # build's tasks back-fill executors freed by the crossjoin's tail.
    # Results are the identical row sets; only the scheduling overlaps.
    from concurrent.futures import ThreadPoolExecutor

    # collect the exact side ONCE (50 rows) — it is both the ground truth for
    # the recall check and, re-materialized below, the returned result
    exact_sel = exact.select(
        "query_id", "vec_id", F.col("distance").alias("l2sq_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        f_exact = pool.submit(exact_sel.collect)

        shards = H.build_hnsw_shards(
            data, vec_col="embedding", id_col="vec_id", n_shards=8, m=12,
            ef_construction=64, metric="l2sq", seed=42,
        )
        queries = [
            (int(r["query_id"]), [float(x) for x in r["query_vec"]])
            for r in q.collect()
        ]
        got: dict[int, set[int]] = {}
        for r in H.hnsw_topk_batch(shards, queries, k=10, ef=64, id_col="vec_id").collect():
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        exact_rows = f_exact.result()
    truth: dict[int, set[int]] = {}
    for r in exact_rows:
        truth.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    rec = sum(len(truth[qid] & got.get(qid, set())) for qid in truth) / sum(
        len(v) for v in truth.values()
    )
    ok = bool(rec >= 0.9)
    per_q = {
        qid: round(len(truth[qid] & got.get(qid, set())) / len(truth[qid]), 2)
        for qid in truth
    }
    return local_frame(
        spark,
        [
            (r["query_id"], r["vec_id"], r["l2sq_distance"], r["rnk"], ok,
             per_q[int(r["query_id"])])
            for r in exact_rows
        ],
        "query_id long, vec_id long, l2sq_distance double, rnk bigint, "
        "recall_ok boolean, recall double",
    )


def q_ivf_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus ANN join (operators/ivf.py:ivf_knn_join) — BOTH sides
    distributed, neither collected: embedding-level decontamination shape
    (eval vectors vs training corpus; the vector analog of `decontaminate`).
    Deterministic coarse codebook (centroids = vectors of vec_id<4, the
    q_ivf_search trick), queries = vec_id<10, corpus = vec_id≥10; every query
    explodes into its 2 nearest cells, corpus rows assign to theirs, one
    cogroup on cell + exact distances inside probed cells, top-5 per query.
    The DuckDB oracle replays every stage (assign → probe → join → rank);
    the Arrow kernels' fold distances are bit-identical to its arithmetic,
    so the oracle certifies the scale path itself."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    out = IVF.ivf_knn_join(
        corpus, queries, k=5, nprobe=2, metric="l2sq", centroids=centroids,
        id_col="vec_id", vec_col="embedding", dist_scale=5,
    )
    return out.select(
        "query_id", "vec_id", F.col("distance").alias("l2sq_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic distinct-count sketch (textstats.kmv_distinct): per-source
    distinct-token estimate from the k=64 minimum hash32 values — unlike HLL,
    the KMV sketch over the portable hash is bit-identical across engines, so
    the DuckDB oracle replays the estimate EXACTLY (and the true distinct
    count rides along for the accuracy audit)."""
    docs = _t(spark, sf, "documents")
    toks = docs.select("source", F.explode(T.tokens(F.col("text"))).alias("token"))
    est = TS.kmv_distinct(toks, "token", group_cols=("source",), k=64)
    true = toks.groupBy("source").agg(
        F.countDistinct("token").alias("distinct_true")
    )
    return (
        est.join(true, "source")
        .select(
            "source",
            F.col("n_rows").alias("n_tokens"),
            F.col("n_kept_hashes").cast("bigint").alias("n_kept_hashes"),
            "distinct_true",
            pround("distinct_est", 4).alias("distinct_est"),
        )
    )


def q_kmv_distinct_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Ungrouped KMV sketch over a HIGH-CARDINALITY column (doc_id — every
    value distinct): the configuration that kills a ranking-window k-min at
    scale (all n distinct hashes through one reducer) and the one the
    two-phase per-partition k-min keeps flat — the sf1 scaling witness for
    the r8 kmv_distinct restructure."""
    docs = _t(spark, sf, "documents")
    est = TS.kmv_distinct(docs, "doc_id", k=128)
    return est.select(
        F.col("n_rows").alias("n_docs"),
        F.col("n_kept_hashes").cast("bigint").alias("n_kept_hashes"),
        pround("distinct_est", 4).alias("distinct_est"),
    )


def q_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate vs the corpus top-200 vocab
    (textstats.oov_rate): deterministic (count desc, token asc) top-k vocab,
    broadcast membership join, per-doc mean — the counting cousin of the
    unigram LM score. The DuckDB oracle replays vocab -> membership ->
    rate."""
    docs = _t(spark, sf, "documents")
    out = TS.oov_rate(docs, top_v=200)
    return out.select("doc_id", "lang", F.col("oov_rate"))


def q_sq8_search(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 compressed kNN (operators/sq.py): per-dim int8 affine codes over
    the corpus side, top-10 per query on DEQUANTIZED distances — ~4× less
    scan IO than the float path at step/2-bounded error. Bounds, encode and
    the dequantized fold are exact double arithmetic; DuckDB replays the
    whole pipeline (bounds → codes → distances → rank)."""
    emb = _t(spark, sf, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5).select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    mins, maxs = SQ.sq8_train(corpus)
    coded = SQ.sq8_encode(corpus, mins, maxs)
    out = SQ.sq8_knn_join(coded, queries, mins, maxs, k=10, dist_scale=5)
    return out.select(
        "query_id", "vec_id",
        F.col("distance").alias("sq8_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_split_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Split-leakage audit (sampling.split_contamination_report): the NAIVE
    per-doc hash_split deliberately scatters near-dup pairs across the
    train/eval/test boundary; the report lists every crossing pair — the
    release gate that returns zero rows for `leakage_safe_split` (pinned by
    pytest) and non-zero here. Cost follows the pair count (two id
    equi-joins), never corpus²."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    labeled = SMP.hash_split(docs)
    out = SMP.split_contamination_report(labeled, pairs)
    return out.select(
        "id_a", "split_a", "id_b", "split_b",
        pround("jaccard", 5).alias("jaccard"),
    )


def q_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail triage (textstats.perplexity_buckets): per-
    language quantile cutoffs of the unigram LM score from the deterministic
    keyed sample, docs bucketed by how many cutoffs their 6-dp score
    exceeds. No corpus-wide sort — the ranking window runs over the ≤k
    sample only; DuckDB replays score → sample → cutoffs → assignment."""
    docs = _t(spark, sf, "documents")
    out = TS.perplexity_buckets(docs, group_col="lang", k=512)
    return out.select(
        "doc_id", "lang",
        pround("lm_logprob", 5).alias("lm_logprob"),
        "ppl_bucket",
    )


MIXTURE_ORDER_W = {"src0": 3.0, "src1": 1.0, "src2": 0.5}


def q_mixture_order(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture-interleaved training order (sampling.mixture_order): key =
    hash32(salt:id)/2^32 / weight, zero-weight sources dropped. The oracle
    replays the hash draw and the division bit-for-bit; interleaving quality
    (prefix proportions) is pinned by pytest."""
    docs = _t(spark, sf, "documents")
    out = SMP.mixture_order(docs, MIXTURE_ORDER_W)
    return out.select(
        "doc_id", "source", pround("order_key", 8).alias("order_key")
    )


def q_heavy_hitters_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped φ-heavy hitters (textstats.heavy_hitters group_col='lang'):
    per-language token heads against each language's OWN total — per-group MG
    summaries in pass 1, exact per-group recount in pass 2. Oracle = GROUP BY
    (lang, token) HAVING n > φ·N_lang."""
    docs = _t(spark, sf, "documents")
    return TS.heavy_hitters(docs, phi=0.002, group_col="lang")


def q_corpus_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff (versioning.corpus_diff): the 'new' snapshot is derived
    deterministically from documents — doc_id%13==0 dropped (removed),
    %11==0 re-identified +1e6 (moved), %7==0 gets an appended revision note
    (edited), rest untouched — so every status arm executes and the DuckDB
    oracle replays construction + full-outer id join + content-hash map +
    edited-shingle containment exactly."""
    docs = _t(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        F.when(F.col("doc_id") % 11 == 0, F.col("doc_id") + 1000000)
        .otherwise(F.col("doc_id")).alias("doc_id"),
        F.when(
            (F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 7 == 0),
            F.concat(F.col("text"), F.lit(" snapshot revision note")),
        ).otherwise(F.col("text")).alias("text"),
    )
    # r13 (guide §2.5): the edited-arm shingle containment is compute-bound;
    # AQE's byte-based coalescing ran it on ONE post-join partition. The
    # split+repartition spreads only the edited sliver across the cores.
    out = VER.corpus_diff(
        docs, new, parallelism=spark.sparkContext.defaultParallelism
    )
    return out.select(
        "doc_id", "status",
        pround("containment", 5).alias("containment"),
        "matched_old_id",
    )


def q_near_moves(spark: SparkSession, sf: str) -> DataFrame:
    """Re-identified-AND-edited recovery (versioning.near_moves over
    dedup.ngram_jaccard_join): docs with doc_id%9==0 get a new id (+2e6) AND
    an appended note, so corpus_diff can only call them added+removed; the
    cross-corpus shingle-Jaccard join re-links each to its predecessor. The
    oracle replays the diff residue, the pairwise jaccard, and the
    (max jaccard, min old id) winner pick."""
    docs = _t(spark, sf, "documents")
    new = docs.select(
        F.when(F.col("doc_id") % 9 == 0, F.col("doc_id") + 2000000)
        .otherwise(F.col("doc_id")).alias("doc_id"),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" lightly edited note")),
        ).otherwise(F.col("text")).alias("text"),
    )
    # NOTE (r13, measured): do NOT cache `diff` here. The two references
    # (added / removed residues) each push their status filter into
    # corpus_diff's union-of-arms plan, pruning the expensive
    # edited-containment arm entirely; a cache would materialize every arm
    # once and run slower (2.5 s -> 5.3 s when tried).
    diff = VER.corpus_diff(docs, new)
    out = VER.near_moves(docs, new, diff, threshold=0.3)
    return out.select(
        "doc_id", "matched_old_id", pround("jaccard", 6).alias("jaccard")
    )


def q_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Vector-side snapshot drift (versioning.embedding_drift): the 'new'
    snapshot is a deterministic affine perturbation (drop vec_id%3==0, each
    element x -> 1.1x + 0.05), so per-dimension mean/variance shifts are
    nonzero and fully replayable — the oracle recomputes both snapshots'
    exact moments per dimension."""
    emb = _t(spark, sf, "embeddings")
    old = emb.select(F.col("embedding").cast("array<double>").alias("embedding"))
    new = emb.where(F.col("vec_id") % 3 != 0).select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x * F.lit(1.1) + F.lit(0.05),
        ).alias("embedding")
    )
    out = VER.embedding_drift(old, new)
    return out.select(
        "dim",
        pround("mean_old", 6).alias("mean_old"),
        pround("mean_new", 6).alias("mean_new"),
        pround("mean_delta", 6).alias("mean_delta"),
        pround("var_old", 6).alias("var_old"),
        pround("var_new", 6).alias("var_new"),
    )


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact φ-heavy-hitter tokens (textstats.heavy_hitters): per-partition
    Misra-Gries candidate sketches, then an exact broadcast-filtered recount —
    the sketch changes the execution shape (no full-vocabulary shuffle), never
    the answer, so a plain GROUP BY + HAVING oracle replays the output
    exactly."""
    docs = _t(spark, sf, "documents")
    return TS.heavy_hitters(docs, phi=0.001)


def q_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe split (operators/sampling.py:leakage_safe_split): near-dup
    clusters (MinHash-LSH pairs -> connected components) share one split key,
    so no near-copy pair straddles the train/test boundary. The DuckDB oracle
    recomputes the pair graph, resolves components with a recursive CTE, and
    replays the hash32 bucket mapping per (cluster-or-self) key."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    out = SMP.leakage_safe_split(docs, pairs)
    return out.select("doc_id", "split_key", "split")


def q_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Verbatim span-level decontamination (dedup.decontaminate_spans — Lee
    et al. n-gram removal): benchmark = docs 0-9 with the shared prologue
    injected, training = docs 10-99 with the SAME prologue injected, span=8 —
    so every training doc loses exactly its prologue windows and keeps its
    own body. The DuckDB oracle replays window hashing on both sides, the
    semi-join, interval merge, and token excision."""
    docs = _t(spark, sf, "documents")
    train = docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 100)).select(
        "doc_id", F.concat(F.lit(DS_PROLOGUE), F.lit(" "), F.col("text")).alias("text")
    )
    bench = docs.where(F.col("doc_id") < 10).select(
        "doc_id", F.concat(F.lit(DS_PROLOGUE), F.lit(" "), F.col("text")).alias("text")
    )
    out = D.decontaminate_spans(train, bench, span=8)
    return out.select("doc_id", "text_dedup", "n_tokens_removed")


def q_embedding_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-level benchmark decontamination
    (operators/dedup.py:decontaminate_embeddings) — the vector analog of
    `decontaminate`: every training vector within cos distance 0.85 of any
    benchmark vector (vec_id<10), found through a distance-THRESHOLD IVF
    range join (ivf_range_join — not top-k, so no under-flagging when many
    corpus rows crowd one bench item). Deterministic coarse codebook
    (centroids = vectors of vec_id<4), 2-cell multi-probe; the DuckDB oracle
    replays assign → probe → join → radius filter."""
    emb = _t(spark, sf, "embeddings")
    cents_rows = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = [list(map(float, r["embedding"])) for r in cents_rows]
    bench = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    out = D.decontaminate_embeddings(
        corpus, bench, max_distance=0.85, metric="cos", mode="flag",
        nprobe=2, centroids=centroids, dist_scale=6,
    )
    return out.select(
        "vec_id", "bench_id", F.col("distance").alias("cos_distance")
    )


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Retrieval: BM25 lexical ranking, hybrid RRF fusion, late interaction, MMR
# ---------------------------------------------------------------------------

MAXSIM_QUERY_B = "sort table hash value scan"


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 for the flagship query terms — the lexical ranker paired
    with the reference's vector search (http_server/search.rs top-k shape).
    Stats pass = exact-integer aggregate; scoring pass = narrow no-shuffle
    projection; top-k via TakeOrderedAndProject."""
    docs = _t(spark, sf, "documents")
    out = RET.bm25_topk(docs, QUERY_TEXT.split(), k=10, round_dp=6)
    return out.select("doc_id", "score", "rnk")


def _vec_topk(spark: SparkSession, sf: str, n: int) -> DataFrame:
    """Cosine top-n over hash embeddings (the doc_search plan, parameterized)."""
    docs = _t(spark, sf, "documents")
    qv = _hash_embed_py(QUERY_TEXT)
    corpus = docs.where(ignore_filter("text")).select(
        "doc_id", hash_embedding("text").alias("emb")
    )
    qcol = F.lit(qv).cast("array<double>")
    scored = corpus.select(
        "doc_id", pround(V.cos_sim(F.col("emb"), qcol), 6).alias("cosine")
    )
    top = scored.orderBy(F.col("cosine").desc(), F.col("doc_id").asc()).limit(n)
    w = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def q_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid lexical+vector search: BM25 top-30 and cosine top-30 fused with
    reciprocal-rank fusion (k0=60), final top-10. Each system's list is
    bounded, so the fusion join is a few dozen rows at any corpus scale."""
    docs = _t(spark, sf, "documents")
    bm = RET.bm25_topk(docs, QUERY_TEXT.split(), k=30, round_dp=6).select("doc_id", "rnk")
    vec = _vec_topk(spark, sf, 30).select("doc_id", "rnk")
    return RET.rrf_fuse([bm, vec], k=10).select("doc_id", "rrf", "rnk")


def q_maxsim_search(spark: SparkSession, sf: str) -> DataFrame:
    """Late-interaction (ColBERT maxsim) retrieval: chunk documents, embed the
    chunks, score(doc) = Σ over two query vectors of the max chunk cosine.
    Max aggregates are order-insensitive → engine-deterministic."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    chunks = TS.chunk_documents(docs, window=16, overlap=4)
    ce = chunks.select("doc_id", hash_embedding("chunk_text").alias("emb"))
    qa = _hash_embed_py(QUERY_TEXT)
    qb = _hash_embed_py(MAXSIM_QUERY_B)
    out = RET.maxsim_topk(ce, [qa, qb], k=10)
    return out.select("doc_id", "m_0", "m_1", "score", "rnk")


def q_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR-diversified top-5 from the cosine top-20 candidates (λ=0.7). All
    similarity arithmetic stays in Column expressions (pround 6); only the
    greedy argmax runs in applyInPandas over the 20-row candidate group."""
    docs = _t(spark, sf, "documents")
    qv = _hash_embed_py(QUERY_TEXT)
    corpus = docs.where(ignore_filter("text")).select(
        "doc_id", hash_embedding("text").alias("emb")
    )
    qcol = F.lit(qv).cast("array<double>")
    scored = corpus.select(
        "doc_id", "emb", pround(V.cos_sim(F.col("emb"), qcol), 6).alias("simq")
    )
    cand = scored.orderBy(F.col("simq").desc(), F.col("doc_id").asc()).limit(20)
    # cache-before-self-join: the candidate plan carries HOF folds (cos_sim);
    # Spark's conflicting-attribute rewrite on a HOF self-join loses lambda
    # bindings (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — InMemoryRelation dedup
    # is the sound workaround (same as semantic_dedup's native branch).
    cand = cand.cache()
    cand.count()
    out = RET.mmr_rerank(cand, k=5, lam=0.7)
    return out.select("rnk", "doc_id", "mmr")


def q_bq_search(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-quantization two-stage search (compressed kNN family #4, the
    storage twin of the index server's B1 wire frames): midrange-threshold
    1-bit codes, Hamming top-40 candidate prune (integer bit_count(xor) over
    packed words), exact l2sq rerank to top-10."""
    emb = _t(spark, sf, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow["embedding"]]
    out = BQ.bq_search(corpus, qv, k=10, oversample=4, dist_scale=5)
    return out.select(
        "vec_id", F.col("hamming").cast("bigint").alias("hamming"),
        "l2sq_distance", "rnk",
    )


def q_bm25_prf(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance feedback (RM3-lite): BM25 pass one → top-10 feedback
    docs → 5 most frequent non-query terms join the query at weight 0.5 →
    weighted pass two. Fully in-engine (expansion terms never visit the
    driver); per-doc sums are term-sorted sequential folds."""
    docs = _t(spark, sf, "documents")
    out = RET.bm25_prf_topk(docs, QUERY_TEXT.split(), k=10, n_feedback=10,
                            n_expansion=5, expansion_weight=0.5, round_dp=6)
    return out.select("doc_id", "score", "rnk")


def q_search_snippets(spark: SparkSession, sf: str) -> DataFrame:
    """Snippet extraction for the BM25 top-10: the 12-token window with the
    most query-term occurrences per result doc (ties → earliest start) —
    integer hit counts, bounded to the ranked id set."""
    docs = _t(spark, sf, "documents")
    terms = QUERY_TEXT.split()
    ranked = RET.bm25_topk(docs, terms, k=10, round_dp=6).select("doc_id", "rnk")
    out = RET.search_snippets(ranked, docs, terms, window=12)
    return out.select("doc_id", "rnk", "n_hits", "snippet")


def q_mrl_search(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncated-dimension search (compressed kNN family #5):
    prefix-l2sq over the first 16 of 64 dims prunes to 40 candidates
    (TakeOrderedAndProject, ¼ of the float bytes), full-dim rerank to
    top-10. No training step — truncation IS the compression."""
    emb = _t(spark, sf, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qv = [float(x) for x in qrow["embedding"]]
    d_prefix = max(1, len(qv) // 4)
    out = MRL.mrl_search(corpus, qv, d_prefix=d_prefix, k=10, oversample=4,
                         dist_scale=5)
    return out.select("vec_id", "prefix_distance", "l2sq_distance", "rnk")


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew profile (operators/skew.py:skew_report — the
    'is this key safe to shuffle on' gauge the 100 TB checklist demands):
    exact per-key counts for the top keys, their row share, and the salt
    factor that bounds the hottest key at target_rows_per_task rows per
    reducer — the number `salted_join` consumes. One map-side-combining
    groupBy + TakeOrderedAndProject + broadcast total; exact counts make it
    a plain GROUP BY to the oracle."""
    ev = _t(spark, sf, "events")
    out = SKW.skew_report(ev, "event_type", top_k=10,
                          target_rows_per_task=1000)
    return out.select(
        "event_type", "n", pround("share", 6).alias("share"), "salt_factor"
    ).orderBy(F.col("n").desc(), F.col("event_type").asc())


def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py:salted_join): the left
    side carries a deterministic per-row salt, the right side is replicated
    salt× and the join runs on (key, salt) — a hot key's probe spreads
    across `salt` reducers while the RESULT is exactly the plain join's
    (each left row meets the one replica with its salt). Oracle = the plain
    SQL join; the plan (pinned) shuffles on (l_orderkey, __salt)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = SKW.salted_join(li, orders, on="l_orderkey", salt=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


def q_compressed_tradeoff(spark: SparkSession, sf: str) -> DataFrame:
    """Compressed-kNN family trade-off report (r8 verdict #7 — the CLI's
    compare-compressed, hash-certified): recall@10 vs the exact float scan
    for every deployable compression family, at fixed seeds/configs so the
    comparison itself is deterministic and DuckDB-replayable. One row per
    family: (family, config, bytes_per_vec, recall). sq8 over the 5-query
    set (vs knn_l2's exact sets); bq/mrl over query 0; pq_adc over its
    deterministic slice codebook vs the exact scan of the same hash query.
    Latency columns live in the CLI report (timings are not oracle-able);
    THIS query certifies the accuracy/footprint side of the same grid."""
    # r13 (guide §2.6 overlap-independent-jobs): the four recall counts are
    # independent driver-side actions over disjoint sub-plans — running them
    # sequentially left the cluster idle through each job's tail. The shared
    # 50-row exact set is cached (it feeds three of the four), then the four
    # counts run from a small thread pool so later jobs back-fill executors
    # freed by earlier ones. Results are identical integers; only the
    # scheduling overlaps.
    exact5 = q_knn_l2(spark, sf).select("query_id", "vec_id").cache()
    exact0 = exact5.where(F.col("query_id") == 0).select("vec_id")
    emb = _t(spark, sf, "embeddings")
    qv = _hash_embed_py(IVF_QUERY_TEXT, dim=EMB_DIM)
    qdf = local_frame(spark, [(0, qv)], "query_id long, query_vec array<double>")
    exact_pq = K.knn_join(emb, qdf, k=10, metric="l2sq", strategy="crossjoin",
                          dist_scale=5).select("vec_id")
    # r14 REJECTED experiment: submitting the exact5-independent pq branch
    # BEFORE the exact5 materialization count (guide §2.6) measured 1.03x
    # median / 1.03x min in a clean 4-pair A/B — the serial count is too
    # small a prefix to matter here. Reverted to the r13 shape.
    exact5.count()  # materialize before the concurrent readers fork
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_sq8 = pool.submit(
            lambda: q_sq8_search(spark, sf)
            .join(exact5, ["query_id", "vec_id"], "left_semi").count())
        f_bq = pool.submit(
            lambda: q_bq_search(spark, sf).join(exact0, "vec_id", "left_semi").count())
        f_mrl = pool.submit(
            lambda: q_mrl_search(spark, sf).join(exact0, "vec_id", "left_semi").count())
        f_pq = pool.submit(
            lambda: q_pq_adc_topk(spark, sf).join(exact_pq, "vec_id", "left_semi").count())
        n_sq8, n_bq, n_mrl, n_pq = (
            f_sq8.result(), f_bq.result(), f_mrl.result(), f_pq.result())
    exact5.unpersist()
    rows = [
        ("float32", "exact scan", 4 * EMB_DIM, 1.0),
        ("sq8", "dequantized scan", EMB_DIM, round(n_sq8 / 50.0, 6)),
        ("bq", "hamming x4 + rerank", EMB_DIM // 8, round(n_bq / 10.0, 6)),
        ("mrl", "prefix 16 of 64 + rerank", EMB_DIM, round(n_mrl / 10.0, 6)),
        ("pq_adc", "slice codebook 4x8", 4, round(n_pq / 10.0, 6)),
    ]
    return local_frame(
        spark, rows, "family string, config string, bytes_per_vec bigint, recall double"
    )


def q_bloom_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered anti join (always exact): bloom-fail rows are
    definite non-members and bypass the join entirely; only the plausible
    sliver pays the left_anti confirm. Oracle = plain NOT EXISTS."""
    # r13 (guide §2.3 project-before): the anti join's single-scan path
    # persists its flagged input — projecting to the 3 consumed columns first
    # keeps the cached relation (and both union branches) narrow instead of
    # materializing all 16 lineitem columns
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    orders = _t(spark, sf, "orders")
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")
    aj = BL.bloom_anti_join(li, keys, big_col="l_orderkey", key_col="o_orderkey")
    return (
        aj.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


def q_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency power-law fit over the corpus vocabulary — the
    one-row corpus-health gauge (natural text ≈ slope −1; templated text
    flattens). All float sums are rank-ordered sequential folds, so the
    fitted coefficients agree bit-for-bit across engines."""
    docs = _t(spark, sf, "documents")
    return TS.zipf_fit(docs, top_k=100, round_dp=6)


def q_soft_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Soft dedup (sampling.soft_dedup_weights): near-dup clusters weighted
    1/|cluster| instead of dropped — every duplicated content unit carries
    one document's training mass, cluster weights sum to 1. Same pair graph
    and recursive-CTE oracle as leakage_safe_split."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    out = SMP.soft_dedup_weights(docs, pairs)
    return out.select(
        "doc_id", "cluster_id", "cluster_size", "sample_weight"
    ).orderBy("doc_id")


def q_vocab_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical drift between snapshots (versioning.vocab_drift): the new
    snapshot derives deterministically from documents (doc_id%13 dropped,
    a boilerplate phrase appended to doc_id%7) so both engines replay the
    mutation; every token phi-heavy in either snapshot gets exact shares in
    both plus a Laplace-floored log-ratio. Candidates come from the MG
    heavy-hitter pass (no global window over the vocabulary)."""
    docs = _t(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" subscribe newsletter subscribe")),
        ).otherwise(F.col("text")),
    )
    return VER.vocab_drift(docs, new, phi=0.001).orderBy("token")


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language tokenizer efficiency (textstats.tokenizer_fertility):
    BPE-ish pre-tokens per whitespace word and chars per pre-token — the
    sequence-length budgeting gauge for multilingual mixtures. One narrow
    regex projection + one group-sized aggregation."""
    docs = _t(spark, sf, "documents")
    return TS.tokenizer_fertility(docs, group_col="lang").orderBy("lang")


def q_domain_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """c-TF-IDF domain keywords (textstats.domain_keywords): each source
    collapsed to one virtual document, top-3 most characteristic terms by
    (tf_g/tokens_g)*ln(n_groups/df_g) with portable 6-dp rounding before
    ranking. The what-is-in-this-domain report behind mixture decisions."""
    docs = _t(spark, sf, "documents")
    out = TS.domain_keywords(docs, group_col="source", k=3, round_dp=6)
    return out.select(
        "source", "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("grp_tokens").cast("bigint").alias("grp_tokens"),
        F.col("df_g").cast("bigint").alias("df_g"),
        "score",
        F.col("rank").cast("bigint").alias("rnk"),
    ).orderBy("source", "rnk")


def q_mixture_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-capped mixture sizing (sampling.mixture_plan): the largest
    train corpus the data supports at a 40/30/20/10 source mixture with no
    source repeated past 2 epochs — T = min(n_g*max_epochs/t_g); the
    arg-min source is the binding constraint. One agg to group-sized rows +
    a broadcast scalar; oracle replays the same bigint->double arithmetic."""
    docs = _t(spark, sf, "documents")
    target = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    return SMP.mixture_plan(docs, target, max_epochs=2.0).orderBy("source")


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining (knn.hard_negatives): for each query
    embedding, the 10 cosine-nearest corpus vectors with a DIFFERENT label —
    the filter runs before ranking so these are the true top-k negatives.
    Declarative crossjoin config for oracle parity; the masked partial-topk
    mapInPandas strategy is equivalence-tested in tests/."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where(F.col("vec_id") >= 5)
    out = K.hard_negatives(
        data, q, k=10, metric="cos", strategy="crossjoin", dist_scale=6
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        F.col("distance").alias("cos_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_hard_negatives_chunked(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining at training-set scale (knn.hard_negatives, the
    partial strategy with query blocks): the same bounded-block plan as
    knn_chunked with query labels traveling in each block's broadcast — the
    masked per-task top-k must reproduce the declarative crossjoin answer
    exactly (chunk_size=8 gives 4 blocks over 30 queries)."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where(F.col("vec_id") >= 30)
    out = K.hard_negatives(data, q, k=10, metric="cos", dist_scale=6, chunk_size=8)
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        F.col("distance").alias("cos_distance"),
        F.col("rank").cast("bigint").alias("rnk"),
    )


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-vs-corpus n-gram novelty (textstats.ngram_novelty): docs with
    doc_id%5<2 stand in for the already-held corpus, the rest for the new
    crawl batch; per new doc, the share of its distinct 3-gram shingles the
    held corpus has never seen. One distinct pass over reference shingles +
    one string equi-join + one per-doc agg — the crawl-valuation gauge."""
    docs = _t(spark, sf, "documents", spread=True)
    ref = docs.where(F.col("doc_id") % 5 < 2)
    tgt = docs.where(F.col("doc_id") % 5 >= 2)
    return TS.ngram_novelty(tgt, ref, n=3, round_dp=6).orderBy("doc_id")


def q_cms_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch point queries vs exact counts (sketches.cms_build /
    cms_estimate): sketch the corpus token stream into 4x2048 cells (the
    shuffle carries at most depth*width rows per map task however large the
    vocabulary), then estimate the phi-heavy tokens and report the one-sided
    error. Oracle replays the md5 bucket hashing cell-for-cell; the CMS
    guarantee (est >= exact, always) is visible in the overshoot column."""
    docs = _t(spark, sf, "documents")
    depth, width = 4, 2048
    # r13 pass-6 (guide §5 / §7.2 duplicated subtrees): `hh` is referenced
    # twice (the estimate probe AND the final join) and its lineage is the
    # whole heavy_hitters pipeline (MG candidates + exact recount) — without
    # a materialization it executed twice. The frame is bounded BY
    # CONSTRUCTION at ≤ 1/phi rows (φ-heavy tokens), so localCheckpoint is
    # bounded state, not data caching (the bm25_prf weighted-frame
    # discipline).
    hh = (
        TS.heavy_hitters(docs, phi=0.001, out_order=False)
        .select("token", "n")
        .localCheckpoint()
    )
    toks = docs.select(F.explode(T.tokens("text")).alias("token"))
    sk = SK.cms_build(toks, "token", depth=depth, width=width)
    est = SK.cms_estimate(sk, hh, "token", depth=depth, width=width)
    return (
        hh.join(est, "token")
        .select(
            "token",
            F.col("n").alias("exact_n"),
            "cms_est",
            (F.col("cms_est") - F.col("n")).alias("overshoot"),
        )
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
    )


def q_bloom_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-prefiltered semi join (exact): lineitem pruned during its scan
    by a filter built from the selective orders subset, false positives
    removed by the left_semi join over the surviving sliver — result is
    bit-identical to a plain EXISTS (the oracle). At 100 TB the shuffle
    carries ~1% of the big side instead of all of it."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")
    sj = BL.bloom_semi_join(li, keys, big_col="l_orderkey", key_col="o_orderkey")
    return (
        sj.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


KEYWORD_LABELS = {
    "exec": ("shuffle", "partition", "join", "scan"),
    "ml": ("vector", "embedding", "model", "index"),
}


def q_dup_rate_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-estimated exact-duplicate rate (hll_build over the doc content
    fingerprint): estimate what exact dedup would save in ONE bounded pass —
    m registers of state, mergeable across shards — before paying for the
    full dedup shuffle. Docs are wrapped so ids 0..49 repeat the text of ids
    100.. (a planted ~9% duplicate rate both engines replay); exact distinct
    and exact rate ride alongside as the accuracy witness."""
    docs = _t(spark, sf, "documents")
    # plant duplicates deterministically: low ids mirror the text of id+100
    base = docs.select("doc_id", "text")
    planted = base.alias("a").join(
        base.selectExpr("doc_id AS src_id", "text AS src_text").alias("b"),
        F.col("a.doc_id") + 100 == F.col("src_id"),
        "left",
    ).select(
        "doc_id",
        F.when(F.col("doc_id") < 50, F.coalesce(F.col("src_text"), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    keyed = planted.select(F.md5(F.col("text")).alias("fp"))
    m = 512
    est = SK.hll_estimate(SK.hll_build(keyed, "fp", m=m), m=m)
    exact = keyed.agg(
        F.count("*").alias("n_docs"), F.countDistinct("fp").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_docs",
        "exact_distinct",
        "hll_est",
        pround(
            F.lit(1.0) - F.col("hll_est") / F.col("n_docs").cast("double"), 6
        ).alias("dup_rate_est"),
        pround(
            F.lit(1.0)
            - F.col("exact_distinct").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate_exact"),
    )


def q_pii_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc PII span counts (textstats.pii_stats, the audit companion to
    redact_pii): docs wrapped with synthetic email/IPv4/phone spans so every
    pattern fires, counted native-side with regexp_count — zero shuffle,
    whole-stage codegen. The release-gate number BEFORE deciding to scrub."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    did = F.col("doc_id").cast("string")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("Contact admin"), did, F.lit("@site.example.org or +1 555-000-"),
            did, F.lit(" via 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 | "), F.col("text"),
        ).alias("raw"),
    )
    out = TS.pii_stats(wrapped, text_col="raw")
    return out.select("doc_id", "n_email", "n_ip", "n_phone", "pii_total").orderBy(
        "doc_id"
    )


def q_dedup_within(spark: SparkSession, sf: str) -> DataFrame:
    """Within-doc repeated-unit removal (dedup.dedup_paragraphs_within):
    each doc gets its own text pasted twice plus a short tail — the repeated
    unit must drop exactly once per doc, the short tail never. Pure array
    expressions: zero shuffle besides the presentation sort."""
    docs = _t(spark, sf, "documents")
    t2 = F.concat_ws("\n", F.col("text"), F.col("text"), F.lit("short"))
    staged = docs.select("doc_id", t2.alias("text"))
    out = D.dedup_paragraphs_within(staged, min_chars=20)
    return out.select(
        "doc_id",
        F.col("text_dedup_within"),
        "n_units_dropped",
    ).orderBy("doc_id")


def q_hll_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped HLL (sketches.hll_build group_cols): distinct users per event
    type with 64 registers of state per group — the bounded-memory
    countDistinct whose per-group registers still MAX-merge across shards
    and streaming epochs. Exact countDistinct witness joined alongside."""
    ev = _t(spark, sf, "events")
    sk = SK.hll_build(ev, "user_id", m=64, group_cols=("event_type",))
    est = SK.hll_estimate(sk, m=64, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def q_normalize_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC normalization (functions.text.normalize_unicode, Arrow-
    batched pandas UDF — Spark has no JVM NFC expression): every doc gets a
    decomposed 'cafe'+COMBINING-ACUTE suffix appended, normalization must
    recombine it (len drops by exactly 1). The DuckDB oracle replays via its
    native nfc_normalize — two independent implementations of the Unicode
    standard agreeing byte-for-byte on every row."""
    docs = _t(spark, sf, "documents")
    with_dec = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" cafe\u0301")).alias("t2")
    )
    # stage the normalized column ONCE — referencing the pandas UDF in two
    # expressions would run the Python worker twice per row
    normed = with_dec.withColumn("__norm", T.normalize_unicode(F.col("t2")))
    out = normed.select(
        "doc_id",
        F.length("t2").alias("len_before"),
        F.length("__norm").alias("len_after"),
        (F.col("__norm") != F.col("t2")).alias("changed"),
    )
    return out.orderBy("doc_id")


def q_keyword_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword-seeded topic labeling (textstats.label_by_keywords, dataless
    classification): per doc, argmax over idf-weighted seed-keyword hits —
    the weak-supervision tagger that shapes mixture decisions before any
    trained classifier exists. Keyword table broadcast; scoring is one token
    explode + broadcast join + two map-side-combining aggregations; no
    windows."""
    docs = _t(spark, sf, "documents")
    out = TS.label_by_keywords(docs, KEYWORD_LABELS)
    return out.select("doc_id", "label", "label_score").orderBy("doc_id")


def q_ngram_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus diversity gauge (textstats.distinct_ngram_ratio, distinct-n of
    Li et al. 2016): per language and n in {1,2,3}, the share of n-gram
    occurrences that are unique — templated corpora crater distinct-2/3 long
    before dedup pair counts notice. Exact two-level aggregation; the Zipf
    head collapses in the map-side combine."""
    docs = _t(spark, sf, "documents")
    return TS.distinct_ngram_ratio(docs, (1, 2, 3), group_col="lang")


def q_bottomk_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Bottom-k sample sketch quantiles (sketches.bottomk_sample/
    bottomk_percentiles): the 512 events with smallest hash32('bks':id) are
    an exact uniform sample without replacement — mergeable across shards /
    streaming epochs (bottom-k of a union = bottom-k of the whole) — and the
    p50/p90/p99 of `value` are read off the sample with the ranking window
    confined to <= k rows. Sample selection is TakeOrderedAndProject."""
    ev = _t(spark, sf, "events")
    s = SK.bottomk_sample(ev, k=512, id_col="event_id")
    return SK.bottomk_percentiles(s, "value", (0.5, 0.9, 0.99), id_col="event_id")


def q_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-smoothed mixture (sampling.temperature_weights, the
    XLM-R alpha-sampling trick at alpha=0.5): per-language token shares
    smoothed toward uniform, with the per-doc resampling factor q/p that
    up-samples low-resource languages. Group-sized output; one aggregation
    shuffle + broadcast scalars."""
    docs = _t(spark, sf, "documents")
    return SMP.temperature_weights(docs, alpha=0.5, group_col="lang").orderBy("lang")


def q_reservoir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted reservoir sampling (sampling.weighted_reservoir, Efraimidis-
    Spirakis A-ES): 40 documents drawn without replacement with probability
    proportional to token count, keys ln(u)/w from the portable hash so the
    draw is a pure function of (doc_id, seed). Executes as
    TakeOrderedAndProject — no global sort, no ranking window."""
    docs = _t(spark, sf, "documents").withColumn("n_tokens", T.token_count("text"))
    out = SMP.weighted_reservoir(docs, n=40, weight_col="n_tokens")
    return out.select("doc_id", "lang", "n_tokens", "res_key").orderBy(
        F.col("res_key").desc(), F.col("doc_id").asc()
    )


def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware dedup survivor selection (dedup.dedup_keep_best): same
    minhash-LSH pair graph as soft_dedup, but each cluster keeps its BEST
    document (here: most tokens, the keep-the-longest policy) instead of an
    arbitrary one. The winner is a struct-MAX aggregation (map-side
    combining), not a ranking window; the un-clustered corpus bulk is never
    shuffled."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_dedup(docs, n_hashes=32, bands=8, threshold=0.2)
    scored = docs.withColumn("n_tokens", T.token_count("text"))
    out = D.dedup_keep_best(scored, pairs, "n_tokens")
    return out.select("doc_id", "cluster_id", "cluster_size", "is_kept").orderBy(
        "doc_id"
    )


def q_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL-style distinct sketch (sketches.hll_build/hll_estimate): 512
    max-rho registers over the corpus token stream — the mergeable,
    retry-idempotent "how many distinct" companion to CMS ("how often") and
    the exact two-phase kmv_distinct. The shuffle carries at most m rows per
    map task however large the vocabulary; the exact countDistinct column is
    the accuracy witness (HLL error ~ 1.04/sqrt(512) = 4.6%)."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("token"))
    sk = SK.hll_build(toks, "token", m=512)
    est = SK.hll_estimate(sk, m=512)
    exact = toks.agg(F.countDistinct("token").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "n_registers",
        "n_zero_registers",
        "hll_raw",
        "hll_est",
        "exact_distinct",
        pround(
            F.abs(F.col("hll_est") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance log-weights (selection.dsir_log_weights): hashed
    uni+bigram bag likelihood-ratio of each document under the target
    (lang='en' docs) vs the raw pool (the whole corpus), add-1 smoothed over
    2048 hashed buckets (Xie et al. 2023). Both profiles are bounded
    aggregations (<= buckets rows after map-side combine) and the log-ratio
    table is broadcast — nothing scales with the vocabulary."""
    docs = _t(spark, sf, "documents")
    # r13 pass-6 (guide §1.2 fewer passes): the target corpus is a predicate
    # over the raw pool itself, so target_filter folds both profiles into ONE
    # tagged feature pass — bit-identical weights pinned by
    # tests/test_selection.py::test_target_filter_matches_target_corpus_path.
    out = SEL.dsir_log_weights(
        docs, target_filter=F.col("lang") == "en", buckets=2048, alpha=1.0
    )
    return out.select("doc_id", "lang", "source", "n_features", "dsir_logw").orderBy(
        "doc_id"
    )


def q_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (selection.dsir_select): pick the 60
    documents to keep, without replacement, with probability proportional to
    their target/raw importance weight — the hash-derived Gumbel perturbation
    makes the draw deterministic and oracle-replayable. Executes as
    TakeOrderedAndProject (partial top-n per partition, no ranking window)."""
    docs = _t(spark, sf, "documents")
    # r13 pass-6: single-pass combined profile (see q_dsir_weights)
    out = SEL.dsir_select(
        docs, None, n=60, buckets=2048, alpha=1.0,
        target_filter=F.col("lang") == "en",
    )
    return out.select("doc_id", "lang", "dsir_logw", "sel_key").orderBy(
        F.col("sel_key").desc(), F.col("doc_id").asc()
    )


def q_dsir_select_big(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR selection at selection-scale n (selection.dsir_select cutoff
    path, r8 verdict #1): `small_n_max=0` forces the large-n plan — approx-
    quantile bracket + bounded boundary-band resolve + pure filter. No
    TakeOrderedAndProject, no global sort (plan-pinned): driver traffic is
    O(N/quantile_accuracy) narrow key rows however large n grows, so
    selecting 100M docs from a crawl costs the driver the same as selecting
    100. Output is the IDENTICAL set as the TakeOrdered plan (hash compare
    is order-insensitive; the oracle's ordered LIMIT picks the same rows)."""
    docs = _t(spark, sf, "documents")
    # r13 pass-6: single-pass combined profile (see q_dsir_weights)
    out = SEL.dsir_select(
        docs, None, n=120, buckets=2048, alpha=1.0, small_n_max=0,
        target_filter=F.col("lang") == "en",
    )
    return out.select("doc_id", "lang", "dsir_logw", "sel_key")


def q_corpus_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus distribution distance (selection.corpus_divergence): KL both
    ways, Jensen-Shannon, and total variation between the en and non-en
    sub-corpora over 1024 smoothed hashed-unigram buckets, tail mass in
    closed form. Two bounded profile passes + one <= buckets-row join +
    one scalar agg — corpus size only touches the narrow scans."""
    docs = _t(spark, sf, "documents")
    return SEL.corpus_divergence(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        buckets=1024,
        alpha=0.5,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: semantic document search via
    deterministic embeddings (embed corpus + query, cosine top-10)."""
    return q_doc_search(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "region_revenue": q_region_revenue,
        "returned_items": q_returned_items,
        "events_hourly": q_events_hourly,
        "event_pivot": q_event_pivot,
        "event_funnel": q_event_funnel,
        "user_sessions": q_user_sessions,
        "top_users_per_type": q_top_users_per_type,
        "vector_distances": q_vector_distances,
        "knn_cos": q_knn_cos,
        "knn_l2": q_knn_l2,
        "knn_dot": q_knn_dot,
        "knn_filtered": q_knn_filtered,
        "label_vector_stats": q_label_vector_stats,
        "embed_documents": q_embed_documents,
        "doc_search": q_doc_search,
        "token_stats": q_token_stats,
        "language_id": q_language_id,
        "quality_by_lang": q_quality_by_lang,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "hash_banded_pairs": q_hash_banded_pairs,
        "hash_banded_join": q_hash_banded_join,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "fingerprints": q_fingerprints,
        "pq_assign": q_pq_assign,
        "events_asof_signup": q_events_asof_signup,
        "error_burst": q_error_burst,
        "error_burst_binned": q_error_burst_binned,
        "sales_rollup": q_sales_rollup,
        "value_percentiles": q_value_percentiles,
        "sampled_percentiles": q_sampled_percentiles,
        "ivf_search": q_ivf_search,
        "event_type_users": q_event_type_users,
        "purchasers_no_errors": q_purchasers_no_errors,
        "order_priority_counts": q_order_priority_counts,
        "customers_without_orders": q_customers_without_orders,
        # multi-stage pipelines (every one hash-checked — see oracle_sql()):
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "embedding_neardup": q_embedding_neardup,
        "semantic_dedup": q_semantic_dedup,
        "semantic_incremental": q_semantic_incremental,
        "semantic_recall": q_semantic_recall,
        "duplication_share": q_duplication_share,
        "pq_adc_topk": q_pq_adc_topk,
        "knn_partial_strategy": q_knn_partial_strategy,
        "knn_chunked": q_knn_chunked,
        "ivf_pq_search": q_ivf_pq_search,
        "hnsw_recall": q_hnsw_recall,
        "ngram_containment": q_ngram_containment,
        "tfidf_top_terms": q_tfidf_top_terms,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "decontaminate": q_decontaminate,
        "decontaminate_bloom": q_decontaminate_bloom,
        "clean_text": q_clean_text,
        "html_text_extract": q_html_text_extract,
        "strip_boilerplate": q_strip_boilerplate,
        "redact_pii": q_redact_pii,
        "repetition_stats": q_repetition_stats,
        "unigram_logprob": q_unigram_logprob,
        "url_canonical": q_url_canonical,
        "gopher_filter": q_gopher_filter,
        "code_stats": q_code_stats,
        "text_hygiene": q_text_hygiene,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_text": q_pack_sequences_text,
        "dedup_paragraphs": q_dedup_paragraphs,
        "vocab_coverage": q_vocab_coverage,
        "quota_sample": q_quota_sample,
        "resample_mixture": q_resample_mixture,
        "chunk_documents": q_chunk_documents,
        "minhash_incremental": q_minhash_incremental,
        "dedup_spans": q_dedup_spans,
        "corpus_report": q_corpus_report,
        "bigram_logprob": q_bigram_logprob,
        "bigram_coverage": q_bigram_coverage,
        "ivf_knn_join": q_ivf_knn_join,
        "embedding_decontaminate": q_embedding_decontaminate,
        "leakage_safe_split": q_leakage_safe_split,
        "kmv_distinct": q_kmv_distinct,
        "kmv_distinct_ids": q_kmv_distinct_ids,
        "perplexity_buckets": q_perplexity_buckets,
        "split_contamination": q_split_contamination,
        "sq8_search": q_sq8_search,
        "oov_rate": q_oov_rate,
        "bloom_semi_join": q_bloom_semi_join,
        "bloom_anti_join": q_bloom_anti_join,
        "mrl_search": q_mrl_search,
        "zipf_slope": q_zipf_slope,
        "bm25_search": q_bm25_search,
        "bm25_prf": q_bm25_prf,
        "search_snippets": q_search_snippets,
        "bq_search": q_bq_search,
        "compressed_tradeoff": q_compressed_tradeoff,
        "skew_report": q_skew_report,
        "salted_join": q_salted_join,
        "hybrid_rrf": q_hybrid_rrf,
        "maxsim_search": q_maxsim_search,
        "mmr_rerank": q_mmr_rerank,
        "cms_frequencies": q_cms_frequencies,
        "ngram_novelty": q_ngram_novelty,
        "hard_negatives": q_hard_negatives,
        "hard_negatives_chunked": q_hard_negatives_chunked,
        "mixture_plan": q_mixture_plan,
        "domain_keywords": q_domain_keywords,
        "tokenizer_fertility": q_tokenizer_fertility,
        "vocab_drift": q_vocab_drift,
        "soft_dedup": q_soft_dedup,
        "heavy_hitters": q_heavy_hitters,
        "heavy_hitters_by_lang": q_heavy_hitters_by_lang,
        "corpus_diff": q_corpus_diff,
        "near_moves": q_near_moves,
        "embedding_drift": q_embedding_drift,
        "mixture_order": q_mixture_order,
        "top_duplicate_spans": q_top_duplicate_spans,
        "decontaminate_spans": q_decontaminate_spans,
        "dedup_keep_best": q_dedup_keep_best,
        "reservoir_sample": q_reservoir_sample,
        "bottomk_quantiles": q_bottomk_quantiles,
        "keyword_labels": q_keyword_labels,
        "hll_by_type": q_hll_by_type,
        "pii_stats": q_pii_stats,
        "dup_rate_sketch": q_dup_rate_sketch,
        "dedup_within": q_dedup_within,
        "normalize_nfc": q_normalize_nfc,
        "ngram_diversity": q_ngram_diversity,
        "temperature_mixture": q_temperature_mixture,
        "hll_distinct": q_hll_distinct,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "dsir_select_big": q_dsir_select_big,
        "corpus_divergence": q_corpus_divergence,
    }



def _ivf_qv_sql() -> str:
    qv = _hash_embed_py(IVF_QUERY_TEXT, dim=EMB_DIM)
    return "[" + ", ".join(repr(x) for x in qv) + "]::DOUBLE[]"

def _minhash_lsh_pairs_sql(n_hashes: int = 32, bands: int = 8, threshold: float = 0.2,
                           max_bucket: int = 500) -> str:
    """DuckDB replay of dedup.minhash_dedup: 32-perm signatures over portable
    hash32 shingles, '_'-joined 4-value band keys, bucket-size skew guard,
    candidate self-join, exact-Jaccard verify on the string shingle sets.

    Empty-shingle invariant: this SQL drops empty-shingle docs before banding
    (WHERE len(sh) > 0) while the Spark pipeline keeps them with null sigs →
    band_key ''. Equivalence holds because (a) threshold > 0 and an
    empty-shingle doc's jaccard with anything is 0, so such pairs can never
    survive the verify step, and (b) '' can never collide with a real
    '_'-joined band key (those always contain digits). Keep both properties
    if you touch the threshold default or the band-key format."""
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {D.perm_coeffs(i)[0]} + {D.perm_coeffs(i)[1]}) % {D.MINHASH_PRIME}))"
        for i in range(n_hashes)
    )
    rpb = n_hashes // bands
    band_selects = "\n                 UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, array_to_string(sig[{b * rpb + 1}:{b * rpb + rpb}], '_') AS band_key FROM sigt"
        for b in range(bands)
    )
    inter = "len(list_intersect(sa.sh, sb.sh))"
    union = f"len(sa.sh) + len(sb.sh) - {inter}"
    jac = f"CASE WHEN {union} = 0 THEN 0.0 ELSE {inter} / CAST({union} AS DOUBLE) END"
    return f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
                 s AS (SELECT doc_id, {_sql_shingles3()} AS sh FROM t),
                 h AS (SELECT doc_id, sh, list_transform(sh, x -> {_sql_hash32('x')}) AS hs
                       FROM s WHERE len(sh) > 0),
                 sigt AS (SELECT doc_id, sh, [{perms}] AS sig FROM h),
                 bands AS ({band_selects}),
                 counted AS (SELECT doc_id, band_idx, band_key,
                                    count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
                             FROM bands),
                 keep AS (SELECT * FROM counted WHERE bucket_n <= {max_bucket}),
                 cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                          FROM keep a JOIN keep b
                            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                               AND a.doc_id < b.doc_id),
                 verify AS (SELECT c.id_a, c.id_b, {jac} AS j
                            FROM cand c
                            JOIN sigt sa ON sa.doc_id = c.id_a
                            JOIN sigt sb ON sb.doc_id = c.id_b)
            SELECT id_a, id_b, round(j, 5) AS jaccard FROM verify WHERE j >= {threshold}
    """


def _sql_simhash_expr() -> str:
    """32-bit SimHash over a token-hash list `hs` as a DuckDB expression: bit b
    set iff the majority of token hashes has bit b set (2·ones(b) − n > 0) —
    the same vote rule as dedup.simhash's numpy kernel. Shared by the simhash
    and simhash_pairs oracles."""
    return " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> (h // {2**b}) % 2 = 1)) - len(hs) > 0 "
        f"THEN {2**b} ELSE 0 END"
        for b in range(32)
    )


def _simhash_pairs_sql(max_hamming: int = 3, band_bits: int = 8, max_bucket: int = 2000) -> str:
    """DuckDB replay of dedup.simhash_pairs over dedup.simhash signatures:
    full-table 32-bit simhash, `band_bits`-wide band keys via integer
    div/mod (matching the Spark floor(sim / 2^(8b)) % 256 extraction), the
    count-window skew guard, DISTINCT banded candidates, and the
    popcount(xor) ≤ max_hamming verify (DuckDB bit_count ≡ Spark bit_count;
    signatures are 32-bit non-negative so no sign-extension concerns)."""
    n_bands = 32 // band_bits
    band_selects = "\n                 UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, (sim // {2 ** (b * band_bits)}) % {2**band_bits} AS band_key FROM sims"
        for b in range(n_bands)
    )
    return f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
                 h AS (SELECT doc_id, list_transform(w, x -> {_sql_hash32('x')}) AS hs FROM t),
                 sims AS (SELECT doc_id, CAST({_sql_simhash_expr()} AS BIGINT) AS sim FROM h),
                 bands AS ({band_selects}),
                 counted AS (SELECT doc_id, band_idx, band_key,
                                    count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
                             FROM bands),
                 keep AS (SELECT * FROM counted WHERE bucket_n <= {max_bucket}),
                 cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                          FROM keep a JOIN keep b
                            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                               AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming
            FROM cand
            JOIN sims sa ON sa.doc_id = id_a
            JOIN sims sb ON sb.doc_id = id_b
            WHERE bit_count(xor(sa.sim, sb.sim)) <= {max_hamming}
    """


def _sql_split_ranges(len_expr: str, splits: int = 4) -> list[tuple[str, str]]:
    """PQ.split_bounds (pq.py:48-54) expressed over a SQL array-length
    expression: base = len//splits, split s covers [s·base, (s+1)·base), the
    LAST split takes the remainder. Returned as 1-based DuckDB range() args.
    One rule shared by every PQ oracle, applied to the data's actual dim — a
    fixture dim change (or a non-divisible dim) flows to both engines
    identically instead of desyncing."""
    base = f"({len_expr}//{splits})"
    out = [(f"{s}*{base} + 1", f"{s + 1}*{base} + 1") for s in range(splits - 1)]
    out.append((f"{splits - 1}*{base} + 1", f"{len_expr} + 1"))
    return out


def _pq_codes_ctes() -> str:
    """Shared CTE block (cents/v/pairs/codes) replaying PQ.quantize with the
    deterministic slice codebook: per-slice l2sq to every centroid via an
    *uncorrelated* CROSS JOIN (DuckDB lambdas cannot bind outer columns that
    appear only inside the lambda body), argmin with centroid_id tie-break via
    min over (distance, id) structs."""
    slices = _sql_split_ranges("len(v.ev)")
    dcols = ",\n                           ".join(
        f"list_sum(list_transform(range({lo}, {hi}), "
        f"i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))) AS d{s}"
        for s, (lo, hi) in enumerate(slices)
    )
    acols = ",\n                           ".join(
        f"min(struct_pack(d := d{s}, c := centroid_id)).c AS c{s}" for s in range(len(slices))
    )
    return f"""cents AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
                           FROM embeddings WHERE vec_id < 8),
                 v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
                 pairs AS (
                    SELECT v.vec_id, c.centroid_id,
                           {dcols}
                    FROM v CROSS JOIN cents c),
                 codes AS (
                    SELECT vec_id,
                           {acols}
                    FROM pairs GROUP BY vec_id)"""


def _pq_adc_topk_sql(qv_sql: str) -> str:
    """DuckDB replay of q_pq_adc_topk: deterministic slice codebook (vec_id<8,
    4 subvectors), argmin code per slice, ADC distance = sum of per-slice LUT
    entries, float32-cast before top-k ordering (mirrors adc_topk's float32
    output), ties broken on vec_id. Slice bounds derive from the data's dim
    via _sql_split_ranges (shared with the pq_assign oracle via
    _pq_codes_ctes) — the codebook centroids are full vectors, so len(a{s}.cv)
    is the full dim."""
    lut_terms = "\n                      + ".join(
        f"list_sum(list_transform(range({lo}, {hi}), i -> (a{s}.cv[i] - ({qv_sql})[i]) * (a{s}.cv[i] - ({qv_sql})[i])))"
        for s, (lo, hi) in enumerate(_sql_split_ranges("len(a0.cv)"))
    )
    lut_joins = "\n                ".join(
        f"JOIN cents a{s} ON a{s}.centroid_id = codes.c{s}" for s in range(4)
    )
    return f"""
            WITH {_pq_codes_ctes()},
                 dist AS (
                    SELECT codes.vec_id,
                           CAST(({lut_terms}) AS FLOAT) AS adc32
                    FROM codes
                {lut_joins}
                 )
            SELECT vec_id, round(CAST(adc32 AS DOUBLE), 4) AS adc_distance
            FROM dist ORDER BY adc32 ASC, vec_id ASC LIMIT 10
    """


def _embedding_neardup_sql(threshold: float = 0.4, n_planes: int = 6, seed: int = 42,
                           dim: int = EMB_DIM, max_bucket: int = 2000) -> str:
    """DuckDB replay of dedup.embedding_neardup_pairs with the seeded
    hyperplanes inlined as literals (np.random.RandomState(seed).randn, exactly
    the plane matrix the Spark operator builds)."""
    import numpy as np

    planes = np.random.RandomState(seed).randn(n_planes, dim)
    bucket_terms = "\n                           + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, len(ev)+1), i -> ev[i] * "
        f"([{', '.join(repr(float(x)) for x in planes[i])}]::DOUBLE[])[i])) >= 0 "
        f"THEN {2**i} ELSE 0 END)"
        for i in range(n_planes)
    )
    norms = ("sqrt(list_sum(list_transform(va, x->x*x))) * "
             "sqrt(list_sum(list_transform(vb, x->x*x)))")
    cs = (f"CASE WHEN {norms} = 0 THEN 0.0 "
          f"ELSE list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i])) / ({norms}) END")
    return f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
                 b AS (SELECT vec_id, ev,
                           {bucket_terms} AS bucket
                       FROM v),
                 counted AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS bucket_n FROM b),
                 keep AS (SELECT * FROM counted WHERE bucket_n <= {max_bucket}),
                 pairs AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                                  a.ev AS va, bb.ev AS vb
                           FROM keep a JOIN keep bb
                             ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id),
                 scored AS (SELECT id_a, id_b, {cs} AS cs FROM pairs)
            SELECT id_a, id_b, round(cs, 6) AS cosine FROM scored WHERE cs >= {threshold}
    """


def _ivf_pq_search_sql(qv_sql: str, nprobe: int = 2, k: int = 10) -> str:
    """DuckDB replay of q_ivf_pq_search: coarse cell assignment (argmin via
    CROSS JOIN + struct-min, cid tie-break — same shape as _pq_codes_ctes),
    residual vectors, residual slice-codebook codes, query probed to the
    `nprobe` nearest coarse cells, per-row ADC distance = Σ_s ||(q−centroid)
    [slice] − codeword[slice]||², top-k by (adc, vec_id). All bounds derive
    from len() of the data via _sql_split_ranges — dim-agnostic like the
    Spark side."""
    dcols = ",\n                           ".join(
        f"list_sum(list_transform(range({lo}, {hi}), "
        f"i -> (r.rv[i] - c.rv[i]) * (r.rv[i] - c.rv[i]))) AS d{s}"
        for s, (lo, hi) in enumerate(_sql_split_ranges("len(r.rv)"))
    )
    acols = ",\n                           ".join(
        f"min(struct_pack(d := d{s}, c := centroid_id)).c AS c{s}" for s in range(4)
    )
    adc_terms = "\n                      + ".join(
        f"list_sum(list_transform(range({lo}, {hi}), "
        f"i -> (cand.rqv[i] - cb{s}.rv[i]) * (cand.rqv[i] - cb{s}.rv[i])))"
        for s, (lo, hi) in enumerate(_sql_split_ranges("len(cand.rqv)"))
    )
    cb_joins = "\n                  ".join(
        f"JOIN cents cb{s} ON cb{s}.centroid_id = cand.c{s}" for s in range(4)
    )
    return f"""
            WITH coarse AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                            FROM embeddings WHERE vec_id < 4),
                 v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
                 cellp AS (SELECT v.vec_id, c.cid,
                                  list_sum(list_transform(range(1, len(v.ev) + 1),
                                      i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))) AS d
                           FROM v CROSS JOIN coarse c),
                 cells AS (SELECT vec_id, min(struct_pack(d := d, c := cid)).c AS cell
                           FROM cellp GROUP BY vec_id),
                 res AS (SELECT v.vec_id, cells.cell,
                                list_transform(range(1, len(v.ev) + 1), i -> v.ev[i] - co.cv[i]) AS rv
                         FROM v JOIN cells ON cells.vec_id = v.vec_id
                                JOIN coarse co ON co.cid = cells.cell),
                 cents AS (SELECT vec_id AS centroid_id, rv FROM res WHERE vec_id < 8),
                 pairs AS (SELECT r.vec_id, c.centroid_id,
                           {dcols}
                           FROM res r CROSS JOIN cents c),
                 codes AS (SELECT vec_id,
                           {acols}
                           FROM pairs GROUP BY vec_id),
                 qcell AS (SELECT cid, cv
                           FROM (SELECT cid, cv,
                                        list_sum(list_transform(range(1, len(cv) + 1),
                                            i -> (({qv_sql})[i] - cv[i]) * (({qv_sql})[i] - cv[i]))) AS d
                                 FROM coarse)
                           ORDER BY d, cid LIMIT {nprobe}),
                 cand AS (SELECT res.vec_id, codes.c0, codes.c1, codes.c2, codes.c3,
                                 list_transform(range(1, len(q.cv) + 1), i -> ({qv_sql})[i] - q.cv[i]) AS rqv
                          FROM res JOIN codes ON codes.vec_id = res.vec_id
                                   JOIN qcell q ON q.cid = res.cell),
                 dist AS (SELECT cand.vec_id,
                                 ({adc_terms}) AS adc
                          FROM cand
                  {cb_joins})
            SELECT vec_id, round(adc, 4) AS adc_distance
            FROM dist ORDER BY adc ASC, vec_id ASC LIMIT {k}
    """


def _oracle_sql_raw() -> dict[str, str]:
    emb16 = [_sql_embed_elem(i) for i in range(16)]
    emb_sum = " + ".join(emb16)
    qv = _hash_embed_py(QUERY_TEXT)
    qv_sql = "[" + ", ".join(repr(x) for x in qv) + "]::DOUBLE[]"
    emb_list_sql = "[" + ", ".join(emb16) + "]::DOUBLE[]"
    scores_sql, lang_case = _sql_lang_pred()
    sig_exprs = []
    for i in range(4):
        a, b = D.perm_coeffs(i)
        sig_exprs.append(
            f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {D.MINHASH_PRIME})) AS sig{i}"
        )
    simhash_sql = _sql_simhash_expr()

    stop_lists = {
        lang: ", ".join(repr(s) for s in sw) for lang, sw in TS.STOPWORD_PROFILES.items()
    }

    sql = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name
        """,
        "returned_items": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "events_hourly": """
            SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:00:00') AS hour,
                   event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "event_pivot": """
            SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
            FROM events
            GROUP BY 1
            ORDER BY day
        """,
        "event_funnel": """
            WITH firsts AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
                       min(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
                       min(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
                FROM events GROUP BY user_id
            ), staged AS (
                SELECT user_id,
                       t_view IS NOT NULL AS viewed,
                       (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view) AS clicked_after,
                       (t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view
                        AND t_purchase IS NOT NULL AND t_purchase > t_click) AS purchased_after
                FROM firsts
            )
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
                   CAST(sum(CASE WHEN clicked_after THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
                   CAST(sum(CASE WHEN purchased_after THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
            FROM staged
        """,
        "user_sessions": """
            WITH marked AS (
                SELECT user_id, event_id, ts,
                       lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS cur_us
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN prev_us IS NULL OR cur_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
                FROM marked
            ), sessions AS (
                SELECT user_id,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            ), per_sess AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM sessions GROUP BY user_id, session_id
            )
            SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
            FROM per_sess GROUP BY user_id
        """,
        "top_users_per_type": """
            WITH totals AS (
                SELECT event_type, user_id, round(sum(value), 2) AS total_value
                FROM events GROUP BY event_type, user_id
            )
            SELECT event_type, user_id, total_value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY total_value DESC, user_id ASC) AS rnk
            FROM totals
            QUALIFY rnk <= 5
        """,
        "vector_distances": """
            WITH a AS (SELECT vec_id, embedding::DOUBLE[] AS va FROM embeddings),
                 b AS (SELECT vec_id - 1 AS vec_id, embedding::DOUBLE[] AS vb FROM embeddings)
            SELECT a.vec_id,
                   round(list_sum(list_transform(range(1, len(va)+1), i -> (va[i]-vb[i])*(va[i]-vb[i]))), 5) AS l2sq,
                   round(CASE WHEN sqrt(list_sum(list_transform(va, x->x*x))) * sqrt(list_sum(list_transform(vb, x->x*x))) = 0
                              THEN 0.0
                              ELSE list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i]))
                                   / (sqrt(list_sum(list_transform(va, x->x*x))) * sqrt(list_sum(list_transform(vb, x->x*x))))
                         END, 6) AS cosine,
                   round(list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i])), 5) AS dot,
                   len(list_filter(range(1, len(va)+1),
                       i -> (CASE WHEN va[i] >= 0 THEN 1 ELSE 0 END) != (CASE WHEN vb[i] >= 0 THEN 1 ELSE 0 END))) AS sign_hamming
            FROM a JOIN b USING (vec_id)
        """,
        "knn_cos": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 d AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
                 scored AS (
                    SELECT q.query_id, d.vec_id,
                           round(1.0 - CASE WHEN sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))) = 0
                                 THEN 0.0
                                 ELSE list_sum(list_transform(range(1, len(dv)+1), i -> dv[i]*qv[i]))
                                      / (sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))))
                           END, 6) AS cos_distance
                    FROM q, d
                 )
            SELECT query_id, vec_id, cos_distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos_distance ASC, vec_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "hard_negatives": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
                       FROM embeddings WHERE vec_id < 5 AND label IS NOT NULL),
                 d AS (SELECT vec_id, embedding::DOUBLE[] AS dv, label
                       FROM embeddings WHERE vec_id >= 5 AND label IS NOT NULL),
                 scored AS (
                    SELECT q.query_id, d.vec_id, d.label AS neg_label,
                           round(1.0 - CASE WHEN sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))) = 0
                                 THEN 0.0
                                 ELSE list_sum(list_transform(range(1, len(dv)+1), i -> dv[i]*qv[i]))
                                      / (sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))))
                           END, 6) AS cos_distance
                    FROM q, d
                    WHERE d.label != q.ql
                 )
            SELECT query_id, vec_id, neg_label, cos_distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos_distance ASC, vec_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "knn_l2": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 d AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
                 scored AS (
                    SELECT q.query_id, d.vec_id,
                           round(list_sum(list_transform(range(1, len(dv)+1), i -> (dv[i]-qv[i])*(dv[i]-qv[i]))), 5) AS l2sq_distance
                    FROM q, d
                 )
            SELECT query_id, vec_id, l2sq_distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY l2sq_distance ASC, vec_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "knn_dot": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 d AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
                 scored AS (
                    SELECT q.query_id, d.vec_id,
                           round(-list_sum(list_transform(range(1, len(dv)+1), i -> dv[i]*qv[i])), 5) AS dot_distance
                    FROM q, d
                 )
            SELECT query_id, vec_id, dot_distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY dot_distance ASC, vec_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "knn_filtered": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 d AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5 AND label = 3),
                 scored AS (
                    SELECT q.query_id, d.vec_id,
                           round(1.0 - CASE WHEN sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))) = 0
                                 THEN 0.0
                                 ELSE list_sum(list_transform(range(1, len(dv)+1), i -> dv[i]*qv[i]))
                                      / (sqrt(list_sum(list_transform(dv, x->x*x))) * sqrt(list_sum(list_transform(qv, x->x*x))))
                           END, 6) AS cos_distance
                    FROM q, d
                 )
            SELECT query_id, vec_id, cos_distance,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos_distance ASC, vec_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "label_vector_stats": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))), 5) AS avg_norm,
                   round(avg(embedding[1]), 6) AS avg_e0
            FROM embeddings GROUP BY label
        """,
        "embed_documents": f"""
            SELECT doc_id,
                   CASE WHEN {_sql_ignore_filter()} THEN 16 END AS emb_dim,
                   CASE WHEN {_sql_ignore_filter()} THEN round({emb_sum}, 5) END AS emb_checksum,
                   CASE WHEN {_sql_ignore_filter()} THEN round({emb16[0]}, 6) END AS e0
            FROM documents
        """,
        "doc_search": f"""
            WITH corpus AS (
                SELECT doc_id, {emb_list_sql} AS emb
                FROM documents WHERE {_sql_ignore_filter()}
            ), scored AS (
                SELECT doc_id,
                       round(CASE WHEN sqrt(list_sum(list_transform(emb, x->x*x))) * sqrt(list_sum(list_transform({qv_sql}, x->x*x))) = 0
                             THEN 0.0
                             ELSE list_sum(list_transform(range(1, len(emb)+1), i -> emb[i] * ({qv_sql})[i]))
                                  / (sqrt(list_sum(list_transform(emb, x->x*x))) * sqrt(list_sum(list_transform({qv_sql}, x->x*x))))
                        END, 6) AS cosine
                FROM corpus
            )
            SELECT doc_id, cosine,
                   row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        """,
        "token_stats": f"""
            WITH t AS (SELECT source, {_sql_words()} AS w, text FROM documents)
            SELECT source,
                   CAST(sum(len(w)) AS BIGINT) AS total_tokens,
                   CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens,
                   round(avg(CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_distinct(w)) / CAST(len(w) AS DOUBLE) END), 5) AS avg_uniq_ratio,
                   round(avg(CASE WHEN length(text) = 0 THEN 0.0
                             ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / CAST(length(text) AS DOUBLE) END), 6) AS avg_punct_ratio
            FROM t GROUP BY source
        """,
        "language_id": f"""
            WITH t AS (SELECT lang, {_sql_words()} AS w FROM documents),
                 s AS (SELECT lang, {scores_sql} FROM t),
                 p AS (SELECT lang, {lang_case} AS lang_pred FROM s)
            SELECT lang, count(*) AS n,
                   CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
            FROM p GROUP BY lang
        """,
        "quality_by_lang": f"""
            WITH t AS (SELECT lang, text, {_sql_words()} AS w FROM documents),
                 m AS (
                    SELECT lang,
                           len(w) AS n_tokens,
                           CASE WHEN len(w) = 0 THEN 0.0
                                ELSE list_sum(list_transform(w, x -> length(x))) / CAST(len(w) AS DOUBLE) END AS mean_token_len,
                           CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_distinct(w)) / CAST(len(w) AS DOUBLE) END AS uniq,
                           CASE WHEN length(text) = 0 THEN 0.0
                                ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / CAST(length(text) AS DOUBLE) END AS pr
                    FROM t
                 ),
                 q AS (
                    SELECT lang, n_tokens, mean_token_len,
                           round(0.4 * uniq
                                 + 0.3 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                                 + 0.3 * (1.0 - least(pr * 5.0, 1.0)), 6) AS quality_score
                    FROM m
                 )
            SELECT lang, round(avg(quality_score), 6) AS avg_quality,
                   round(avg(round(mean_token_len, 6)), 5) AS avg_mean_token_len,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM q GROUP BY lang
        """,
        "dedup_exact": """
            WITH h AS (SELECT source, doc_id, md5(text) AS text_hash FROM documents),
                 c AS (SELECT source, doc_id, text_hash,
                              min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id
                       FROM h)
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT text_hash) AS n_distinct,
                   CAST(sum(CASE WHEN doc_id != canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes
            FROM c GROUP BY source
        """,
        "minhash_signatures": f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 100),
                 s AS (SELECT doc_id, {_sql_shingles3()} AS sh FROM t),
                 h AS (SELECT doc_id, list_transform(sh, x -> {_sql_hash32('x')}) AS hs FROM s)
            SELECT doc_id, {', '.join(sig_exprs)}
            FROM h
        """,
        "simhash": f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 200),
                 h AS (SELECT doc_id, list_transform(w, x -> {_sql_hash32('x')}) AS hs FROM t)
            SELECT doc_id, CAST({simhash_sql} AS BIGINT) AS simhash
            FROM h
        """,
        "hash_banded_pairs": f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 200),
                 h AS (SELECT doc_id, list_transform(w, x -> {_sql_hash32('x')}) AS hs FROM t),
                 sig AS (SELECT doc_id, CAST({simhash_sql} AS BIGINT) AS sim FROM h),
                 keyed AS (
                     SELECT doc_id, sim, band,
                            (sim >> (4 * band)) & 15 AS key
                     FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band)
                 ),
                 cand AS (
                     SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.sim AS sa, b.sim AS sb
                     FROM keyed a JOIN keyed b
                       ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
                 )
            SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(sa, sb)) <= 6
        """,
        "hash_banded_join": f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 300),
                 h AS (SELECT doc_id, list_transform(w, x -> {_sql_hash32('x')}) AS hs FROM t),
                 sig AS (SELECT doc_id, CAST({simhash_sql} AS BIGINT) AS sim FROM h),
                 keyed AS (
                     SELECT doc_id, sim, band,
                            (sim >> (4 * band)) & 15 AS key
                     FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band)
                 ),
                 cand AS (
                     SELECT DISTINCT b.doc_id AS batch_id, s.doc_id AS store_id,
                            b.sim AS ha, s.sim AS hb
                     FROM keyed b JOIN keyed s
                       ON b.band = s.band AND b.key = s.key
                      AND b.doc_id >= 140 AND b.doc_id < 300
                      AND s.doc_id < 150
                 )
            SELECT batch_id, store_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(ha, hb)) <= 6 AND batch_id != store_id
        """,
        "ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, lang, source, {_sql_words()} AS w FROM documents),
                 s0 AS (SELECT doc_id, lang, source, {_sql_shingles3()} AS sh0 FROM t),
                 s AS (SELECT doc_id, lang, source,
                              list_distinct(list_transform(sh0, x -> {_sql_hash32('x')})) AS sh FROM s0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
                         ELSE len(list_intersect(a.sh, b.sh))
                              / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) END, 5) AS jaccard
            FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            WHERE CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 0.0
                  ELSE len(list_intersect(a.sh, b.sh))
                       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) END >= 0.2
        """,
        "hash_split": f"""
            WITH b AS (SELECT lang,
                              {_sql_hash32("concat('split', ':', CAST(doc_id AS VARCHAR))")} % 10000 AS bucket
                       FROM documents),
                 s AS (SELECT lang, CASE WHEN bucket < 9000 THEN 'train'
                                         WHEN bucket < 9500 THEN 'eval'
                                         ELSE 'test' END AS split FROM b)
            SELECT split, lang, CAST(count(*) AS BIGINT) AS n
            FROM s GROUP BY split, lang
        """,
        "stratified_sample": f"""
            WITH h AS (SELECT doc_id, lang, source,
                              {_sql_hash32("concat('sample', ':', CAST(doc_id AS VARCHAR))")} AS hv
                       FROM documents),
                 r AS (SELECT doc_id, lang, source,
                              row_number() OVER (PARTITION BY lang, source
                                                 ORDER BY hv ASC, doc_id ASC) AS sample_rank
                       FROM h)
            SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
            FROM r WHERE sample_rank <= 2
        """,
        "ngram_containment": f"""
            WITH t AS (SELECT doc_id, lang, source, {_sql_words()} AS w FROM documents),
                 s0 AS (SELECT doc_id, lang, source, {_sql_shingles3()} AS sh0 FROM t),
                 s AS (SELECT doc_id, lang, source,
                              list_distinct(list_transform(sh0, x -> {_sql_hash32('x')})) AS sh FROM s0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CASE WHEN least(len(a.sh), len(b.sh)) = 0 THEN 0.0
                         ELSE len(list_intersect(a.sh, b.sh))
                              / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) END, 5) AS containment
            FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            WHERE CASE WHEN least(len(a.sh), len(b.sh)) = 0 THEN 0.0
                  ELSE len(list_intersect(a.sh, b.sh))
                       / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) END >= 0.5
        """,
        "tfidf_top_terms": f"""
            WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 50),
                 tok AS (SELECT doc_id, unnest(w) AS term FROM t),
                 tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
                 dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
                 n AS (SELECT count(*) AS n FROM t),
                 scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df_t,
                                   round(tf.tf * ln((SELECT n FROM n) / df_t), 6) AS score
                            FROM tf JOIN dfq USING (term)),
                 ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term ASC) AS rnk
                            FROM scored)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df_t AS BIGINT) AS df_t,
                   score, CAST(rnk AS BIGINT) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "fingerprints": f"""
            WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
                 g AS (SELECT doc_id,
                              CASE WHEN length(text) = 0 THEN CAST([] AS VARCHAR[])
                                   ELSE list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                                        i -> text[i:i+4])) END AS grams
                       FROM t),
                 h AS (SELECT doc_id, list_sort(list_transform(grams, x -> {_sql_hash32('x')})) AS hs FROM g)
            SELECT doc_id, md5(array_to_string(hs[1:8], ',')) AS fp_key
            FROM h
        """,
        "pq_assign": f"""
            WITH {_pq_codes_ctes()}
            SELECT vec_id, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
                   CAST(c2 AS BIGINT) AS c2, CAST(c3 AS BIGINT) AS c3
            FROM codes
        """,
        "events_asof_signup": """
            WITH signups AS (
                SELECT user_id, ts, round(value, 2) AS signup_value
                FROM events WHERE event_type = 'signup'
            )
            SELECT e.event_id, e.user_id,
                   epoch_us(CAST(b.ts AS TIMESTAMP)) AS signup_us,
                   b.signup_value
            FROM events e
            ASOF LEFT JOIN signups b
              ON e.user_id = b.user_id AND e.ts >= b.ts
        """,
        "error_burst": """
            WITH e AS (
                SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events
            ),
            err AS (
                SELECT event_id AS error_id, us AS lo, us + 300000000 AS hi
                FROM e WHERE event_type = 'error' AND event_id % 100 = 0
            )
            SELECT err.error_id, count(*) AS n_events
            FROM e JOIN err
              ON e.us >= err.lo AND e.us <= err.hi AND e.event_id != err.error_id
            GROUP BY err.error_id
        """,
        "sales_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "sampled_percentiles": f"""
            WITH n AS (SELECT count(*) AS n FROM events),
                 s AS (SELECT value AS v, event_id AS id FROM events
                       WHERE CAST({_sql_hash32("concat('qsample', ':', CAST(event_id AS VARCHAR))")} AS DOUBLE)
                             < least(1.0, 512.0 / (SELECT n FROM n)) * 4294967296.0),
                 r AS (SELECT v, id, row_number() OVER (ORDER BY v ASC, id ASC) AS rn FROM s),
                 m AS (SELECT count(*) AS m FROM s),
                 q AS (SELECT unnest([0.5, 0.9, 0.99]) AS prob)
            SELECT q.prob, round(r.v, 6) AS estimate,
                   (SELECT m FROM m) AS n_sample,
                   (SELECT n FROM n) AS n_rows
            FROM q JOIN r ON r.rn = greatest(1, CAST(ceil(q.prob * (SELECT m FROM m)) AS BIGINT))
            ORDER BY q.prob
        """,
        "ivf_search": f"""
            WITH cents AS (
                SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 4
            ),
            v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
            assign AS (
                SELECT v.vec_id, v.ev,
                  (SELECT c.centroid_id FROM cents c
                     ORDER BY list_sum(list_transform(range(1, len(v.ev) + 1),
                              i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))) ASC,
                              c.centroid_id ASC LIMIT 1) AS cell
                FROM v
            ),
            probed AS (
                SELECT centroid_id FROM cents
                ORDER BY list_sum(list_transform(range(1, len(cv) + 1),
                         i -> (cv[i] - ({_ivf_qv_sql()})[i]) * (cv[i] - ({_ivf_qv_sql()})[i]))) ASC,
                         centroid_id ASC
                LIMIT 2
            ),
            scored AS (
                SELECT vec_id, cell,
                       list_sum(list_transform(range(1, len(ev) + 1),
                         i -> (ev[i] - ({_ivf_qv_sql()})[i]) * (ev[i] - ({_ivf_qv_sql()})[i]))) AS dist
                FROM assign WHERE cell IN (SELECT centroid_id FROM probed)
            )
            SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(dist, 5) AS l2sq_distance
            FROM scored ORDER BY dist ASC, vec_id ASC LIMIT 5
        """,
        "embedding_decontaminate": """
            WITH cents AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 4
            ),
            q AS (SELECT vec_id AS bench_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 10),
            d AS (SELECT vec_id, embedding::DOUBLE[] AS ev
                  FROM embeddings WHERE vec_id >= 10),
            assign AS (
                SELECT d.vec_id, d.ev,
                  (SELECT c.cid FROM cents c
                     ORDER BY list_sum(list_transform(range(1, len(d.ev) + 1),
                              i -> (d.ev[i] - c.cv[i]) * (d.ev[i] - c.cv[i]))) ASC,
                              c.cid ASC LIMIT 1) AS cell
                FROM d
            ),
            probes AS (
                SELECT bench_id, qv, cid AS cell,
                       row_number() OVER (
                         PARTITION BY bench_id
                         ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                                  i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) ASC,
                                  cid ASC) AS pr
                FROM q, cents
                QUALIFY pr <= 2
            ),
            scored AS (
                SELECT a.vec_id, p.bench_id,
                       round(1.0 - CASE WHEN sqrt(list_sum(list_transform(a.ev, x->x*x))) * sqrt(list_sum(list_transform(p.qv, x->x*x))) = 0
                             THEN 0.0
                             ELSE list_sum(list_transform(range(1, len(a.ev)+1), i -> a.ev[i]*p.qv[i]))
                                  / (sqrt(list_sum(list_transform(a.ev, x->x*x))) * sqrt(list_sum(list_transform(p.qv, x->x*x))))
                       END, 6) AS cos_distance
                FROM probes p JOIN assign a ON a.cell = p.cell
            )
            SELECT vec_id, bench_id, cos_distance
            FROM scored WHERE cos_distance <= 0.85
        """,
        "ivf_knn_join": """
            WITH cents AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 4
            ),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 10),
            d AS (SELECT vec_id, embedding::DOUBLE[] AS ev
                  FROM embeddings WHERE vec_id >= 10),
            assign AS (
                SELECT d.vec_id, d.ev,
                  (SELECT c.cid FROM cents c
                     ORDER BY list_sum(list_transform(range(1, len(d.ev) + 1),
                              i -> (d.ev[i] - c.cv[i]) * (d.ev[i] - c.cv[i]))) ASC,
                              c.cid ASC LIMIT 1) AS cell
                FROM d
            ),
            probes AS (
                SELECT query_id, qv, cid AS cell,
                       row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY list_sum(list_transform(range(1, len(qv) + 1),
                                  i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) ASC,
                                  cid ASC) AS pr
                FROM q, cents
                QUALIFY pr <= 2
            ),
            scored AS (
                SELECT p.query_id, a.vec_id,
                       round(list_sum(list_transform(range(1, len(a.ev) + 1),
                             i -> (a.ev[i] - p.qv[i]) * (a.ev[i] - p.qv[i]))), 5) AS l2sq_distance
                FROM probes p JOIN assign a ON a.cell = p.cell
            )
            SELECT query_id, vec_id, l2sq_distance,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY l2sq_distance ASC, vec_id ASC) AS rnk
            FROM scored QUALIFY rnk <= 5
        """,
        "event_type_users": """
            SELECT event_type, count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY event_type
        """,
        "purchasers_no_errors": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "order_priority_counts": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY o_orderpriority
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment
        """,
    }
    # Promoted from rows-only to hash-checked (VERDICT r1 #3):
    # the partial-topk kNN strategy must reproduce the crossjoin plan's answer,
    # so it shares knn_cos's oracle verbatim.
    sql["knn_partial_strategy"] = sql["knn_cos"]
    # chunked kNN must also be exact: same oracle shape as knn_cos, with the
    # wider 30-query split that forces multiple chunk blocks.
    sql["knn_chunked"] = sql["knn_cos"].replace("vec_id < 5", "vec_id < 30").replace(
        "vec_id >= 5", "vec_id >= 30"
    )
    # chunked hard-negative mining shares the declarative oracle shape with
    # the wider 30-query split (labels travel per block; answer identical).
    sql["hard_negatives_chunked"] = sql["hard_negatives"].replace(
        "vec_id < 5", "vec_id < 30"
    ).replace("vec_id >= 5", "vec_id >= 30")
    sql["error_burst_binned"] = sql["error_burst"]
    sql["minhash_lsh_pairs"] = _minhash_lsh_pairs_sql()
    sql["simhash_pairs"] = _simhash_pairs_sql()
    # transitive clusters: same pair set, components resolved by a recursive
    # CTE (min reachable id) — the declarative fixpoint the Spark label
    # propagation must agree with
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE pairs AS ({_minhash_lsh_pairs_sql()}),
             edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, r) AS (
                 SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                 UNION
                 SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
             )
        SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY id
    """
    # star contraction must agree with the identical declarative fixpoint
    sql["dedup_clusters_star"] = sql["dedup_clusters"]
    sql["soft_dedup"] = f"""
        WITH RECURSIVE pairs AS ({_minhash_lsh_pairs_sql()}),
             edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, r) AS (
                 SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                 UNION
                 SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
             ),
             clusters AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
                          FROM reach GROUP BY id),
             sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                       FROM clusters GROUP BY cluster_id)
        SELECT d.doc_id,
               CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
               round(1.0 / coalesce(s.cluster_size, 1), 6) AS sample_weight
        FROM documents d
        LEFT JOIN clusters c USING (doc_id)
        LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
        ORDER BY d.doc_id
    """
    sql["leakage_safe_split"] = f"""
        WITH RECURSIVE pairs AS ({_minhash_lsh_pairs_sql()}),
             edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, r) AS (
                 SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                 UNION
                 SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
             ),
             clusters AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
                          FROM reach GROUP BY id),
             keyed AS (SELECT d.doc_id,
                              CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) AS split_key
                       FROM documents d LEFT JOIN clusters c USING (doc_id)),
             b AS (SELECT doc_id, split_key,
                          {_sql_hash32("concat('split', ':', split_key)")} % 10000 AS bucket
                   FROM keyed)
        SELECT doc_id, split_key,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'eval'
                    ELSE 'test' END AS split
        FROM b
    """
    # corpus_diff: construction + full-outer id join + content-hash map +
    # edited-only shingle containment, mirroring versioning.corpus_diff.
    _cd_sh = f"list_distinct(list_transform({_sql_shingles3('w')}, x -> {_sql_hash32('x')}))"
    sql["corpus_diff"] = f"""
        WITH oldc AS (SELECT doc_id, text FROM documents),
             newc AS (SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000
                                  ELSE doc_id END AS doc_id,
                             CASE WHEN doc_id % 11 <> 0 AND doc_id % 7 = 0
                                  THEN text || ' snapshot revision note'
                                  ELSE text END AS text
                      FROM documents WHERE doc_id % 13 <> 0),
             o AS (SELECT doc_id AS o_id, text AS o_text, md5(text) AS o_md5 FROM oldc),
             n AS (SELECT doc_id AS n_id, text AS n_text, md5(text) AS n_md5 FROM newc),
             cmap AS (SELECT o_md5 AS c_md5, min(o_id) AS c_old_id FROM o GROUP BY o_md5),
             j AS (SELECT n_id, n_text, n_md5, o_id, o_text, o_md5
                   FROM n FULL OUTER JOIN o ON n.n_id = o.o_id),
             j2 AS (SELECT j.*, cmap.c_old_id FROM j
                    LEFT JOIN cmap ON j.n_md5 = cmap.c_md5),
             st AS (SELECT *,
                      CASE WHEN n_id IS NOT NULL AND o_id IS NOT NULL AND n_md5 = o_md5
                                THEN 'unchanged'
                           WHEN n_id IS NOT NULL AND o_id IS NOT NULL THEN 'edited'
                           WHEN o_id IS NOT NULL THEN 'removed'
                           WHEN c_old_id IS NOT NULL THEN 'moved'
                           ELSE 'added' END AS status
                    FROM j2),
             sh AS (SELECT st.*,
                      CASE WHEN status = 'edited' THEN
                        (SELECT sh FROM (SELECT {_cd_sh} AS sh
                                         FROM (SELECT {_sql_words('n_text')} AS w)))
                      END AS nsh,
                      CASE WHEN status = 'edited' THEN
                        (SELECT sh FROM (SELECT {_cd_sh} AS sh
                                         FROM (SELECT {_sql_words('o_text')} AS w)))
                      END AS osh
                    FROM st)
        SELECT coalesce(n_id, o_id) AS doc_id, status,
               round(CASE WHEN status IN ('unchanged', 'moved') THEN 1.0
                          WHEN status = 'edited' THEN
                            CASE WHEN len(nsh) = 0 THEN 0.0
                                 ELSE len(list_intersect(nsh, osh))
                                      / CAST(len(nsh) AS DOUBLE) END
                     END, 5) AS containment,
               CASE WHEN status IN ('unchanged', 'edited') THEN o_id
                    WHEN status = 'moved' THEN c_old_id END AS matched_old_id
        FROM sh
    """
    _mo_w = " ".join(
        f"WHEN '{s}' THEN {w!r}" for s, w in MIXTURE_ORDER_W.items()
    )
    # Vocab drift: the snapshot mutation, phi-heavy candidate sets, exact
    # recounts and the Laplace log-ratio all replay with identical arithmetic
    sql["vocab_drift"] = f"""
        WITH oldc AS (SELECT text FROM documents),
             newc AS (SELECT CASE WHEN doc_id % 7 = 0
                                  THEN text || ' subscribe newsletter subscribe'
                                  ELSE text END AS text
                      FROM documents WHERE doc_id % 13 != 0),
             eo AS (SELECT unnest({_sql_words()}) AS token FROM oldc),
             en AS (SELECT unnest({_sql_words()}) AS token FROM newc),
             tot_o AS (SELECT count(*) AS N FROM eo),
             tot_n AS (SELECT count(*) AS N FROM en),
             co AS (SELECT token, count(*) AS n FROM eo GROUP BY token),
             cn AS (SELECT token, count(*) AS n FROM en GROUP BY token),
             cand AS (
                SELECT token FROM co WHERE n > 0.001 * (SELECT N FROM tot_o)
                UNION
                SELECT token FROM cn WHERE n > 0.001 * (SELECT N FROM tot_n)
             ),
             j AS (SELECT cand.token,
                          CAST(coalesce(co.n, 0) AS BIGINT) AS n_old,
                          CAST(coalesce(cn.n, 0) AS BIGINT) AS n_new
                   FROM cand LEFT JOIN co USING (token) LEFT JOIN cn USING (token))
        SELECT token, n_old, n_new,
               round(n_old / (SELECT CAST(N AS DOUBLE) FROM tot_o), 6) AS share_old,
               round(n_new / (SELECT CAST(N AS DOUBLE) FROM tot_n), 6) AS share_new,
               round(ln(((n_new + 1.0) / ((SELECT N FROM tot_n) + 1.0))
                        / ((n_old + 1.0) / ((SELECT N FROM tot_o) + 1.0))), 6) AS log_ratio
        FROM j ORDER BY token
    """
    # Fertility: exact integer counters (words via whitespace split, BPE-ish
    # pre-tokens via the RE2-safe extract_all form, non-ws chars), ratios of
    # bigints -> identical doubles
    sql["tokenizer_fertility"] = f"""
        WITH a AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_sql_words()})) AS BIGINT) AS total_words,
                   CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens,
                   CAST(sum(length(text) - length(regexp_replace(text, '\\S', '', 'g'))) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang
        )
        SELECT lang, n_docs, total_words, total_bpe_tokens, total_chars,
               round(CASE WHEN total_words = 0 THEN 0.0
                          ELSE total_bpe_tokens / CAST(total_words AS DOUBLE) END, 6) AS fertility,
               round(CASE WHEN total_bpe_tokens = 0 THEN 0.0
                          ELSE total_chars / CAST(total_bpe_tokens AS DOUBLE) END, 6) AS chars_per_token
        FROM a ORDER BY lang
    """
    # c-TF-IDF: exact integer counts everywhere; ln() rounded portably before
    # ranking on both sides so ulp differences can't flip ranks
    sql["domain_keywords"] = f"""
        WITH t AS (SELECT source, unnest({_sql_words()}) AS term FROM documents),
             tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY source, term),
             tot AS (SELECT source, sum(tf) AS grp_tokens FROM tf GROUP BY source),
             dfreq AS (SELECT term, count(*) AS df_g FROM tf GROUP BY term),
             ng AS (SELECT count(DISTINCT source) AS n_groups FROM tf),
             scored AS (
                SELECT tf.source, tf.term, tf.tf, tot.grp_tokens, dfreq.df_g,
                       round((tf.tf / CAST(tot.grp_tokens AS DOUBLE))
                             * ln(ng.n_groups / CAST(dfreq.df_g AS DOUBLE)), 6) AS score
                FROM tf JOIN tot USING (source) JOIN dfreq USING (term) CROSS JOIN ng
             )
        SELECT source, term, tf, CAST(grp_tokens AS BIGINT) AS grp_tokens, df_g, score,
               row_number() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rnk
        FROM scored
        QUALIFY rnk <= 3
        ORDER BY source, rnk
    """
    # Epoch-capped mixture plan: identical bigint->double arithmetic on both
    # sides (n*max_epochs/share), so min/equality agree bit-for-bit
    sql["mixture_plan"] = f"""
        WITH counts AS (
            SELECT source, CAST(sum(len({_sql_words()})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        tgt AS (SELECT * FROM (VALUES ('src0', CAST(0.4 AS DOUBLE)),
                                      ('src1', CAST(0.3 AS DOUBLE)),
                                      ('src2', CAST(0.2 AS DOUBLE)),
                                      ('src3', CAST(0.1 AS DOUBLE))) t(source, share)),
        j AS (SELECT c.source, c.n_tokens, coalesce(t.share, 0.0) AS target_share
              FROM counts c LEFT JOIN tgt t ON t.source = c.source),
        lim AS (SELECT min(n_tokens * 2.0 / target_share) AS T
                FROM j WHERE target_share > 0 AND n_tokens > 0)
        SELECT j.source, j.n_tokens, j.target_share,
               CAST(CASE WHEN j.target_share > 0
                         THEN floor(lim.T * j.target_share) ELSE 0 END AS BIGINT) AS planned_tokens,
               CASE WHEN j.target_share > 0 AND j.n_tokens > 0
                    THEN round(lim.T * j.target_share / j.n_tokens, 6)
                    ELSE 0.0 END AS epochs,
               CASE WHEN j.target_share > 0
                    THEN j.n_tokens * 2.0 / j.target_share = lim.T
                    ELSE FALSE END AS binding
        FROM j CROSS JOIN lim ORDER BY j.source
    """
    sql["mixture_order"] = f"""
        SELECT doc_id, source,
               round(({_sql_hash32("concat('order', ':', CAST(doc_id AS VARCHAR))")} / 4294967296.0)
                     / (CASE source {_mo_w} ELSE 0.0 END), 8) AS order_key
        FROM documents
        WHERE (CASE source {_mo_w} ELSE 0.0 END) > 0
    """
    # near_moves: diff residue (added/removed) + cross-corpus shingle jaccard
    sql["near_moves"] = f"""
        WITH oldc AS (SELECT doc_id, text FROM documents),
             newc AS (SELECT CASE WHEN doc_id % 9 = 0 THEN doc_id + 2000000
                                  ELSE doc_id END AS doc_id,
                             CASE WHEN doc_id % 9 = 0
                                  THEN text || ' lightly edited note'
                                  ELSE text END AS text
                      FROM documents),
             o_md5 AS (SELECT doc_id, md5(text) AS h, text FROM oldc),
             n_md5 AS (SELECT doc_id, md5(text) AS h, text FROM newc),
             added AS (SELECT n.doc_id, n.text FROM n_md5 n
                       LEFT JOIN o_md5 o ON o.doc_id = n.doc_id
                       LEFT JOIN (SELECT DISTINCT h FROM o_md5) c ON c.h = n.h
                       WHERE o.doc_id IS NULL AND c.h IS NULL),
             removedc AS (SELECT o.doc_id, o.text FROM o_md5 o
                          LEFT JOIN n_md5 n ON n.doc_id = o.doc_id
                          WHERE n.doc_id IS NULL),
             ash AS (SELECT doc_id,
                            list_distinct(list_transform({_sql_shingles3('w')}, x -> {_sql_hash32('x')})) AS sh
                     FROM (SELECT doc_id, {_sql_words('text')} AS w FROM removedc)),
             bsh AS (SELECT doc_id,
                            list_distinct(list_transform({_sql_shingles3('w')}, x -> {_sql_hash32('x')})) AS sh
                     FROM (SELECT doc_id, {_sql_words('text')} AS w FROM added)),
             pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                              len(list_intersect(a.sh, b.sh)) AS inter,
                              len(a.sh) AS na, len(b.sh) AS nb
                       FROM ash a, bsh b),
             scored AS (SELECT id_a, id_b,
                               CASE WHEN na + nb - inter = 0 THEN 0.0
                                    ELSE inter / CAST(na + nb - inter AS DOUBLE) END AS j
                        FROM pairs),
             hits AS (SELECT * FROM scored WHERE j >= 0.3)
        SELECT id_b AS doc_id,
               CAST(max(struct_pack(j := j, n := -id_a)).n * -1 AS BIGINT) AS matched_old_id,
               round(max(struct_pack(j := j, n := -id_a)).j, 6) AS jaccard
        FROM hits GROUP BY id_b
    """
    sql["embedding_drift"] = """
        WITH o AS (SELECT embedding::DOUBLE[] AS ev FROM embeddings),
             n AS (SELECT list_transform(embedding::DOUBLE[], x -> x * 1.1 + 0.05) AS ev
                   FROM embeddings WHERE vec_id % 3 <> 0),
             oe AS (SELECT unnest(range(1, len(ev) + 1)) AS i, unnest(ev) AS v FROM o),
             ne AS (SELECT unnest(range(1, len(ev) + 1)) AS i, unnest(ev) AS v FROM n),
             od AS (SELECT i - 1 AS dim, avg(v) AS mean_old, var_pop(v) AS var_old
                    FROM oe GROUP BY i),
             nd AS (SELECT i - 1 AS dim, avg(v) AS mean_new, var_pop(v) AS var_new
                    FROM ne GROUP BY i)
        SELECT od.dim, round(mean_old, 6) AS mean_old, round(mean_new, 6) AS mean_new,
               round(mean_new - mean_old, 6) AS mean_delta,
               round(var_old, 6) AS var_old, round(var_new, 6) AS var_new
        FROM od JOIN nd ON od.dim = nd.dim
        ORDER BY od.dim
    """
    sql["heavy_hitters"] = f"""
        WITH t AS (SELECT {_sql_words()} AS w FROM documents),
             e AS (SELECT unnest(w) AS token FROM t),
             tot AS (SELECT count(*) AS N FROM e),
             c AS (SELECT token, count(*) AS n FROM e GROUP BY token)
        SELECT token, n,
               round(n / (SELECT CAST(N AS DOUBLE) FROM tot), 6) AS share
        FROM c WHERE n > 0.001 * (SELECT N FROM tot)
        ORDER BY n DESC, token ASC
    """
    # Novelty replays the same distinct-3-gram builder the Spark side uses
    # (single whole-text shingle for docs under 3 words, empty-doc absence)
    sql["ngram_novelty"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
             s AS (SELECT doc_id, {_sql_shingles3('w')} AS sh FROM t),
             ref AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 5 < 2),
             tgt AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 5 >= 2),
             m AS (SELECT tgt.doc_id,
                          count(*) AS n_ngrams,
                          count(ref.g) AS n_matched
                   FROM tgt LEFT JOIN ref ON ref.g = tgt.g
                   GROUP BY tgt.doc_id)
        SELECT doc_id, n_ngrams, n_matched,
               round(1.0 - n_matched / CAST(n_ngrams AS DOUBLE), 6) AS novelty
        FROM m ORDER BY doc_id
    """
    # Count-Min sketch replay: identical md5 cell hashing, identical phi-heavy
    # key set; min-over-rows is exact-count arithmetic so hashes match
    sql["cms_frequencies"] = f"""
        WITH t AS (SELECT {_sql_words()} AS w FROM documents),
             e AS (SELECT unnest(w) AS token FROM t),
             tot AS (SELECT count(*) AS N FROM e),
             c AS (SELECT token, count(*) AS n FROM e GROUP BY token),
             hh AS (SELECT token, n FROM c WHERE n > 0.001 * (SELECT N FROM tot)),
             rng AS (SELECT unnest(range(4)) AS r),
             cells AS (
                SELECT rng.r AS r,
                       {_sql_hash32("concat('cms', rng.r, ':', e.token)")} % 2048 AS b,
                       count(*) AS cnt
                FROM e CROSS JOIN rng
                GROUP BY 1, 2
             ),
             kb AS (
                SELECT hh.token, hh.n, rng.r AS r,
                       {_sql_hash32("concat('cms', rng.r, ':', hh.token)")} % 2048 AS b
                FROM hh CROSS JOIN rng
             )
        SELECT kb.token,
               min(kb.n) AS exact_n,
               min(cells.cnt) AS cms_est,
               min(cells.cnt) - min(kb.n) AS overshoot
        FROM kb JOIN cells ON cells.r = kb.r AND cells.b = kb.b
        GROUP BY kb.token
        ORDER BY exact_n DESC, token ASC
    """
    sql["heavy_hitters_by_lang"] = f"""
        WITH t AS (SELECT lang, {_sql_words()} AS w FROM documents),
             e AS (SELECT lang, unnest(w) AS token FROM t),
             tot AS (SELECT lang, count(*) AS N FROM e GROUP BY lang),
             c AS (SELECT lang, token, count(*) AS n FROM e GROUP BY lang, token)
        SELECT c.lang, c.token, c.n,
               round(c.n / CAST(tot.N AS DOUBLE), 6) AS share
        FROM c JOIN tot ON tot.lang = c.lang
        WHERE c.n > 0.002 * tot.N
        ORDER BY c.lang ASC, c.n DESC, c.token ASC
    """
    sql["kmv_distinct"] = f"""
        WITH t AS (SELECT source, unnest({_sql_words()}) AS token FROM documents),
             d AS (SELECT DISTINCT source, {_sql_hash32("token")} AS hv FROM t),
             r AS (SELECT source, hv,
                          row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rk
                   FROM d),
             kth AS (SELECT source, max(rk) AS nk, max_by(hv, rk) AS hk
                     FROM r WHERE rk <= 64 GROUP BY source),
             n AS (SELECT source, count(*) AS n_tokens,
                          count(DISTINCT token) AS distinct_true
                   FROM t GROUP BY source)
        SELECT n.source, n.n_tokens, CAST(kth.nk AS BIGINT) AS n_kept_hashes,
               n.distinct_true,
               round(CASE WHEN kth.nk < 64 THEN CAST(kth.nk AS DOUBLE)
                          ELSE 63.0 * 4294967296.0 / CAST(kth.hk AS DOUBLE)
                     END, 4) AS distinct_est
        FROM n JOIN kth USING (source)
    """
    sql["oov_rate"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest({_sql_words('lower(text)')}) AS w FROM documents
        ),
        counts AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        vocab AS (
            SELECT w FROM counts
            ORDER BY c DESC, w ASC
            LIMIT 200
        ),
        per_doc AS (
            SELECT t.doc_id,
                   avg(CASE WHEN v.w IS NULL THEN 1.0 ELSE 0.0 END) AS r
            FROM tok t LEFT JOIN vocab v ON v.w = t.w
            GROUP BY t.doc_id
        )
        SELECT d.doc_id, d.lang, round(coalesce(per_doc.r, 0.0), 6) AS oov_rate
        FROM documents d LEFT JOIN per_doc USING (doc_id)
    """
    sql["sq8_search"] = """
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
             e AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS d FROM c),
             bd AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
             bl AS (SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs FROM bd),
             q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             codes AS (
                SELECT c.vec_id,
                       list_transform(range(1, len(c.v) + 1),
                           i -> CASE WHEN bl.maxs[i] = bl.mins[i] THEN 0
                                     ELSE least(255, greatest(0,
                                          CAST(floor((c.v[i] - bl.mins[i])
                                               * (255.0 / (bl.maxs[i] - bl.mins[i]))
                                               + 0.5) AS BIGINT))) END) AS code
                FROM c CROSS JOIN bl
             ),
             scored AS (
                SELECT q.query_id, codes.vec_id,
                       round(list_sum(list_transform(
                           list_transform(range(1, len(q.qv) + 1),
                               i -> ((codes.code[i]
                                      * (CASE WHEN bl.maxs[i] = bl.mins[i] THEN 0.0
                                              ELSE (bl.maxs[i] - bl.mins[i]) / 255.0 END))
                                     + bl.mins[i]) - q.qv[i]),
                           x -> x * x)), 5) AS sq8_distance
                FROM q CROSS JOIN codes CROSS JOIN bl
             )
        SELECT query_id, vec_id, sq8_distance,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sq8_distance ASC, vec_id ASC) AS rnk
        FROM scored
        QUALIFY rnk <= 10
    """
    # Weighted/join-formulated BM25 shared by the PRF oracle: per-(doc,term)
    # contributions joined from a (term, weight) table, per-doc reduction a
    # TERM-SORTED sequential fold (list ORDER BY term + list_sum — mirrors
    # array_sort + aggregate), never a float SUM whose partial order varies
    def _bm25w_ctes(prefix: str, wt_cte: str) -> str:
        return f"""
            {prefix}tf AS (
                SELECT tok.doc_id, tok.term, CAST(count(*) AS DOUBLE) AS tf,
                       any_value(tok.dl) AS dl, any_value(w.weight) AS wgt
                FROM tok JOIN {wt_cte} w USING (term)
                GROUP BY tok.doc_id, tok.term
            ),
            {prefix}df AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dfq
                FROM tok JOIN (SELECT term FROM {wt_cte}) USING (term)
                GROUP BY term
            ),
            {prefix}c AS (
                SELECT f.doc_id, f.term,
                       f.wgt * ln(1.0 + (CAST(s.n AS DOUBLE) - d.dfq + 0.5) / (d.dfq + 0.5))
                             * (f.tf * 2.2)
                             / (f.tf + 1.2 * (1.0 - 0.75 + 0.75 * f.dl
                                / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS c
                FROM {prefix}tf f JOIN {prefix}df d USING (term) CROSS JOIN s
            ),
            {prefix}sc AS (
                SELECT doc_id,
                       round(list_sum(list_transform(
                           list(struct_pack(term := term, c := c) ORDER BY term),
                           e -> e.c)), 6) AS score
                FROM {prefix}c GROUP BY doc_id
            )"""

    prf_orig = ", ".join(f"('{t}', 1.0)" for t in QUERY_TEXT.split())
    prf_excl = ", ".join(f"'{t}'" for t in QUERY_TEXT.split())
    sql["bm25_prf"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
             s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM t),
             tok AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS term FROM t),
             orig(term, weight) AS (VALUES {prf_orig}),
             {_bm25w_ctes('p1', 'orig')},
             feedback AS (
                SELECT doc_id FROM p1sc ORDER BY score DESC, doc_id ASC LIMIT 10
             ),
             expn AS (
                SELECT term, 0.5 AS weight
                FROM tok
                WHERE doc_id IN (SELECT doc_id FROM feedback)
                  AND term NOT IN ({prf_excl})
                GROUP BY term
                ORDER BY count(*) DESC, term ASC
                LIMIT 5
             ),
             wall AS (SELECT * FROM orig UNION ALL SELECT * FROM expn),
             {_bm25w_ctes('p2', 'wall')}
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
        FROM p2sc
        QUALIFY rnk <= 10
    """
    snip_terms = ", ".join(f"'{t}'" for t in QUERY_TEXT.split())
    bm25_top10 = RET.bm25_sql(QUERY_TEXT.split(), round_dp=6)
    sql["search_snippets"] = f"""
        WITH bm AS (SELECT * FROM ({bm25_top10})),
             top AS (
                SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
                FROM bm QUALIFY rnk <= 10
             ),
             t AS (
                SELECT d.doc_id, top.rnk, {_sql_words('d.text')} AS w
                FROM documents d JOIN top USING (doc_id)
             ),
             st AS (
                SELECT doc_id, rnk, w,
                       unnest(range(1, greatest(len(w) - 11, 1) + 1)) AS strt
                FROM t WHERE len(w) > 0
             ),
             h AS (
                SELECT doc_id, rnk, w, strt,
                       CAST(len(list_filter(w[strt:strt+11],
                            x -> x IN ({snip_terms}))) AS BIGINT) AS hits
                FROM st
             ),
             best AS (
                SELECT * FROM h
                QUALIFY row_number() OVER (PARTITION BY doc_id
                                           ORDER BY hits DESC, strt ASC) = 1
             )
        SELECT doc_id, rnk, hits AS n_hits,
               array_to_string(w[strt:strt+11], ' ') AS snippet
        FROM best
    """
    # MRL truncated-prefix search: both stages replay with the knn_l2 fold
    # arithmetic; dimension-agnostic (d_prefix = max(1, dim/4) in both engines)
    sql["mrl_search"] = """
        WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
             q AS (SELECT embedding::DOUBLE[] AS qv,
                          greatest(1, CAST(floor(len(embedding) / 4) AS BIGINT)) AS p
                   FROM embeddings WHERE vec_id = 0),
             pre AS (
                SELECT c.vec_id, c.dv,
                       round(list_sum(list_transform(range(1, q.p + 1),
                            i -> (c.dv[i] - q.qv[i]) * (c.dv[i] - q.qv[i]))), 5) AS prefix_distance
                FROM corpus c CROSS JOIN q
             ),
             cand AS (
                SELECT * FROM pre
                QUALIFY row_number() OVER (ORDER BY prefix_distance ASC, vec_id ASC) <= 40
             ),
             rr AS (
                SELECT c.vec_id, c.prefix_distance,
                       round(list_sum(list_transform(range(1, len(c.dv) + 1),
                            i -> (c.dv[i] - q.qv[i]) * (c.dv[i] - q.qv[i]))), 5) AS l2sq_distance
                FROM cand c CROSS JOIN q
             )
        SELECT vec_id, prefix_distance, l2sq_distance,
               row_number() OVER (ORDER BY l2sq_distance ASC, vec_id ASC) AS rnk
        FROM rr
        QUALIFY rnk <= 10
    """
    # Zipf fit: exact integer counts, lexicographic rank tie-break, and every
    # float sum a rank-ordered sequential fold (list ORDER BY + list_sum vs
    # array_sort + F.aggregate) — coefficients agree before rounding
    sql["zipf_slope"] = f"""
        WITH t AS (SELECT {_sql_words()} AS w FROM documents),
             tok AS (SELECT unnest(w) AS tkn FROM t),
             cnt AS (SELECT tkn, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tkn),
             top AS (SELECT tkn, c, row_number() OVER (ORDER BY c DESC, tkn ASC) AS r
                     FROM cnt QUALIFY r <= 100),
             arr AS (SELECT list(struct_pack(x := ln(CAST(r AS DOUBLE)),
                                             y := ln(CAST(c AS DOUBLE))) ORDER BY r) AS a,
                            CAST(count(*) AS BIGINT) AS n_terms FROM top),
             s AS (SELECT n_terms,
                          list_sum(list_transform(a, e -> e.x)) AS sx,
                          list_sum(list_transform(a, e -> e.y)) AS sy,
                          list_sum(list_transform(a, e -> e.x * e.y)) AS sxy,
                          list_sum(list_transform(a, e -> e.x * e.x)) AS sxx
                   FROM arr)
        SELECT n_terms,
               round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS slope,
               round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
                     / CAST(n_terms AS DOUBLE), 6) AS intercept
        FROM s
    """
    # Bloom-prefiltered semi join is EXACT (confirm join removes the FPs), so
    # the oracle is the plain EXISTS it must equal
    sql["bloom_semi_join"] = """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_orderkey = l.l_orderkey
              AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
        )
        GROUP BY l_returnflag
    """
    sql["bloom_anti_join"] = """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_orderkey = l.l_orderkey
              AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
        )
        GROUP BY l_returnflag
    """
    # BQ two-stage search: midrange thresholds -> unpacked bits -> Hamming as
    # Σ bit differences (== popcount of the packed xor, pinned by pytest) ->
    # candidate prune -> exact l2sq rerank. Dimension-agnostic.
    sql["bq_search"] = """
        WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
             q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
             e AS (SELECT unnest(dv) AS x, generate_subscripts(dv, 1) AS d FROM corpus),
             md AS (SELECT d, (min(x) + max(x)) / 2.0e0 AS m FROM e GROUP BY d),
             ml AS (SELECT list(m ORDER BY d) AS ms FROM md),
             cb AS (
                SELECT c.vec_id, c.dv,
                       list_transform(range(1, len(c.dv) + 1),
                           j -> CASE WHEN c.dv[j] > ml.ms[j] THEN 1 ELSE 0 END) AS bits
                FROM corpus c CROSS JOIN ml
             ),
             qb AS (
                SELECT q.qv,
                       list_transform(range(1, len(q.qv) + 1),
                           j -> CASE WHEN q.qv[j] > ml.ms[j] THEN 1 ELSE 0 END) AS bits
                FROM q CROSS JOIN ml
             ),
             ham AS (
                SELECT c.vec_id, c.dv,
                       CAST(len(list_filter(range(1, len(c.bits) + 1),
                                j -> c.bits[j] != qb.bits[j])) AS BIGINT) AS hamming
                FROM cb c CROSS JOIN qb
             ),
             cand AS (
                SELECT * FROM ham
                QUALIFY row_number() OVER (ORDER BY hamming ASC, vec_id ASC) <= 40
             ),
             rr AS (
                SELECT c.vec_id, c.hamming,
                       round(list_sum(list_transform(range(1, len(c.dv) + 1),
                             i -> (c.dv[i] - qb.qv[i]) * (c.dv[i] - qb.qv[i]))), 5) AS l2sq_distance
                FROM cand c CROSS JOIN qb
             )
        SELECT vec_id, hamming, l2sq_distance,
               row_number() OVER (ORDER BY l2sq_distance ASC, vec_id ASC) AS rnk
        FROM rr
        QUALIFY rnk <= 10
    """
    sql["split_contamination"] = f"""
        WITH pairs AS (
            SELECT * FROM ({_minhash_lsh_pairs_sql()})
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN {_sql_hash32("concat('split', ':', CAST(doc_id AS VARCHAR))")} % 10000 < 9000 THEN 'train'
                        WHEN {_sql_hash32("concat('split', ':', CAST(doc_id AS VARCHAR))")} % 10000 < 9500 THEN 'eval'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT p.id_a, sa.split AS split_a, p.id_b, sb.split AS split_b,
               round(p.jaccard, 5) AS jaccard
        FROM pairs p
        JOIN sp sa ON sa.doc_id = p.id_a
        JOIN sp sb ON sb.doc_id = p.id_b
        WHERE sa.split <> sb.split
        ORDER BY p.id_a, p.id_b
    """
    # --- retrieval: BM25 / hybrid RRF / maxsim / MMR -----------------------
    def _sql_cos(e: str, q: str) -> str:
        """Mirror of V.cos_sim (zero-norm guard, same fold order) — the
        doc_search oracle's cosine, factored for reuse."""
        na = f"sqrt(list_sum(list_transform({e}, x->x*x)))"
        nb = f"sqrt(list_sum(list_transform({q}, x->x*x)))"
        dot = f"list_sum(list_transform(range(1, len({e})+1), i -> ({e})[i] * ({q})[i]))"
        return f"CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END"

    bm25_terms = QUERY_TEXT.split()
    bm25_body = RET.bm25_sql(bm25_terms, round_dp=6)
    sql["bm25_search"] = f"""
        WITH bm AS (SELECT * FROM ({bm25_body}))
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
        FROM bm
        QUALIFY rnk <= 10
    """
    sql["hybrid_rrf"] = f"""
        WITH bm AS (SELECT * FROM ({bm25_body})),
             bmtop AS (
                SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
                FROM bm QUALIFY rnk <= 30
             ),
             corpus AS (
                SELECT doc_id, {emb_list_sql} AS emb
                FROM documents WHERE {_sql_ignore_filter()}
             ),
             cs AS (SELECT doc_id, round({_sql_cos('emb', qv_sql)}, 6) AS cosine FROM corpus),
             vtop AS (
                SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rnk
                FROM cs QUALIFY rnk <= 30
             ),
             fused AS (
                SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
                       round(coalesce(1.0 / (60.0 + CAST(b.rnk AS DOUBLE)), 0.0)
                             + coalesce(1.0 / (60.0 + CAST(v.rnk AS DOUBLE)), 0.0), 6) AS rrf
                FROM bmtop b FULL OUTER JOIN vtop v ON b.doc_id = v.doc_id
             )
        SELECT doc_id, rrf,
               row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rnk
        FROM fused
        QUALIFY rnk <= 10
    """
    qb_vec = _hash_embed_py(MAXSIM_QUERY_B)
    qb_sql = "[" + ", ".join(repr(x) for x in qb_vec) + "]::DOUBLE[]"
    chunk_emb16 = [_sql_embed_elem(i, col="chunk_text") for i in range(16)]
    chunk_emb_sql = "[" + ", ".join(chunk_emb16) + "]::DOUBLE[]"
    sql["maxsim_search"] = f"""
        WITH t AS (
            SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 200
        ),
        s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        st AS (
            SELECT doc_id, w, n,
                   unnest([x FOR x IN range(1, greatest(n, 1) + 1, 12)
                           IF x <= n AND (x = 1 OR x - 12 + 16 - 1 < n)]) AS start
            FROM s
        ),
        ch AS (SELECT doc_id, array_to_string(w[start:start + 15], ' ') AS chunk_text FROM st),
        ce AS (SELECT doc_id, {chunk_emb_sql} AS emb FROM ch),
        sc AS (
            SELECT doc_id,
                   round({_sql_cos('emb', qv_sql)}, 6) AS c0,
                   round({_sql_cos('emb', qb_sql)}, 6) AS c1
            FROM ce
        ),
        pd AS (SELECT doc_id, max(c0) AS m_0, max(c1) AS m_1 FROM sc GROUP BY doc_id),
        fin AS (SELECT doc_id, m_0, m_1, 0.0 + m_0 + m_1 AS score FROM pd)
        SELECT doc_id, m_0, m_1, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
        FROM fin
        QUALIFY rnk <= 10
    """
    # MMR: 5 unrolled greedy steps; float literals in e0-notation so DuckDB
    # computes (1.0 − 0.7) in IEEE doubles (bare literals are DECIMAL and
    # would yield exact 0.3 instead of Spark's 0.30000000000000004)
    mmr_steps = []
    prev_sel: list[str] = []
    for step in range(1, 6):
        if not prev_sel:
            expr = "0.7e0 * c.simq - (1.0e0 - 0.7e0) * 0.0e0"
            where = ""
        else:
            sel_union = " UNION ALL ".join(f"SELECT doc_id FROM p{j}" for j in prev_sel)
            expr = (
                "0.7e0 * c.simq - (1.0e0 - 0.7e0) * "
                f"(SELECT max(p.s) FROM pair p WHERE p.ia = c.doc_id "
                f"AND p.ib IN ({sel_union}))"
            )
            where = f"WHERE c.doc_id NOT IN ({sel_union})"
        mmr_steps.append(
            f"p{step} AS (SELECT c.doc_id, {expr} AS mmr FROM cand c {where} "
            f"ORDER BY mmr DESC, c.doc_id ASC LIMIT 1)"
        )
        prev_sel.append(str(step))
    mmr_out = " UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS rnk, doc_id, round(mmr, 6) AS mmr FROM p{j}"
        for j in range(1, 6)
    )
    sql["mmr_rerank"] = f"""
        WITH corpus AS (
            SELECT doc_id, {emb_list_sql} AS emb
            FROM documents WHERE {_sql_ignore_filter()}
        ),
        sc AS (SELECT doc_id, emb, round({_sql_cos('emb', qv_sql)}, 6) AS simq FROM corpus),
        cand AS (
            SELECT * FROM sc
            QUALIFY row_number() OVER (ORDER BY simq DESC, doc_id ASC) <= 20
        ),
        pair AS (
            SELECT a.doc_id AS ia, b.doc_id AS ib, round({_sql_cos('a.emb', 'b.emb')}, 6) AS s
            FROM cand a JOIN cand b ON a.doc_id != b.doc_id
        ),
        {', '.join(mmr_steps)}
        {mmr_out}
    """
    sql["perplexity_buckets"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest({_sql_words('lower(text)')}) AS w FROM documents
        ),
        vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab),
        lp AS (
            SELECT t.doc_id, ln((vocab.c + 1.0) / (tot.n + 1.0 * (tot.v + 1.0))) AS lp
            FROM tok t JOIN vocab USING (w) CROSS JOIN tot
        ),
        per_doc AS (SELECT doc_id, avg(lp) AS m FROM lp GROUP BY doc_id),
        scored AS (
            SELECT d.doc_id, d.lang, round(coalesce(per_doc.m, 0.0), 6) AS s
            FROM documents d LEFT JOIN per_doc USING (doc_id)
        ),
        nn AS (SELECT count(*) AS n FROM documents),
        samp AS (
            SELECT lang, s, doc_id FROM scored
            WHERE CAST({_sql_hash32("concat('ppl', ':', CAST(doc_id AS VARCHAR))")} AS DOUBLE)
                  < least(1.0, 512.0 / (SELECT n FROM nn)) * 4294967296.0
        ),
        r AS (SELECT lang, s, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY s ASC, doc_id ASC) AS rn
              FROM samp),
        mm AS (SELECT lang, count(*) AS m FROM samp GROUP BY lang),
        q AS (SELECT unnest([1.0/3, 2.0/3]) AS prob),
        cut AS (
            SELECT r.lang, q.prob, r.s AS c
            FROM r JOIN mm USING (lang) JOIN q
              ON r.rn = greatest(1, CAST(ceil(q.prob * mm.m) AS BIGINT))
        ),
        assigned AS (
            SELECT sc.doc_id, sc.lang, sc.s,
                   (SELECT count(*) FROM cut WHERE cut.lang = sc.lang AND sc.s > cut.c) AS idx,
                   (SELECT count(*) FROM cut WHERE cut.lang = sc.lang) AS ncuts
            FROM scored sc
        )
        SELECT doc_id, lang, round(s, 5) AS lm_logprob,
               CASE WHEN ncuts = 2 THEN
                    (CASE idx WHEN 0 THEN 'tail' WHEN 1 THEN 'middle' ELSE 'head' END)
               END AS ppl_bucket
        FROM assigned
    """
    sql["kmv_distinct_ids"] = f"""
        WITH d AS (SELECT DISTINCT {_sql_hash32("CAST(doc_id AS VARCHAR)")} AS hv
                   FROM documents),
             r AS (SELECT hv, row_number() OVER (ORDER BY hv ASC) AS rk FROM d),
             kth AS (SELECT max(rk) AS nk, max_by(hv, rk) AS hk
                     FROM r WHERE rk <= 128),
             n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT n.n_docs, CAST(kth.nk AS BIGINT) AS n_kept_hashes,
               round(CASE WHEN kth.nk < 128 THEN CAST(kth.nk AS DOUBLE)
                          ELSE 127.0 * 4294967296.0 / CAST(kth.hk AS DOUBLE)
                     END, 4) AS distinct_est
        FROM n CROSS JOIN kth
    """
    sql["top_duplicate_spans"] = f"""
        WITH w0 AS (
            SELECT doc_id, concat('{DS_PROLOGUE}', ' ', text) AS t2
            FROM documents WHERE doc_id < 100
        ),
        t AS (SELECT doc_id, {_sql_words("t2")} AS w FROM w0),
        s AS (SELECT doc_id, w, len(w) AS n FROM t),
        wins AS (
            SELECT doc_id, w, unnest(range(1, greatest(n - 8 + 2, 1))) AS p
            FROM s WHERE n >= 8
        ),
        wh AS (
            SELECT doc_id, p,
                   CAST(concat('0x', substr(md5(array_to_string(w[p:p+7], ' ')), 1, 15)) AS BIGINT) AS h
            FROM wins
        ),
        rk AS (
            SELECT doc_id, p, h,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id ASC, p ASC) AS rn
            FROM wh
        ),
        firsts AS (SELECT h AS whash, doc_id AS first_doc, p AS first_pos
                   FROM rk WHERE rn = 1),
        agg AS (
            SELECT h AS whash, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM wh GROUP BY h
            HAVING count(*) >= 2
        ),
        top AS (
            SELECT agg.whash, agg.n_occurrences, agg.n_docs,
                   f.first_doc, f.first_pos
            FROM agg JOIN firsts f ON f.whash = agg.whash
            ORDER BY agg.n_occurrences DESC, agg.whash ASC LIMIT 10
        )
        SELECT top.whash, top.n_occurrences, top.n_docs,
               CAST(top.first_doc AS BIGINT) AS first_doc,
               CAST(top.first_pos AS BIGINT) AS first_pos,
               array_to_string(s.w[top.first_pos:top.first_pos + 7], ' ') AS span_text
        FROM top JOIN s ON s.doc_id = top.first_doc
    """
    sql["decontaminate_spans"] = f"""
        WITH tr0 AS (
            SELECT doc_id, concat('{DS_PROLOGUE}', ' ', text) AS t2
            FROM documents WHERE doc_id >= 10 AND doc_id < 100
        ),
        be0 AS (
            SELECT doc_id, concat('{DS_PROLOGUE}', ' ', text) AS t2
            FROM documents WHERE doc_id < 10
        ),
        tt AS (SELECT doc_id, {_sql_words("t2")} AS w FROM tr0),
        ts AS (SELECT doc_id, w, len(w) AS n FROM tt),
        twins AS (
            SELECT doc_id, w, unnest(range(1, greatest(n - 8 + 2, 1))) AS p
            FROM ts WHERE n >= 8
        ),
        th AS (
            SELECT doc_id, p,
                   CAST(concat('0x', substr(md5(array_to_string(w[p:p+7], ' ')), 1, 15)) AS BIGINT) AS h
            FROM twins
        ),
        bt AS (SELECT {_sql_words("t2")} AS w FROM be0),
        bs AS (SELECT w, len(w) AS n FROM bt),
        bwins AS (
            SELECT w, unnest(range(1, greatest(n - 8 + 2, 1))) AS p
            FROM bs WHERE n >= 8
        ),
        bh AS (
            SELECT DISTINCT CAST(concat('0x', substr(md5(array_to_string(w[p:p+7], ' ')), 1, 15)) AS BIGINT) AS h
            FROM bwins
        ),
        fl AS (SELECT th.doc_id, th.p FROM th SEMI JOIN bh ON th.h = bh.h),
        tok AS (
            SELECT doc_id, n, unnest(range(1, n + 1)) AS tp, unnest(w) AS tv
            FROM ts
        ),
        rem AS (
            SELECT DISTINCT t.doc_id, t.tp
            FROM tok t JOIN fl ON t.doc_id = fl.doc_id
                              AND t.tp >= fl.p AND t.tp < fl.p + 8
        ),
        kept AS (
            SELECT tok.doc_id, tok.tp, tok.tv
            FROM tok ANTI JOIN rem
              ON tok.doc_id = rem.doc_id AND tok.tp = rem.tp
        ),
        built AS (
            SELECT k.doc_id,
                   array_to_string(list(k.tv ORDER BY k.tp), ' ') AS text_dedup,
                   count(*) AS n_kept
            FROM kept k GROUP BY k.doc_id
        )
        SELECT s.doc_id,
               coalesce(b.text_dedup, '') AS text_dedup,
               CAST(s.n - coalesce(b.n_kept, 0) AS INT) AS n_tokens_removed
        FROM ts s LEFT JOIN built b ON b.doc_id = s.doc_id
    """
    sql["pq_adc_topk"] = _pq_adc_topk_sql(_ivf_qv_sql())
    sql["embedding_neardup"] = _embedding_neardup_sql()
    # semantic_dedup: replay cell assignment (argmin-l2sq over the vec_id<4
    # codebook, min-struct tie-break — same CTE shape as _ivf_pq_search_sql),
    # the within-cell pair join, the cosine, and the min-id winner pick.
    _sd_norms = ("sqrt(list_sum(list_transform(va, x->x*x))) * "
                 "sqrt(list_sum(list_transform(vb, x->x*x)))")
    _sd_cs = (f"CASE WHEN {_sd_norms} = 0 THEN 0.0 "
              f"ELSE list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i]))"
              f" / ({_sd_norms}) END")
    sql["semantic_dedup"] = f"""
        WITH coarse AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                        FROM embeddings WHERE vec_id < 32),
             v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
             cellp AS (SELECT v.vec_id, c.cid,
                              list_sum(list_transform(range(1, len(v.ev) + 1),
                                  i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))) AS d
                       FROM v CROSS JOIN coarse c),
             cells AS (SELECT vec_id, min(struct_pack(d := d, c := cid)).c AS cell
                       FROM cellp GROUP BY vec_id),
             m AS (SELECT v.vec_id, cells.cell, v.ev
                   FROM v JOIN cells ON cells.vec_id = v.vec_id),
             pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS dup_id, a.cell,
                              a.ev AS va, b.ev AS vb
                       FROM m a JOIN m b
                         ON a.cell = b.cell AND a.vec_id < b.vec_id),
             scored AS (SELECT id_a, dup_id, cell, {_sd_cs} AS cs FROM pairs),
             hits AS (SELECT * FROM scored WHERE cs >= 0.3)
        SELECT dup_id, CAST(cell AS BIGINT) AS cell,
               min(struct_pack(a := id_a, c := cs)).a AS dup_of,
               round(min(struct_pack(a := id_a, c := cs)).c, 6) AS cosine
        FROM hits GROUP BY dup_id, cell
    """
    # duplication_share: shingle doc-frequency + per-doc repeated fraction
    sql["duplication_share"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
             s AS (SELECT doc_id,
                          list_distinct(list_transform({_sql_shingles3('w')}, x -> {_sql_hash32('x')})) AS sh
                   FROM t),
             posts AS (SELECT doc_id, unnest(sh) AS h FROM s),
             dup_h AS (SELECT h FROM posts GROUP BY h HAVING count(*) >= 2),
             per_doc AS (SELECT p.doc_id, count(*) AS n_dup
                         FROM posts p JOIN dup_h d ON d.h = p.h
                         GROUP BY p.doc_id)
        SELECT s.doc_id,
               CAST(len(s.sh) AS BIGINT) AS n_shingles,
               CAST(coalesce(per_doc.n_dup, 0) AS BIGINT) AS n_dup_shingles,
               round(CASE WHEN len(s.sh) = 0 THEN 0.0
                          ELSE coalesce(per_doc.n_dup, 0) / CAST(len(s.sh) AS DOUBLE) END, 6)
                   AS dup_share
        FROM s LEFT JOIN per_doc ON per_doc.doc_id = s.doc_id
    """
    # semantic_recall: keyed-sample membership + cell replay + brute-force
    # pair scan + the captured/true ratio, one output row
    sql["semantic_recall"] = f"""
        WITH nn AS (SELECT count(*) AS n FROM embeddings),
             s AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
                   WHERE CAST({_sql_hash32("concat('sdrecall', ':', CAST(vec_id AS VARCHAR))")} AS DOUBLE)
                         < least(1.0, 256.0 / (SELECT n FROM nn)) * 4294967296.0),
             coarse AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                        FROM embeddings WHERE vec_id < 32),
             cellp AS (SELECT s.vec_id, c.cid,
                              list_sum(list_transform(range(1, len(s.ev) + 1),
                                  i -> (s.ev[i] - c.cv[i]) * (s.ev[i] - c.cv[i]))) AS d
                       FROM s CROSS JOIN coarse c),
             cells AS (SELECT vec_id, min(struct_pack(d := d, c := cid)).c AS cell
                       FROM cellp GROUP BY vec_id),
             m AS (SELECT s.vec_id, cells.cell, s.ev
                   FROM s JOIN cells ON cells.vec_id = s.vec_id),
             pairs AS (SELECT a.cell = b.cell AS same_cell,
                              a.ev AS va, b.ev AS vb
                       FROM m a JOIN m b ON a.vec_id < b.vec_id),
             scored AS (SELECT same_cell, {_sd_cs} AS cs FROM pairs),
             hits AS (SELECT * FROM scored WHERE cs >= 0.3)
        SELECT (SELECT count(*) FROM s) AS n_sample,
               count(*) AS n_true_pairs,
               CAST(coalesce(sum(CASE WHEN same_cell THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_captured,
               round(CASE WHEN count(*) = 0 THEN 1.0
                          ELSE coalesce(sum(CASE WHEN same_cell THEN 1 ELSE 0 END), 0)
                               / CAST(count(*) AS DOUBLE) END, 6) AS recall
        FROM hits
    """
    # semantic_incremental: same cell replay, batch-only flagging, winner =
    # min (rank, id) — corpus (rank 0) outranks batch even with larger ids
    sql["semantic_incremental"] = f"""
        WITH coarse AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                        FROM embeddings WHERE vec_id < 32),
             v AS (SELECT vec_id, embedding::DOUBLE[] AS ev,
                          CASE WHEN vec_id >= 100 THEN 0 ELSE 1 END AS rnk
                   FROM embeddings),
             cellp AS (SELECT v.vec_id, c.cid,
                              list_sum(list_transform(range(1, len(v.ev) + 1),
                                  i -> (v.ev[i] - c.cv[i]) * (v.ev[i] - c.cv[i]))) AS d
                       FROM v CROSS JOIN coarse c),
             cells AS (SELECT vec_id, min(struct_pack(d := d, c := cid)).c AS cell
                       FROM cellp GROUP BY vec_id),
             m AS (SELECT v.vec_id, v.rnk, cells.cell, v.ev
                   FROM v JOIN cells ON cells.vec_id = v.vec_id),
             pairs AS (SELECT a.rnk AS rank_a, a.vec_id AS id_a,
                              b.vec_id AS dup_id, a.cell,
                              a.ev AS va, b.ev AS vb
                       FROM m a JOIN m b
                         ON a.cell = b.cell AND b.rnk = 1
                        AND (a.rnk = 0 OR a.vec_id < b.vec_id)),
             scored AS (SELECT rank_a, id_a, dup_id, cell, {_sd_cs} AS cs FROM pairs),
             hits AS (SELECT * FROM scored WHERE cs >= 0.3)
        SELECT dup_id, CAST(cell AS BIGINT) AS cell,
               min(struct_pack(r := rank_a, a := id_a, c := cs)).a AS dup_of,
               round(min(struct_pack(r := rank_a, a := id_a, c := cs)).c, 6) AS cosine,
               CASE WHEN min(struct_pack(r := rank_a, a := id_a, c := cs)).r = 0
                    THEN 'corpus' ELSE 'batch' END AS vs
        FROM hits GROUP BY dup_id, cell
    """
    sql["ivf_pq_search"] = _ivf_pq_search_sql(_ivf_qv_sql())
    # normalize=True default: lowercase + collapse non-alphanumeric runs to a
    # single space BEFORE shingling (mirrors functions/text.py
    # normalize_for_matching — the regex is in the Java-regex ∩ RE2 subset).
    _norm_text = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
    sql["decontaminate"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words(_norm_text)} AS w FROM documents),
             s0 AS (SELECT doc_id, {_sql_shingles3()} AS sh0 FROM t),
             s AS (SELECT doc_id,
                          list_distinct(list_transform(sh0, x -> {_sql_hash32('x')})) AS sh FROM s0),
             d AS (SELECT doc_id, sh FROM s WHERE doc_id >= 10),
             b AS (SELECT doc_id AS bench_id, sh AS bsh FROM s WHERE doc_id < 10)
        SELECT d.doc_id, b.bench_id,
               round(len(list_intersect(d.sh, b.bsh)) / CAST(len(b.bsh) AS DOUBLE), 5) AS containment
        FROM d, b
        WHERE len(list_intersect(d.sh, b.bsh)) / CAST(len(b.bsh) AS DOUBLE) >= 0.3
    """
    # the bloom prefilter is answer-preserving (no false negatives + exact
    # join correction), so the oracle is the identical containment SQL
    sql["decontaminate_bloom"] = sql["decontaminate"]
    sql["clean_text"] = r"""
        WITH w AS (
            SELECT doc_id,
                   concat('<p class="x">  ', text, ' &nbsp;&amp;amp; <br/>trailing',
                          chr(9), '&lt;tag&gt;</p>') AS raw
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                   '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')) AS cleaned
        FROM w
    """
    # html_to_text replayed stage-for-stage (patterns are Java-regex ∩ RE2;
    # per-tag content-drop patterns because RE2 has no backreferences)
    _HTML_PAGE_HEAD = (
        '<html><head><title>t</title><style type="text/css">p { color: red }</style>'
        '<script>var x = "<p>not text</p>"; if (a && b) { go(); }</script></head>'
        "<body><!-- nav\nmenu --><h1>Heading</h1>\n<p>  "
    )
    _HTML_PAGE_TAIL = (
        " &nbsp;&amp;amp; tail</p><ul> <li>alpha</li>\t<li>beta &lt;3</li></ul>"
        "<br/><div>closing   line</div></body></html>"
    )
    _BLOCK_BREAK_SQL = (
        r"(?i)<(?:br|hr)\s*/?\s*>"
        r"|(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|thead|tbody|section|article"
        r"|header|footer|blockquote|pre|dd|dt|figure|figcaption|nav|aside|main)\s*>"
    )
    # build the expression by mechanical wrapping — one stage per line of the
    # Spark chain, impossible to mis-nest by hand
    _expr = "raw"
    for _tag in ("script", "style", "noscript", "template"):
        _expr = (
            f"regexp_replace({_expr}, "
            f"'(?is)<{_tag}\\b[^>]*>.*?</{_tag}\\s*>', ' ', 'g')"
        )
    _expr = f"regexp_replace({_expr}, '(?s)<!--.*?-->', ' ', 'g')"
    _expr = f"regexp_replace({_expr}, '{_BLOCK_BREAK_SQL}', chr(10), 'g')"
    _expr = f"regexp_replace({_expr}, '(?s)<[^>]*>', ' ', 'g')"
    for _ent, _ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"),
        ("&nbsp;", " "), ("&amp;", "&"),
    ):
        _expr = f"replace({_expr}, '{_ent}', '{_ch}')"
    _expr = f"regexp_replace({_expr}, '[^\\S\\n]+', ' ', 'g')"
    _expr = f"regexp_replace({_expr}, ' ?\\n ?', chr(10), 'g')"
    _expr = f"regexp_replace({_expr}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    _expr = f"regexp_replace({_expr}, '^\\s+|\\s+$', '', 'g')"
    sql["html_text_extract"] = f"""
        WITH w AS (
            SELECT doc_id,
                   concat($head${_HTML_PAGE_HEAD}$head$, text,
                          $tail${_HTML_PAGE_TAIL}$tail$) AS raw
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id, {_expr} AS extracted
        FROM w
    """
    sql["strip_boilerplate"] = """
        WITH w AS (
            SELECT doc_id, source,
                   concat('SUBSCRIBE TO OUR NEWSLETTER', chr(10), text, chr(10),
                          '(c) 2026 Example Corp') AS t2
            FROM documents WHERE doc_id < 100
        ),
        ls AS (SELECT doc_id, source, string_split(t2, chr(10)) AS l FROM w),
        ln AS (
            SELECT doc_id, source,
                   unnest(l) AS line,
                   unnest(range(1, len(l) + 1)) AS pos
            FROM ls
        ),
        ln2 AS (SELECT doc_id, source, line, pos, trim(line) AS norm FROM ln),
        gs AS (SELECT source, count(DISTINCT doc_id) AS g_docs FROM w GROUP BY source),
        ld AS (
            SELECT source, norm, count(*) AS l_docs
            FROM (SELECT DISTINCT source, norm, doc_id FROM ln2 WHERE norm != '')
            GROUP BY source, norm
        ),
        boiler AS (
            SELECT ld.source, ld.norm
            FROM ld JOIN gs USING (source)
            WHERE l_docs >= 2 AND l_docs / CAST(g_docs AS DOUBLE) >= 0.5
        ),
        kept AS (
            SELECT ln2.doc_id, ln2.line, ln2.pos
            FROM ln2 ANTI JOIN boiler
              ON ln2.source = boiler.source AND ln2.norm = boiler.norm
        ),
        agg AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS tc
            FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id, coalesce(agg.tc, '') AS text_clean
        FROM w LEFT JOIN agg USING (doc_id)
    """
    sql["pack_sequences"] = f"""
        WITH b AS (
            SELECT doc_id,
                   CAST(len({_sql_words()}) AS BIGINT) AS n_tokens,
                   CAST({_sql_hash32("concat('pack:', CAST(doc_id AS VARCHAR))")} % 8 AS INTEGER) AS bucket,
                   {_sql_hash32("concat('pack#', CAST(doc_id AS VARCHAR))")} AS ord
            FROM documents
        ),
        p AS (
            SELECT doc_id, n_tokens, bucket, ord,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY ord ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prefix
            FROM b
        )
        SELECT doc_id, n_tokens, bucket,
               CAST(floor(prefix / 256.0) AS BIGINT) AS bin,
               CAST(row_number() OVER (
                   PARTITION BY bucket, CAST(floor(prefix / 256.0) AS BIGINT)
                   ORDER BY ord ASC, doc_id ASC
               ) AS BIGINT) AS pos
        FROM p
    """
    # identical PII regex chain, identical most-specific-first order
    # (functions/text.py:PII_PATTERNS); plain string (no f-string) so the
    # regex braces survive verbatim
    sql["redact_pii"] = (
        """
        WITH w AS (
            SELECT doc_id,
                   concat('Contact admin', CAST(doc_id AS VARCHAR),
                          '@site.example.org or +1 555-000-', CAST(doc_id AS VARCHAR),
                          ' via 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 | ', text) AS raw
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(raw,
                   '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                   '\\+[0-9][0-9()\\-. ]{6,}[0-9]|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g')
               AS redacted
        FROM w
        """
    )
    sql["repetition_stats"] = f"""
        WITH w AS (
            SELECT doc_id,
                   concat('SUBSCRIBE NOW', chr(10), text, chr(10), 'SUBSCRIBE NOW') AS t2
            FROM documents WHERE doc_id < 200
        ),
        base AS (SELECT doc_id, t2, length(t2) AS n_chars, {_sql_words('t2')} AS wds FROM w),
        ln AS (
            SELECT doc_id, trim(u.x) AS line
            FROM base, unnest(string_split(t2, chr(10))) AS u(x)
            WHERE trim(u.x) != ''
        ),
        lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS l FROM ln GROUP BY doc_id, line),
        lstat AS (
            SELECT doc_id,
                   sum(c) AS n_lines,
                   sum(c * l) AS tot_line_chars,
                   sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_cnt,
                   sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_line_chars
            FROM lc GROUP BY doc_id
        ),
        g2 AS (SELECT doc_id, unnest({_sql_ngrams('wds', 2)}) AS g FROM base),
        g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
        top2 AS (
            SELECT doc_id, CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END AS top_chars
            FROM g2c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1
        ),
        g5 AS (SELECT doc_id, unnest({_sql_ngrams('wds', 5)}) AS g FROM base),
        g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
        d5 AS (
            SELECT doc_id,
                   sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup5_chars
            FROM g5c GROUP BY doc_id
        )
        SELECT b.doc_id,
               round(round(coalesce(dup_cnt / CAST(n_lines AS DOUBLE), 0.0), 6), 5) AS dup_line_frac,
               round(round(coalesce(dup_line_chars / CAST(tot_line_chars AS DOUBLE), 0.0), 6), 5) AS dup_line_char_frac,
               round(round(CASE WHEN b.n_chars = 0 THEN 0.0
                           ELSE least(coalesce(top_chars, 0) / CAST(b.n_chars AS DOUBLE), 1.0) END, 6), 5) AS top_ngram_char_frac,
               round(round(CASE WHEN b.n_chars = 0 THEN 0.0
                           ELSE least(coalesce(dup5_chars, 0) / CAST(b.n_chars AS DOUBLE), 1.0) END, 6), 5) AS dup_ngram_char_frac
        FROM base b
        LEFT JOIN lstat USING (doc_id)
        LEFT JOIN top2 USING (doc_id)
        LEFT JOIN d5 USING (doc_id)
    """
    sql["unigram_logprob"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest({_sql_words('lower(text)')}) AS w FROM documents
        ),
        vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab),
        scored AS (
            SELECT t.doc_id, ln((vocab.c + 1.0) / (tot.n + 1.0 * (tot.v + 1.0))) AS lp
            FROM tok t JOIN vocab USING (w) CROSS JOIN tot
        ),
        per_doc AS (SELECT doc_id, avg(lp) AS m FROM scored GROUP BY doc_id)
        SELECT d.doc_id, round(round(coalesce(per_doc.m, 0.0), 6), 5) AS lm_logprob
        FROM documents d LEFT JOIN per_doc USING (doc_id)
    """
    # the full Gopher rule set over the same wrapped corpus: repetition CTEs
    # (as in repetition_stats, rounded to 6 like the operator's columns) +
    # token screens, reasons assembled in the operator's exact order
    # code_stats: the same split/regexp chain, DuckDB list lambdas for the
    # per-line max; round() rewritten by portable_round_sql at the end
    sql["code_stats"] = r"""
        WITH base AS (
            SELECT doc_id,
                   coalesce(text, '') AS t,
                   string_split(coalesce(text, ''), chr(10)) AS lines
            FROM documents
        ), m AS (
            SELECT doc_id, t, lines,
                   len(lines) AS n_lines,
                   length(t) AS n_chars,
                   CASE WHEN len(lines) = 0 THEN 0.0
                        ELSE CAST(length(t) - (len(lines) - 1) AS DOUBLE) / len(lines)
                   END AS avg_line,
                   coalesce(list_max(list_transform(lines, x -> length(x))), 0) AS max_line,
                   length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS alnum,
                   length(regexp_replace(t, '[^A-Za-z]', '', 'g')) AS alpha,
                   length(t) - length(regexp_replace(t,
                       '0[xX][0-9A-Fa-f]+|\b[0-9a-fA-F]{8,}\b', '', 'g')) AS hexc
            FROM base
        )
        SELECT doc_id,
               CAST(n_lines AS INT) AS n_lines,
               round(avg_line, 6) AS avg_line_len,
               CAST(max_line AS INT) AS max_line_len,
               round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alnum AS DOUBLE) / n_chars END, 6) AS alnum_frac,
               round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END, 6) AS alpha_frac,
               round(CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(hexc AS DOUBLE) / n_chars END, 6) AS hex_frac,
               (avg_line <= 100.0 AND max_line <= 1000
                AND (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alnum AS DOUBLE) / n_chars END) > 0.25)
                   AS starcoder_keep
        FROM m
        ORDER BY doc_id
    """
    # text_hygiene: rebuild the poison wrap + regex classes via chr() so the
    # SQL source stays printable; regexp_count ≡ len(regexp_extract_all)
    def _sql_chars(s: str) -> str:
        parts = []
        run = ""
        for ch in s:
            if 32 <= ord(ch) < 127 and ch != "'":
                run += ch
            else:
                if run:
                    parts.append(f"'{run}'")
                    run = ""
                parts.append(f"chr({ord(ch)})")
        if run:
            parts.append(f"'{run}'")
        return " || ".join(parts) if parts else "''"

    _inv_cls = T._INVISIBLE_RE
    _sp_cls = T._EXOTIC_SPACE_RE
    _ctl_cls = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"
    _pre_sql = _sql_chars(_HYGIENE_PRE)
    _post_sql = _sql_chars(_HYGIENE_POST)
    _inv_sql = _sql_chars(_inv_cls)
    _sp_sql = _sql_chars(_sp_cls)
    _ctl_sql = _sql_chars(_ctl_cls)
    _rep_sql = _sql_chars("�")
    sql["text_hygiene"] = f"""
        WITH w AS (
            SELECT doc_id, {_pre_sql} || text || {_post_sql} AS raw
            FROM documents WHERE doc_id < 80
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(raw, {_inv_sql}, '', 'g'),
                              {_sp_sql}, ' ', 'g') AS cleaned,
               CAST(len(regexp_extract_all(raw, {_inv_sql})) AS INT) AS n_invisible,
               CAST(len(regexp_extract_all(raw, {_sp_sql})) AS INT) AS n_exotic_space,
               CAST(len(regexp_extract_all(raw, {_rep_sql})) AS INT) AS n_replacement,
               CAST(len(regexp_extract_all(raw, {_ctl_sql})) AS INT) AS n_control
        FROM w
    """
    sql["gopher_filter"] = f"""
        WITH w AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN concat('SPAM SPAM', chr(10), text, chr(10), 'SPAM SPAM')
                        ELSE text END AS t2
            FROM documents
        ),
        base AS (SELECT doc_id, t2, length(t2) AS n_chars, {_sql_words('t2')} AS wds FROM w),
        ln AS (
            SELECT doc_id, trim(u.x) AS line
            FROM base, unnest(string_split(t2, chr(10))) AS u(x)
            WHERE trim(u.x) != ''
        ),
        lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS l FROM ln GROUP BY doc_id, line),
        lstat AS (
            SELECT doc_id, sum(c) AS n_lines, sum(c * l) AS tot_line_chars,
                   sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_cnt,
                   sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup_line_chars
            FROM lc GROUP BY doc_id
        ),
        g2 AS (SELECT doc_id, unnest({_sql_ngrams('wds', 2)}) AS g FROM base),
        g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
        top2 AS (
            SELECT doc_id, CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END AS top_chars
            FROM g2c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1
        ),
        g5 AS (SELECT doc_id, unnest({_sql_ngrams('wds', 5)}) AS g FROM base),
        g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
        d5 AS (
            SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup5_chars
            FROM g5c GROUP BY doc_id
        ),
        rep AS (
            SELECT b.doc_id,
                   round(coalesce(dup_cnt / CAST(n_lines AS DOUBLE), 0.0), 6) AS dlf,
                   round(coalesce(dup_line_chars / CAST(tot_line_chars AS DOUBLE), 0.0), 6) AS dlcf,
                   round(CASE WHEN b.n_chars = 0 THEN 0.0
                              ELSE least(coalesce(top_chars, 0) / CAST(b.n_chars AS DOUBLE), 1.0) END, 6) AS tncf,
                   round(CASE WHEN b.n_chars = 0 THEN 0.0
                              ELSE least(coalesce(dup5_chars, 0) / CAST(b.n_chars AS DOUBLE), 1.0) END, 6) AS dncf
            FROM base b
            LEFT JOIN lstat USING (doc_id) LEFT JOIN top2 USING (doc_id)
            LEFT JOIN d5 USING (doc_id)
        ),
        met AS (
            SELECT doc_id,
                   len(wds) AS n_tokens,
                   CASE WHEN len(wds) = 0 THEN 0.0
                        ELSE list_sum(list_transform(wds, x -> length(x))) / CAST(len(wds) AS DOUBLE) END AS mean_len,
                   CASE WHEN length(t2) = 0 THEN 0.0
                        ELSE len(regexp_extract_all(t2, '[^A-Za-z0-9\\s]')) / CAST(length(t2) AS DOUBLE) END AS pr,
                   len(list_filter(wds, x -> list_contains(
                       ['the','a','of','and','to','in','is','it','that','for'], lower(x)))) AS sw_hits
            FROM base
        ),
        checks AS (
            SELECT m.doc_id, list_filter([
                CASE WHEN n_tokens < 50 THEN 'too_short' END,
                CASE WHEN n_tokens > 100000 THEN 'too_long' END,
                CASE WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_token_len' END,
                CASE WHEN pr > 0.1 THEN 'symbol_ratio' END,
                CASE WHEN sw_hits < 2 THEN 'too_few_stopwords' END,
                CASE WHEN dlf > 0.30 THEN 'dup_line_frac' END,
                CASE WHEN dlcf > 0.20 THEN 'dup_line_char_frac' END,
                CASE WHEN tncf > 0.20 THEN 'top_ngram_char_frac' END,
                CASE WHEN dncf > 0.15 THEN 'dup_ngram_char_frac' END
            ], x -> x IS NOT NULL) AS reasons
            FROM met m JOIN rep USING (doc_id)
        )
        SELECT doc_id, len(reasons) = 0 AS gopher_keep,
               coalesce(array_to_string(reasons, ','), '') AS reasons
        FROM checks
    """
    # identical URL regex chain (functions/url.py) — plain string so regex
    # braces/backslashes survive verbatim
    sql["url_canonical"] = (
        r"""
        WITH w AS (
            SELECT doc_id,
                   concat('HTTPS://WWW.Example', CAST(doc_id % 7 AS VARCHAR),
                          '.COM:443/docs/', source, '/', CAST(doc_id % 20 AS VARCHAR),
                          CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
                          CASE WHEN doc_id % 4 = 0 THEN '#section' ELSE '' END) AS url
            FROM documents
        ),
        s AS (
            SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS u FROM w
        ),
        p AS (
            SELECT doc_id, u,
                   lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                   lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS host,
                   regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*', '') AS tail
            FROM s
        ),
        h AS (
            SELECT doc_id, u, scheme, tail,
                   regexp_replace(host, '^www\.', '') AS h1, host
            FROM p
        ),
        h2 AS (
            SELECT doc_id, u, scheme, tail, host,
                   CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
                        WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
                        ELSE h1 END AS hc
            FROM h
        )
        SELECT doc_id,
               regexp_replace(CASE WHEN scheme = '' THEN u
                                   ELSE concat(scheme, '://', hc, tail) END,
                              '/+$', '') AS canonical,
               regexp_replace(regexp_replace(host, '^www\.', ''), ':[0-9]+$', '') AS domain
        FROM h2
        """
    )
    # same assignment CTEs as pack_sequences, then the ordered concatenation —
    # string_agg(... ORDER BY pos) pins doc order inside every sequence
    sql["pack_sequences_text"] = f"""
        WITH b AS (
            SELECT doc_id, text,
                   CAST(len({_sql_words()}) AS BIGINT) AS n_tokens,
                   CAST({_sql_hash32("concat('pack:', CAST(doc_id AS VARCHAR))")} % 8 AS INTEGER) AS bucket,
                   {_sql_hash32("concat('pack#', CAST(doc_id AS VARCHAR))")} AS ord
            FROM documents
        ),
        p AS (
            SELECT doc_id, text, n_tokens, bucket, ord,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY ord ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prefix
            FROM b
        ),
        a AS (
            SELECT doc_id, text, n_tokens, bucket, ord,
                   CAST(floor(prefix / 256.0) AS BIGINT) AS bin
            FROM p
        )
        SELECT bucket, bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord ASC, doc_id ASC) AS doc_ids,
               string_agg(text, ' ' ORDER BY ord ASC, doc_id ASC) AS text
        FROM a GROUP BY bucket, bin
    """
    # corpus-global line dedup: row_number over (norm) picks the canonical
    # (doc_id, pos); units shorter than 20 chars after trim never dedup
    sql["dedup_paragraphs"] = f"""
        WITH w AS (
            SELECT doc_id,
                   concat('{DP_HEADER}', chr(10), text, chr(10), '{DP_FOOTER}') AS t2
            FROM documents WHERE doc_id < 100
        ),
        ls AS (SELECT doc_id, string_split(t2, chr(10)) AS l FROM w),
        ln AS (
            SELECT doc_id,
                   unnest(l) AS u,
                   unnest(range(1, len(l) + 1)) AS pos
            FROM ls
        ),
        n AS (
            SELECT doc_id, pos, u, trim(u) AS norm,
                   length(trim(u)) >= 20 AS elig
            FROM ln
        ),
        rk AS (
            SELECT doc_id, pos, u, elig,
                   row_number() OVER (PARTITION BY norm ORDER BY doc_id ASC, pos ASC) AS rn
            FROM n
        ),
        kept AS (SELECT doc_id, pos, u, (NOT elig) OR rn = 1 AS keep FROM rk),
        agg AS (
            SELECT doc_id,
                   string_agg(u, chr(10) ORDER BY pos) FILTER (WHERE keep) AS td,
                   sum(CASE WHEN keep THEN 0 ELSE 1 END) AS nd
            FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id, coalesce(agg.td, '') AS text_dedup,
               CAST(coalesce(agg.nd, 0) AS INTEGER) AS n_paras_dropped
        FROM w LEFT JOIN agg USING (doc_id)
    """
    sql["bigram_coverage"] = f"""
        WITH t AS (SELECT {_sql_words('lower(text)')} AS w FROM documents),
        tok AS (
            SELECT unnest([concat(w[i], ' ', w[i+1]) FOR i IN range(1, len(w))]) AS token
            FROM t WHERE len(w) >= 2
        ),
        c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        tot AS (SELECT sum(n) AS total FROM c),
        top AS (SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 40)
        SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
               token,
               CAST(n AS BIGINT) AS n,
               round(n / CAST(total AS DOUBLE), 8) AS freq,
               round(sum(n) OVER (ORDER BY n DESC, token ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(total AS DOUBLE), 8) AS coverage
        FROM top, tot
    """
    sql["vocab_coverage"] = f"""
        WITH tok AS (SELECT lower(unnest({_sql_words()})) AS token FROM documents),
        c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        tot AS (SELECT sum(n) AS total FROM c),
        top AS (SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 50)
        SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
               token,
               CAST(n AS BIGINT) AS n,
               round(n / CAST(total AS DOUBLE), 8) AS freq,
               round(sum(n) OVER (ORDER BY n DESC, token ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(total AS DOUBLE), 8) AS coverage
        FROM top, tot
    """
    # interpolated-bigram LM: P_bi = c(bi)/c(prev) (0 on unseen prev),
    # P_uni = add-one unigram; literals written with Python repr so the
    # 1.0 - 0.7 = 0.30000000000000004 double matches Spark's bit-for-bit
    lam_r, one_minus_lam_r = repr(0.7), repr(1.0 - 0.7)
    sql["bigram_logprob"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words('lower(text)')} AS w FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
        uni AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM uni),
        bg AS (
            SELECT doc_id,
                   unnest([w[i] FOR i IN range(1, len(w))]) AS prev,
                   unnest([w[i+1] FOR i IN range(1, len(w))]) AS cur,
                   unnest([concat(w[i], ' ', w[i+1]) FOR i IN range(1, len(w))]) AS bi
            FROM t WHERE len(w) >= 2
        ),
        bic AS (SELECT bi, count(*) AS cb FROM bg GROUP BY bi),
        sc AS (
            SELECT g.doc_id,
                   ln({lam_r} * (CASE WHEN up.c IS NOT NULL AND up.c > 0
                                 THEN coalesce(bic.cb, 0) / CAST(up.c AS DOUBLE)
                                 ELSE 0.0 END)
                      + {one_minus_lam_r} * ((coalesce(uc.c, 0) + 1.0) / (tot.n + 1.0 * (tot.v + 1.0)))) AS lp
            FROM bg g
            LEFT JOIN bic USING (bi)
            LEFT JOIN uni up ON up.tk = g.prev
            LEFT JOIN uni uc ON uc.tk = g.cur
            CROSS JOIN tot
        ),
        per_doc AS (SELECT doc_id, avg(lp) AS m FROM sc GROUP BY doc_id)
        SELECT d.doc_id, round(round(coalesce(per_doc.m, 0.0), 6), 5) AS lm2_logprob
        FROM documents d LEFT JOIN per_doc USING (doc_id)
    """
    # corpus health report: the quality_by_lang quality-score CTE grouped by
    # source, plus exact interpolated percentiles / md5 dup rate / blank frac
    sql["corpus_report"] = f"""
        WITH t AS (SELECT source, text, {_sql_words()} AS w FROM documents),
             m AS (
                SELECT source, text,
                       len(w) AS n_tokens,
                       CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_distinct(w)) / CAST(len(w) AS DOUBLE) END AS uniq,
                       CASE WHEN length(text) = 0 THEN 0.0
                            ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / CAST(length(text) AS DOUBLE) END AS pr
                FROM t
             ),
             q AS (
                SELECT source, text, n_tokens,
                       round(0.4 * uniq
                             + 0.3 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                             + 0.3 * (1.0 - least(pr * 5.0, 1.0)), 6) AS quality_score
                FROM m
             )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
               round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
               round(1 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
               round(avg(CASE WHEN trim(text) = '' THEN 1.0 ELSE 0.0 END), 6) AS blank_frac,
               round(avg(quality_score), 6) AS avg_quality
        FROM q GROUP BY source
    """
    # exact-substring span dedup: window hashes at every start, canonical =
    # first (doc_id, pos) per hash, non-canonical [p, p+8) token ranges
    # excised; rebuilt text is the kept tokens space-joined
    sql["dedup_spans"] = f"""
        WITH w0 AS (
            SELECT doc_id, concat('{DS_PROLOGUE}', ' ', text) AS t2
            FROM documents WHERE doc_id < 100
        ),
        t AS (SELECT doc_id, {_sql_words("t2")} AS w FROM w0),
        s AS (SELECT doc_id, w, len(w) AS n FROM t),
        wins AS (
            SELECT doc_id, w, unnest(range(1, greatest(n - 8 + 2, 1))) AS p
            FROM s WHERE n >= 8
        ),
        wh AS (
            SELECT doc_id, p,
                   CAST(concat('0x', substr(md5(array_to_string(w[p:p+7], ' ')), 1, 15)) AS BIGINT) AS h
            FROM wins
        ),
        rk AS (
            SELECT doc_id, p,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id ASC, p ASC) AS rn
            FROM wh
        ),
        fl AS (SELECT doc_id, p FROM rk WHERE rn > 1),
        tok AS (
            SELECT doc_id, n, unnest(range(1, n + 1)) AS tp, unnest(w) AS tv
            FROM s
        ),
        rem AS (
            SELECT DISTINCT t.doc_id, t.tp
            FROM tok t JOIN fl ON t.doc_id = fl.doc_id
                              AND t.tp >= fl.p AND t.tp < fl.p + 8
        ),
        kept AS (
            SELECT tok.doc_id, tok.tp, tok.tv
            FROM tok ANTI JOIN rem
              ON tok.doc_id = rem.doc_id AND tok.tp = rem.tp
        ),
        agg AS (
            SELECT doc_id, string_agg(tv, ' ' ORDER BY tp) AS td, count(*) AS nk
            FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id, coalesce(agg.td, '') AS text_dedup,
               CAST(s.n - coalesce(agg.nk, 0) AS INTEGER) AS n_tokens_removed
        FROM s LEFT JOIN agg USING (doc_id)
    """
    # incremental MinHash: same signature/banding CTEs as minhash_lsh_pairs,
    # but candidates are (corpus-band x new-band) plus (new x new), bucket
    # caps applied per side, and the verify is the signature-agreement
    # estimator (len(filter(sig positions equal))/n) — the (id, sig)-store
    # path that never re-materializes corpus shingles
    perms_inc = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {D.perm_coeffs(i)[0]} + {D.perm_coeffs(i)[1]}) % {D.MINHASH_PRIME}))"
        for i in range(32)
    )
    bands_inc = "\n                 UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '_') AS band_key FROM sigt"
        for b in range(8)
    )
    est_inc = "len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) / 32.0"
    sql["minhash_incremental"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words()} AS w FROM documents),
             s AS (SELECT doc_id, {_sql_shingles3()} AS sh FROM t),
             h AS (SELECT doc_id, list_transform(sh, x -> {_sql_hash32('x')}) AS hs
                   FROM s WHERE len(sh) > 0),
             sigt AS (SELECT doc_id, [{perms_inc}] AS sig FROM h),
             bands AS ({bands_inc}),
             ckeep AS (
                SELECT * FROM (
                    SELECT doc_id, band_idx, band_key,
                           count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
                    FROM bands WHERE doc_id < 300
                ) WHERE bucket_n <= 500
             ),
             nkeep AS (
                SELECT * FROM (
                    SELECT doc_id, band_idx, band_key,
                           count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
                    FROM bands WHERE doc_id >= 300
                ) WHERE bucket_n <= 500
             ),
             cand AS (
                SELECT DISTINCT c.doc_id AS id_a, n.doc_id AS id_b, 'corpus' AS vs
                FROM ckeep c JOIN nkeep n
                  ON c.band_idx = n.band_idx AND c.band_key = n.band_key
                UNION ALL
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, 'batch' AS vs
                FROM nkeep a JOIN nkeep b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
             )
        SELECT id_a, id_b, round({est_inc}, 5) AS jaccard, vs
        FROM cand
        JOIN sigt sa ON sa.doc_id = id_a
        JOIN sigt sb ON sb.doc_id = id_b
        WHERE {est_inc} >= 0.5
    """
    # token-window chunking: starts at 1, 1+stride, ...; a start > 1 whose
    # window adds no new tokens (previous chunk already reached the end) is
    # skipped; final chunk may be short. window=16, overlap=4, stride=12.
    sql["chunk_documents"] = f"""
        WITH t AS (
            SELECT doc_id, {_sql_words()} AS w FROM documents WHERE doc_id < 50
        ),
        s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        st AS (
            SELECT doc_id, w, n,
                   unnest([x FOR x IN range(1, greatest(n, 1) + 1, 12)
                           IF x <= n AND (x = 1 OR x - 12 + 16 - 1 < n)]) AS start
            FROM s
        )
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start ASC) AS INTEGER) AS chunk_idx,
               CAST(least(16, n - start + 1) AS INTEGER) AS n_chunk_tokens,
               array_to_string(w[start:start + 15], ' ') AS chunk_text
        FROM st
    """
    # per-source token quota: same hash-order window as the Spark plan; a row
    # is kept while the tokens BEFORE it are under budget
    sql["quota_sample"] = f"""
        WITH b AS (
            SELECT source, doc_id,
                   CAST(len({_sql_words()}) AS BIGINT) AS n_tokens,
                   {_sql_hash32("concat('quota:', CAST(doc_id AS VARCHAR))")} AS ord
            FROM documents
        ),
        p AS (
            SELECT source, doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY ord ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prefix
            FROM b
        )
        SELECT source,
               count(*) AS n_kept,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
               CAST(max(prefix + n_tokens) AS BIGINT) AS max_cum,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM p WHERE prefix < 600 GROUP BY source
    """
    # mixture resampling: weight = round(target_share * total / group_tokens, 8)
    # (rounded BEFORE floor/frac, matching sampling.py's pround-ed weight);
    # copies = floor(w) + (u < frac(w)) with u = hash32/2^32
    mix_case = "CASE source " + " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in MIX_TARGET.items()
    ) + " ELSE 0.0 END"
    sql["resample_mixture"] = f"""
        WITH c AS (
            SELECT source, CAST(sum(len({_sql_words()})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ),
        t AS (SELECT sum(n_tokens) AS total FROM c),
        wt AS (
            SELECT source,
                   round(CASE WHEN n_tokens = 0 THEN 0.0
                         ELSE ({mix_case}) * total / CAST(n_tokens AS DOUBLE) END, 8) AS w
            FROM c, t
        ),
        d AS (
            SELECT doc_id, documents.source, w,
                   {_sql_hash32("concat('mix:', CAST(doc_id AS VARCHAR))")} / 4294967296.0 AS u
            FROM documents JOIN wt ON documents.source = wt.source
        ),
        n AS (
            SELECT doc_id, source,
                   CAST(floor(w) AS INTEGER)
                   + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS n_copies
            FROM d
        ),
        e AS (
            SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy
            FROM n WHERE n_copies >= 1
        )
        SELECT source,
               count(*) AS n_rows,
               count(DISTINCT doc_id) AS n_docs,
               CAST(max(copy) AS INTEGER) AS max_copy,
               CAST(sum(doc_id * copy) AS BIGINT) AS weighted_id_sum
        FROM e GROUP BY source
    """
    sql["hnsw_recall"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
             d AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings WHERE vec_id >= 5),
             scored AS (
                SELECT q.query_id, d.vec_id,
                       round(list_sum(list_transform(range(1, len(dv)+1), i -> (dv[i]-qv[i])*(dv[i]-qv[i]))), 5) AS l2sq_distance
                FROM q, d
             )
        SELECT query_id, vec_id, l2sq_distance,
               row_number() OVER (PARTITION BY query_id ORDER BY l2sq_distance ASC, vec_id ASC) AS rnk,
               TRUE AS recall_ok,
               1.0 AS recall
        FROM scored
        QUALIFY rnk <= 10
    """
    sql["pii_stats"] = """
        WITH w AS (
            SELECT doc_id,
                   concat('Contact admin', CAST(doc_id AS VARCHAR),
                          '@site.example.org or +1 555-000-', CAST(doc_id AS VARCHAR),
                          ' via 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 | ', text) AS raw
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw,
                   '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(raw,
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ip,
               CAST(len(regexp_extract_all(raw,
                   '\\+[0-9][0-9()\\-. ]{6,}[0-9]|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(raw,
                   '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               + CAST(len(regexp_extract_all(raw,
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT)
               + CAST(len(regexp_extract_all(raw,
                   '\\+[0-9][0-9()\\-. ]{6,}[0-9]|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b')) AS BIGINT) AS pii_total
        FROM w
        ORDER BY doc_id
    """
    sql["dedup_within"] = """
        WITH t AS (SELECT doc_id,
                          text || chr(10) || text || chr(10) || 'short' AS t2
                   FROM documents),
             a AS (SELECT doc_id, str_split(t2, chr(10)) AS parts FROM t),
             b AS (SELECT doc_id, parts,
                          list_transform(parts, x -> trim(x)) AS tr
                   FROM a),
             k AS (SELECT doc_id, parts,
                          list_filter(parts,
                              (x, i) -> length(trim(x)) < 20
                                        OR list_position(tr, trim(x)) = i) AS keep
                   FROM b)
        SELECT doc_id,
               array_to_string(keep, chr(10)) AS text_dedup_within,
               CAST(len(parts) - len(keep) AS BIGINT) AS n_units_dropped
        FROM k
        ORDER BY doc_id
    """
    hll2_h = _sql_hash32("concat('hllr', ':', CAST(user_id AS VARCHAR))")
    hll2_rho = "CASE WHEN (" + hll2_h + ") % 2 = 1 THEN 1 " + " ".join(
        f"WHEN ({hll2_h}) % {2**r} = {2**(r-1)} THEN {r}" for r in range(2, 33)
    ) + " ELSE 33 END"
    hll2_amm = repr(0.709 * 64 * 64)
    sql["hll_by_type"] = f"""
        WITH k AS (SELECT event_type,
                          {_sql_hash32("concat('hllb', ':', CAST(user_id AS VARCHAR))")} % 64 AS b,
                          {hll2_rho} AS r
                   FROM events),
             reg AS (SELECT event_type, b, max(r) AS r FROM k GROUP BY event_type, b),
             s AS (SELECT event_type, count(*) AS n_obs,
                          sum(power(2.0, -CAST(r AS DOUBLE))) AS z_obs
                   FROM reg GROUP BY event_type),
             ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
                    FROM events GROUP BY event_type),
             est AS (SELECT event_type,
                            CAST(n_obs AS BIGINT) AS n_registers,
                            CAST(64.0 - n_obs AS BIGINT) AS n_zero_registers,
                            {hll2_amm} / (z_obs + (64.0 - n_obs)) AS raw,
                            64.0 - n_obs AS v
                     FROM s)
        SELECT est.event_type, est.n_registers, est.n_zero_registers,
               round(est.raw, 4) AS hll_raw,
               round(CASE WHEN est.raw <= 160.0 AND est.v > 0
                          THEN 64.0 * ln(64.0 / est.v)
                          ELSE est.raw END, 4) AS hll_est,
               ex.exact_distinct
        FROM est JOIN ex USING (event_type)
        ORDER BY est.event_type
    """
    sql["normalize_nfc"] = """
        WITH t AS (SELECT doc_id, text || ' cafe' || chr(769) AS t2 FROM documents)
        SELECT doc_id,
               length(t2) AS len_before,
               length(nfc_normalize(t2)) AS len_after,
               nfc_normalize(t2) <> t2 AS changed
        FROM t
        ORDER BY doc_id
    """
    kw_values = ", ".join(
        f"('{lab}', '{kw}')" for lab, kws in sorted(KEYWORD_LABELS.items()) for kw in kws
    )
    sql["keyword_labels"] = f"""
        WITH t AS (SELECT doc_id, {_sql_words("lower(text)")} AS w FROM documents),
             toks AS (SELECT doc_id, unnest(w) AS kw FROM t),
             kws(label, kw) AS (SELECT * FROM (VALUES {kw_values})),
             hits AS (SELECT toks.doc_id, kws.label, toks.kw
                      FROM toks JOIN kws USING (kw)),
             nd AS (SELECT count(*) AS n FROM documents),
             dfk AS (SELECT kw, count(DISTINCT doc_id) AS dfk FROM hits GROUP BY kw),
             idf AS (SELECT kw, ln((SELECT n FROM nd) / (dfk + 1.0)) AS idf FROM dfk),
             sc AS (SELECT h.doc_id, h.label,
                           round(sum(greatest(idf.idf, 0.0)), 6) AS s
                    FROM hits h JOIN idf USING (kw)
                    GROUP BY h.doc_id, h.label),
             best AS (SELECT doc_id, label, s,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY s DESC, label ASC) AS rn
                      FROM sc)
        SELECT d.doc_id,
               coalesce(b.label, 'other') AS label,
               coalesce(b.s, 0.0) AS label_score
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        ORDER BY d.doc_id
    """

    def _sql_grams(n: int) -> str:
        if n == 1:
            return "w"
        return (
            f"CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
            f"list_transform(range(1, greatest(len(w) - {n - 1}, 1) + 1), "
            f"i -> array_to_string(w[i:i+{n - 1}], ' ')) END"
        )

    div_parts = " UNION ALL ".join(
        f"""SELECT lang, {n} AS n, g
            FROM (SELECT lang, unnest({_sql_grams(n)}) AS g
                  FROM (SELECT lang, {_sql_words()} AS w FROM documents))"""
        for n in (1, 2, 3)
    )
    sql["ngram_diversity"] = f"""
        WITH grams AS ({div_parts}),
             counted AS (SELECT lang, n, g, count(*) AS c
                         FROM grams GROUP BY lang, n, g),
             agg AS (SELECT lang, n,
                            CAST(sum(c) AS BIGINT) AS total_ngrams,
                            CAST(count(*) AS BIGINT) AS distinct_ngrams
                     FROM counted GROUP BY lang, n)
        SELECT lang, n, total_ngrams, distinct_ngrams,
               round(CASE WHEN total_ngrams > 0
                          THEN distinct_ngrams / CAST(total_ngrams AS DOUBLE)
                          ELSE 0.0 END, 6) AS distinct_ratio
        FROM agg
        ORDER BY lang, n
    """
    sql["bottomk_quantiles"] = f"""
        WITH s AS (SELECT event_id, value,
                          {_sql_hash32("concat('bks', ':', CAST(event_id AS VARCHAR))")} AS h
                   FROM events
                   ORDER BY h ASC, event_id ASC
                   LIMIT 512),
             r AS (SELECT value,
                          row_number() OVER (ORDER BY value ASC, event_id ASC) AS rn
                   FROM s),
             m AS (SELECT count(*) AS m FROM s),
             p AS (SELECT unnest([0.5, 0.9, 0.99]) AS prob)
        SELECT p.prob, r.value AS estimate, m.m AS n_sample
        FROM p CROSS JOIN m
        JOIN r ON r.rn = greatest(1, CAST(ceil(p.prob * m.m) AS BIGINT))
        ORDER BY p.prob
    """
    sql["temperature_mixture"] = f"""
        WITH t AS (SELECT lang, {_sql_words()} AS w FROM documents),
             c AS (SELECT lang, count(*) AS n_docs,
                          CAST(sum(len(w)) AS BIGINT) AS n_tokens
                   FROM t GROUP BY lang),
             tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM c),
             s AS (SELECT lang, n_docs, n_tokens,
                          n_tokens / CAST((SELECT tt FROM tot) AS DOUBLE) AS p
                   FROM c),
             z AS (SELECT sum(power(p, 0.5)) AS z FROM s)
        SELECT lang, n_docs, n_tokens,
               round(p, 8) AS actual_share,
               round(power(p, 0.5) / (SELECT z FROM z), 8) AS temp_share,
               round(CASE WHEN p > 0
                          THEN (power(p, 0.5) / (SELECT z FROM z)) / p
                          ELSE 0.0 END, 8) AS weight
        FROM s
        ORDER BY lang
    """
    res_u = (
        "(("
        + _sql_hash32("concat('wres', ':', CAST(doc_id AS VARCHAR))")
        + " + 0.5) / 4294967296.0)"
    )
    sql["reservoir_sample"] = f"""
        WITH t AS (SELECT doc_id, lang,
                          CAST(len({_sql_words()}) AS BIGINT) AS n_tokens
                   FROM documents),
             keyed AS (SELECT doc_id, lang, n_tokens,
                              round(ln({res_u}) / CAST(n_tokens AS DOUBLE), 9) AS res_key
                       FROM t WHERE n_tokens > 0)
        SELECT doc_id, lang, n_tokens, res_key
        FROM keyed
        ORDER BY res_key DESC, doc_id ASC
        LIMIT 40
    """
    sql["dedup_keep_best"] = f"""
        WITH RECURSIVE pairs AS ({_minhash_lsh_pairs_sql()}),
             edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                       UNION SELECT id_b, id_a FROM pairs),
             reach(id, r) AS (
                 SELECT a, a FROM (SELECT DISTINCT a FROM edges)
                 UNION
                 SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
             ),
             clusters AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
                          FROM reach GROUP BY id),
             score AS (SELECT doc_id,
                              round(CAST(len({_sql_words()}) AS DOUBLE), 6) AS s
                       FROM documents),
             scored AS (SELECT c.cluster_id, sc.doc_id, sc.s
                        FROM clusters c JOIN score sc USING (doc_id)),
             sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                       FROM scored GROUP BY cluster_id),
             w AS (SELECT cluster_id, doc_id,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY s DESC NULLS LAST,
                                                      doc_id ASC) AS rn
                   FROM scored),
             winners AS (SELECT cluster_id, doc_id AS winner FROM w WHERE rn = 1)
        SELECT d.doc_id,
               CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size,
               coalesce(d.doc_id = wn.winner, TRUE) AS is_kept
        FROM documents d
        LEFT JOIN clusters c USING (doc_id)
        LEFT JOIN sizes z ON z.cluster_id = c.cluster_id
        LEFT JOIN winners wn ON wn.cluster_id = c.cluster_id
        ORDER BY d.doc_id
    """
    # HLL register replay (sketches.hll_build/hll_estimate, m=512): rho =
    # lowest-set-bit position via exact integer congruences, estimator
    # constants inlined at full double precision to match Spark's literals
    hll_m = 512
    hll_h = _sql_hash32("concat('hllr', ':', token)")
    hll_rho_sql = "CASE WHEN (" + hll_h + ") % 2 = 1 THEN 1 " + " ".join(
        f"WHEN ({hll_h}) % {2**r} = {2**(r-1)} THEN {r}" for r in range(2, 33)
    ) + " ELSE 33 END"
    hll_amm = repr((0.7213 / (1.0 + 1.079 / hll_m)) * hll_m * hll_m)
    sql["hll_distinct"] = f"""
        WITH t AS (SELECT {_sql_words()} AS w FROM documents),
             e AS (SELECT unnest(w) AS token FROM t),
             k AS (SELECT {_sql_hash32("concat('hllb', ':', token)")} % {hll_m} AS b,
                          {hll_rho_sql} AS r
                   FROM e),
             reg AS (SELECT b, max(r) AS r FROM k GROUP BY b),
             s AS (SELECT count(*) AS n_obs,
                          sum(power(2.0, -CAST(r AS DOUBLE))) AS z_obs
                   FROM reg),
             ex AS (SELECT count(DISTINCT token) AS exact_distinct FROM e),
             est AS (SELECT CAST(n_obs AS BIGINT) AS n_registers,
                            CAST({hll_m}.0 - n_obs AS BIGINT) AS n_zero_registers,
                            {hll_amm} / (z_obs + ({hll_m}.0 - n_obs)) AS raw,
                            {hll_m}.0 - n_obs AS v
                     FROM s)
        SELECT est.n_registers, est.n_zero_registers,
               round(est.raw, 4) AS hll_raw,
               round(CASE WHEN est.raw <= {2.5 * hll_m} AND est.v > 0
                          THEN {hll_m}.0 * ln({hll_m}.0 / est.v)
                          ELSE est.raw END, 4) AS hll_est,
               ex.exact_distinct,
               round(abs(round(CASE WHEN est.raw <= {2.5 * hll_m} AND est.v > 0
                                    THEN {hll_m}.0 * ln({hll_m}.0 / est.v)
                                    ELSE est.raw END, 4) - ex.exact_distinct)
                     / ex.exact_distinct, 6) AS rel_err
        FROM est, ex
    """
    dr_h = _sql_hash32("concat('hllr', ':', fp)")
    dr_rho = "CASE WHEN (" + dr_h + ") % 2 = 1 THEN 1 " + " ".join(
        f"WHEN ({dr_h}) % {2**r} = {2**(r-1)} THEN {r}" for r in range(2, 33)
    ) + " ELSE 33 END"
    sql["dup_rate_sketch"] = f"""
        WITH base AS (SELECT doc_id, text FROM documents),
             planted AS (SELECT a.doc_id,
                                CASE WHEN a.doc_id < 50
                                     THEN coalesce(b.text, a.text)
                                     ELSE a.text END AS text
                         FROM base a LEFT JOIN base b ON b.doc_id = a.doc_id + 100),
             k AS (SELECT md5(text) AS fp FROM planted),
             regs AS (SELECT {_sql_hash32("concat('hllb', ':', fp)")} % 512 AS b,
                             max({dr_rho}) AS r
                      FROM k GROUP BY 1),
             s AS (SELECT count(*) AS n_obs,
                          sum(power(2.0, -CAST(r AS DOUBLE))) AS z_obs
                   FROM regs),
             ex AS (SELECT count(*) AS n_docs,
                           count(DISTINCT fp) AS exact_distinct
                    FROM k),
             est AS (SELECT {hll_amm} / (z_obs + (512.0 - n_obs)) AS raw,
                            512.0 - n_obs AS v
                     FROM s),
             fin AS (SELECT round(CASE WHEN est.raw <= 1280.0 AND est.v > 0
                                       THEN 512.0 * ln(512.0 / est.v)
                                       ELSE est.raw END, 4) AS hll_est
                     FROM est)
        SELECT ex.n_docs, ex.exact_distinct, fin.hll_est,
               round(1.0 - fin.hll_est / ex.n_docs, 6) AS dup_rate_est,
               round(1.0 - CAST(ex.exact_distinct AS DOUBLE) / ex.n_docs, 6)
                   AS dup_rate_exact
        FROM fin, ex
    """
    # DSIR hashed uni+bigram feature bag (selection.hashed_ngram_buckets):
    # seeds dsir1 (unigrams) / dsir2 (space-joined bigrams), md5 buckets.
    dsir_u = _sql_hash32("concat('dsir1', ':', x)")
    dsir_b = _sql_hash32("concat('dsir2', ':', w[i], ' ', w[i+1])")
    dsir_feats = (
        f"list_concat(list_transform(w, x -> {dsir_u} % 2048), "
        f"list_transform(range(1, len(w)), i -> {dsir_b} % 2048))"
    )
    dsir_core = f"""
        WITH t AS (SELECT doc_id, lang, source, {_sql_words()} AS w FROM documents),
             f AS (SELECT doc_id, unnest({dsir_feats}) AS b FROM t),
             tf AS (SELECT unnest({dsir_feats}) AS b FROM t WHERE lang = 'en'),
             rp AS (SELECT b, count(*) AS rn FROM f GROUP BY b),
             tp AS (SELECT b, count(*) AS tn FROM tf GROUP BY b),
             nr AS (SELECT count(*) AS v FROM f),
             nt AS (SELECT count(*) AS v FROM tf),
             tab AS (SELECT coalesce(rp.b, tp.b) AS b,
                            ln((coalesce(tp.tn, 0) + 1.0) / ((SELECT v FROM nt) + 1.0 * 2048))
                          - ln((coalesce(rp.rn, 0) + 1.0) / ((SELECT v FROM nr) + 1.0 * 2048)) AS lr
                     FROM rp FULL OUTER JOIN tp ON tp.b = rp.b),
             pd AS (SELECT f.doc_id, sum(tab.lr) AS lw, count(*) AS nf
                    FROM f JOIN tab ON tab.b = f.b GROUP BY f.doc_id)
    """
    sql["dsir_weights"] = f"""
        {dsir_core}
        SELECT t.doc_id, t.lang, t.source,
               coalesce(pd.nf, 0) AS n_features,
               round(coalesce(pd.lw, 0.0), 6) AS dsir_logw
        FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id
        ORDER BY t.doc_id
    """
    dsir_gumbel = (
        "(-ln(-ln(("
        + _sql_hash32("concat('dsir-sel', ':', CAST(doc_id AS VARCHAR))")
        + " + 0.5) / 4294967296.0)))"
    )
    sql["dsir_select"] = f"""
        {dsir_core},
             keyed AS (SELECT t.doc_id, t.lang,
                              round(coalesce(pd.lw, 0.0), 6) AS dsir_logw
                       FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id)
        SELECT doc_id, lang, dsir_logw,
               round(dsir_logw + {dsir_gumbel}, 6) AS sel_key
        FROM keyed
        ORDER BY round(dsir_logw + {dsir_gumbel}, 6) DESC, doc_id ASC
        LIMIT 60
    """
    # same selection at cutoff-path scale: the ordered LIMIT names the same
    # SET the Spark filter plan emits (hash compare is order-insensitive)
    sql["dsir_select_big"] = f"""
        {dsir_core},
             keyed AS (SELECT t.doc_id, t.lang,
                              round(coalesce(pd.lw, 0.0), 6) AS dsir_logw
                       FROM t LEFT JOIN pd ON pd.doc_id = t.doc_id)
        SELECT doc_id, lang, dsir_logw,
               round(dsir_logw + {dsir_gumbel}, 6) AS sel_key
        FROM keyed
        ORDER BY round(dsir_logw + {dsir_gumbel}, 6) DESC, doc_id ASC
        LIMIT 120
    """
    div_u = _sql_hash32("concat('dsir1', ':', x)")
    sql["corpus_divergence"] = f"""
        WITH t AS (SELECT lang, {_sql_words()} AS w FROM documents),
             fa AS (SELECT unnest(list_transform(w, x -> {div_u} % 1024)) AS b
                    FROM t WHERE lang = 'en'),
             fb AS (SELECT unnest(list_transform(w, x -> {div_u} % 1024)) AS b
                    FROM t WHERE lang <> 'en'),
             pa AS (SELECT b, count(*) AS an FROM fa GROUP BY b),
             pb AS (SELECT b, count(*) AS bn FROM fb GROUP BY b),
             na AS (SELECT count(*) AS v FROM fa),
             nb AS (SELECT count(*) AS v FROM fb),
             pq AS (SELECT (coalesce(pa.an, 0) + 0.5) / ((SELECT v FROM na) + 0.5 * 1024) AS p,
                           (coalesce(pb.bn, 0) + 0.5) / ((SELECT v FROM nb) + 0.5 * 1024) AS q
                    FROM pa FULL OUTER JOIN pb ON pb.b = pa.b),
             s AS (SELECT count(*) AS n_obs,
                          sum(p * ln(p / q)) AS kl_ab_obs,
                          sum(q * ln(q / p)) AS kl_ba_obs,
                          sum(p * ln(p / ((p + q) / 2.0)) / 2.0
                              + q * ln(q / ((p + q) / 2.0)) / 2.0) AS js_obs,
                          sum(abs(p - q) / 2.0) AS tv_obs
                   FROM pq),
             c AS (SELECT 0.5 / ((SELECT v FROM na) + 0.5 * 1024) AS p0,
                          0.5 / ((SELECT v FROM nb) + 0.5 * 1024) AS q0)
        SELECT CAST(s.n_obs AS BIGINT) AS n_buckets_observed,
               round(s.kl_ab_obs + (1024.0 - s.n_obs) * c.p0 * ln(c.p0 / c.q0), 6) AS kl_ab,
               round(s.kl_ba_obs + (1024.0 - s.n_obs) * c.q0 * ln(c.q0 / c.p0), 6) AS kl_ba,
               round(s.js_obs + (1024.0 - s.n_obs)
                     * (c.p0 * ln(c.p0 / ((c.p0 + c.q0) / 2.0)) / 2.0
                        + c.q0 * ln(c.q0 / ((c.p0 + c.q0) / 2.0)) / 2.0), 6) AS js_div,
               round(s.tv_obs + (1024.0 - s.n_obs) * abs(c.p0 - c.q0) / 2.0, 6) AS tv_dist
        FROM s, c
    """
    sql["skew_report"] = """
        WITH tot AS (SELECT count(*) AS total FROM events),
             c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY event_type)
        SELECT event_type, n,
               round(n / CAST(tot.total AS DOUBLE), 6) AS share,
               CAST(greatest(1, ceil(n / 1000.0)) AS BIGINT) AS salt_factor
        FROM c, tot
        ORDER BY n DESC, event_type ASC
        LIMIT 10
    """
    # the salt is an execution-layout detail: the oracle is the PLAIN join
    sql["salted_join"] = """
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """
    # Compressed-family trade-off: composes the already-written family
    # replays (knn_l2 / sq8_search / bq_search / mrl_search / pq_adc_topk)
    # as nested CTEs and computes recall@10 per family in SQL — the grid
    # itself hash-certified, not just its members (r8 verdict #7)
    sql["compressed_tradeoff"] = f"""
        WITH exact5 AS ({sql["knn_l2"]}),
             sq8r AS ({sql["sq8_search"]}),
             bqr AS ({sql["bq_search"]}),
             mrlr AS ({sql["mrl_search"]}),
             pqr AS ({sql["pq_adc_topk"]}),
             exactpq AS (
                SELECT vec_id FROM (
                  SELECT vec_id,
                         row_number() OVER (
                           ORDER BY round(list_sum(list_transform(
                                      range(1, len(dv)+1),
                                      i -> (dv[i]-qv[i])*(dv[i]-qv[i]))), 5) ASC,
                                    vec_id ASC) AS rn
                  FROM (SELECT vec_id, embedding::DOUBLE[] AS dv,
                               {_ivf_qv_sql()} AS qv
                        FROM embeddings)
                ) WHERE rn <= 10),
             m AS (SELECT
                (SELECT count(*) FROM sq8r s JOIN exact5 e
                   ON e.query_id = s.query_id AND e.vec_id = s.vec_id) AS n_sq8,
                (SELECT count(*) FROM bqr WHERE vec_id IN
                   (SELECT vec_id FROM exact5 WHERE query_id = 0)) AS n_bq,
                (SELECT count(*) FROM mrlr WHERE vec_id IN
                   (SELECT vec_id FROM exact5 WHERE query_id = 0)) AS n_mrl,
                (SELECT count(*) FROM pqr WHERE vec_id IN
                   (SELECT vec_id FROM exactpq)) AS n_pq)
        SELECT 'float32' AS family, 'exact scan' AS config,
               CAST({4 * EMB_DIM} AS BIGINT) AS bytes_per_vec, 1.0 AS recall FROM m
        UNION ALL SELECT 'sq8', 'dequantized scan', {EMB_DIM},
               round(n_sq8 / 50.0, 6) FROM m
        UNION ALL SELECT 'bq', 'hamming x4 + rerank', {EMB_DIM // 8},
               round(n_bq / 10.0, 6) FROM m
        UNION ALL SELECT 'mrl', 'prefix 16 of 64 + rerank', {EMB_DIM},
               round(n_mrl / 10.0, 6) FROM m
        UNION ALL SELECT 'pq_adc', 'slice codebook 4x8', 4,
               round(n_pq / 10.0, 6) FROM m
    """
    return sql


def oracle_sql() -> dict[str, str]:
    """All float rounding rewritten to the engine-portable floor-form so both
    engines round bit-identically (see functions/portable.py)."""
    return {name: portable_round_sql(sql) for name, sql in _oracle_sql_raw().items()}


def manifest() -> dict:
    """Full query registry with oracle availability — the driver-facing list of
    every query the CORRECTNESS gate should cover (VERDICT r6 item 1: 16 of 66
    registered queries had no driver row). `write_manifest()` persists it to
    queries_manifest.json at bench time and at import in the repo root."""
    qs = queries()
    osql = oracle_sql()
    return {
        "count": len(qs),
        "queries": sorted(qs),
        "oracle_sql": sorted(n for n in qs if n in osql),
        "rows_only": sorted(n for n in qs if n not in osql),
    }


def write_manifest(path: str | None = None) -> str:
    import json
    import os

    if path is None:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries_manifest.json")
    with open(path, "w") as f:
        json.dump(manifest(), f, indent=1, sort_keys=True)
        f.write("\n")
    return path
