"""Bloom-prefiltered joins: membership pruning BEFORE the shuffle.

The scale problem: `big.join(keys, semi)` shuffles every row of the big side,
even though almost none of them match when `keys` is selective. The classic
fix — which Spark's own runtime row-filter optimization applies only in
narrow cases — is to build a Bloom filter over the key side, broadcast it,
and drop non-members during the big-side SCAN, so the shuffle carries only
plausible matches plus a bounded false-positive residue. With `exact=True`
an ordinary semi/anti join over the surviving sliver removes the false
positives, so the result is EXACTLY the plain join's (the DuckDB oracle for
`bloom_semi_join` is a plain EXISTS) — for ANY position hash, which is why
the fast engine-native hash is the default.

Positions use Kirsch-Mitzenmacher double hashing (pos_i = h1 + i·h2 mod m,
h2 forced odd so it cycles the power-of-two m): two hash evaluations per key
instead of k, asymptotically the same false-positive rate.

Two position-hash kinds:
- 'xxhash64' (default): Spark's native hash — the big-side scan costs two
  cheap JVM hashes per row (measured 3.5× faster than the md5 form on a
  600k-row scan). Filter content is Spark-specific.
- 'md5': `hash32`-based positions, bit-identical in Spark, DuckDB and
  Python (`contains_py`) — the portable kind, for filters that must be
  rebuilt/reused across engines.

Three membership paths. mode="auto" picks literal or broadcast by filter
size; subquery is chosen explicitly (decontaminate uses it for mid-sized
filters, whose probe runs inside a codegen pipeline):
- literal (tiny filters, <= LITERAL_MAX_WORDS words): the word array rides in
  the plan as a (constant-folded) literal and the probes are pure Column
  arithmetic — whole-stage codegen, zero Python. The md5 kind probes inside
  ONE `aggregate` fold so the two md5 evaluations happen once per row
  (Spark's subexpression elimination does not reach across short-circuited
  AND branches — measured 1.7× faster); the xxhash kind uses the plain
  short-circuiting conjunction (recomputing a cheap hash beats the fold's
  struct traffic).
- subquery (mid-sized filters, <= SUBQUERY_MAX_WORDS words; r13): identical
  probe arithmetic, but the word array arrives through a non-correlated
  scalar subquery over a one-row local relation instead of a plan literal.
  A literal this size is repeated once per probe in the plan (measured:
  bloom_semi_join's plan was 1.2 MB of text) and re-pays py4j transfer,
  analysis, optimizer traversal and codegen EVERY run; the subquery keeps
  the plan O(1) while codegen still sees a constant bitmap. xxhash64 only
  (a subquery cannot appear inside the md5 fold's lambda).
- broadcast (auto above LITERAL_MAX_WORDS): h1/h2 are computed ENGINE-SIDE,
  and an Arrow-batched pandas UDF does the k bitmap gathers fully vectorized
  in numpy over the broadcast word array — no per-row Python hashing for
  either kind, and the bitmap ships once per executor instead of riding
  each stage's task binary.

At 10 bits/key the false-positive rate is ~1%; the filter for 100M keys is
~125 MB — broadcastable where the raw 100M keys are not.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lantern_extras_spark.functions.hashing import hash32
from lantern_extras_spark.session import local_frame

LITERAL_MAX_WORDS = 256    # above this (16 KiB of plan literal) auto uses broadcast
SUBQUERY_MAX_WORDS = 131072  # largest filter decontaminate probes by subquery (1 MiB per task binary)
DRIVER_BUILD_MAX_KEYS = 2_000_000  # driver-side build cap: 16 B/key collect (32 MB)
HASH_KINDS = ("xxhash64", "md5")


def _hash_cols(key_str_col: Column, hash_kind: str) -> tuple[Column, Column]:
    """(h1, h2) for double hashing; both masked to 31 bits so k·h2 additions
    never overflow a signed long under ANSI arithmetic; h2 forced odd."""
    if hash_kind == "xxhash64":
        h1 = F.xxhash64(key_str_col).bitwiseAND(F.lit(0x7FFFFFFF))
        h2 = F.xxhash64(key_str_col, F.lit(1)).bitwiseAND(F.lit(0x7FFFFFFF))
    elif hash_kind == "md5":
        h1 = hash32(key_str_col, seed=0)
        h2 = hash32(key_str_col, seed=1)
    else:
        raise ValueError(f"bloom: unknown hash kind {hash_kind!r} (use {HASH_KINDS})")
    return h1, h2.bitwiseOR(F.lit(1))


class BloomFilter:
    """Immutable built filter: 64-bit words + geometry + position-hash kind.
    `m` is a power of two so position = hash & (m-1) (no modulo)."""

    def __init__(self, words: list[int], m: int, k: int, n: int,
                 hash_kind: str = "xxhash64"):
        self.words = words
        self.m = m
        self.k = k
        self.n = n
        self.hash_kind = hash_kind

    def contains_py(self, key: str) -> bool:
        """Driver-side membership — md5-kind filters only (xxhash64 is a JVM
        hash with no stdlib equivalent; use the Column paths for it)."""
        if self.hash_kind != "md5":
            raise NotImplementedError(
                "contains_py requires a hash_kind='md5' filter (the portable "
                "kind); xxhash64 positions are only computable engine-side"
            )
        h1 = int(hashlib.md5(f"0:{key}".encode()).hexdigest()[:8], 16)
        h2 = int(hashlib.md5(f"1:{key}".encode()).hexdigest()[:8], 16) | 1
        for i in range(self.k):
            h = (h1 + i * h2) & (self.m - 1)
            if not (self.words[h >> 6] >> (h & 63)) & 1:
                return False
        return True

    @property
    def fp_rate_estimate(self) -> float:
        """Theoretical false-positive rate (1 − e^{−kn/m})^k."""
        return (1.0 - math.exp(-self.k * self.n / self.m)) ** self.k


def bloom_build(
    keys: DataFrame,
    key_col: str,
    bits_per_key: int = 10,
    k_hashes: int = 5,
    m_bits: int | None = None,
    hash_kind: str = "xxhash64",
    n: int | None = None,
) -> BloomFilter:
    """Build a Bloom filter over a key column, distributed: k double-hash
    positions per key explode into (word, bit) pairs, one partial-aggregated
    groupBy(word) bit_ors them, and only the m/64-word bitmap is collected
    (16 MiB at m=2^30 — the driver never sees the keys).

    Keys are hashed as strings (`CAST(key AS STRING)`) so the same filter
    admits the same values regardless of the column's physical type.
    Pass `n` (the key count) to skip the sizing count job — the join
    helpers pass it from their cached distinct-key frame."""
    if n is None:
        n = keys.count()
    if n == 0:
        return BloomFilter([0], 64, k_hashes, 0, hash_kind)
    if m_bits is None:
        m_bits = max(1024, 1 << math.ceil(math.log2(max(1, n * bits_per_key))))
    if m_bits & (m_bits - 1):
        raise ValueError("bloom_build: m_bits must be a power of two")
    key = F.col(key_col).cast("string")
    h1, h2 = _hash_cols(key, hash_kind)
    if n <= DRIVER_BUILD_MAX_KEYS:
        # r13 fast path, scale-adaptive (the dsir_select small-n discipline):
        # for bounded key counts, collect the two ENGINE-computed hash values
        # (16 bytes/key — 32 MB at the 2M-key cap) and set the bits in one
        # numpy pass on the driver. Replaces the explode -> groupBy(word) ->
        # collect build JOB (a full shuffle, ~1 s of fixed stage cost at any
        # size) with a single narrow collect; the distributed build remains
        # the path for larger key sets, where driver traffic would scale
        # with n. Positions are identical by construction (same h1/h2
        # Columns, same double-hash arithmetic), pinned by test.
        import numpy as np

        pdf = keys.select(h1.alias("__h1"), h2.alias("__h2")).toPandas()
        a = pdf["__h1"].to_numpy(dtype=np.int64)
        b = pdf["__h2"].to_numpy(dtype=np.int64)
        words_arr = np.zeros(m_bits // 64, dtype=np.uint64)
        for i in range(k_hashes):
            pos = (a + i * b) & (m_bits - 1)
            np.bitwise_or.at(
                words_arr, pos >> 6,
                np.uint64(1) << (pos & 63).astype(np.uint64),
            )
        return BloomFilter(
            words_arr.view(np.int64).tolist(), m_bits, k_hashes, n, hash_kind
        )
    positions = F.array(
        *[(h1 + F.lit(i) * h2).bitwiseAND(F.lit(m_bits - 1)) for i in range(k_hashes)]
    )
    rows = (
        keys.select(F.explode(positions).alias("__pos"))
        .select(
            F.shiftright(F.col("__pos"), 6).alias("__w"),
            (F.col("__pos").bitwiseAND(F.lit(63))).alias("__b"),
        )
        # 2^bit as a bigint: shiftleft's amount must be a literal, so look the
        # power of two up in a 64-entry literal table instead
        .select("__w", F.element_at(
            F.lit([1 << b for b in range(63)] + [-(1 << 63)]).cast("array<bigint>"),
            (F.col("__b") + 1).cast("int"),
        ).alias("__m"))
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__word"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["__w"]] = int(r["__word"])
    return BloomFilter(words, m_bits, k_hashes, n, hash_kind)


def bloom_might_contain(
    bf: BloomFilter,
    key: Column | str,
    mode: str = "auto",
    spark=None,
) -> Column:
    """Boolean membership Column for `key` against a built filter (see the
    module docstring for the literal/broadcast path trade-offs)."""
    col = (F.col(key) if isinstance(key, str) else key).cast("string")
    if mode == "auto":
        # r13 (guide §4.2): for mid/large bitmaps the vectorized numpy probe
        # over an Arrow batch beats the per-row JVM expression chain (5x
        # getbit/element_at per row) — measured 0.45x on the 600k-row
        # prefilter scan with a 4096-word filter. h1/h2 are computed
        # engine-side so only 16 B/row cross the Python boundary. The
        # scalar-subquery probe stays selectable with mode="subquery".
        mode = "literal" if len(bf.words) <= LITERAL_MAX_WORDS else "broadcast"
    if mode in ("literal", "subquery"):
        if mode == "subquery":
            # r13 optimization (guide §7.2/§1.2): a mid-sized bitmap as a plan
            # LITERAL repeats the whole word array once per double-hash probe —
            # bloom_semi_join's plan measured 1.2 MB of text (15 printed copies
            # of a 4096-word array), and every run re-pays py4j transfer,
            # analysis, optimizer traversal and codegen over it. Shipping the
            # SAME array as a non-correlated scalar subquery over a one-row
            # local relation keeps the plan O(1): the probes reference the
            # executed subquery result (plan shrank to ~4 KB, identical
            # probe arithmetic, bit-identical membership).
            import uuid

            from pyspark.sql import SparkSession

            sess = spark or SparkSession.getActiveSession()
            view = f"__bloom_words_{uuid.uuid4().hex}"
            local_frame(sess, [(bf.words,)], "w: array<bigint>").createOrReplaceTempView(view)
            words_lit = F.expr(f"(select w from {view})")
        else:
            words_lit = F.lit(bf.words).cast("array<bigint>")
        mask = F.lit(bf.m - 1)
        h1, h2 = _hash_cols(col, bf.hash_kind)

        def _bit(pos: Column) -> Column:
            word = F.element_at(words_lit, (F.shiftright(pos, 6) + 1).cast("int"))
            return F.getbit(word, pos.bitwiseAND(F.lit(63))) == 1

        if bf.hash_kind == "xxhash64" or mode == "subquery":
            # cheap hash: short-circuiting conjunction, recomputation is fine.
            # (An explicitly requested md5 subquery probe also lands here —
            # the md5 fold below cannot host a subquery inside its lambda —
            # trading k-fold md5 recomputation for the O(1) plan.)
            cond = F.lit(True)
            for i in range(bf.k):
                cond = cond & _bit((h1 + F.lit(i) * h2).bitwiseAND(mask))
            return cond
        # md5: evaluate the two hashes ONCE per row in the fold's zero struct
        zero = F.struct(h1.alias("h1"), h2.alias("h2"), F.lit(True).alias("ok"))

        def _probe(acc, i):
            pos = (acc["h1"] + i * acc["h2"]).bitwiseAND(mask)
            ok = acc["ok"] & _bit(pos)
            return F.struct(acc["h1"].alias("h1"), acc["h2"].alias("h2"), ok.alias("ok"))

        return F.aggregate(
            F.sequence(F.lit(0).cast("long"), F.lit(bf.k - 1).cast("long")),
            zero, _probe, lambda acc: acc["ok"],
        )
    if mode == "broadcast":
        import numpy as np
        from pyspark.sql import SparkSession

        sess = spark or SparkSession.getActiveSession()
        bc = sess.sparkContext.broadcast(
            (np.array(bf.words, dtype=np.int64).astype(np.uint64), bf.m, bf.k)
        )
        h1, h2 = _hash_cols(col, bf.hash_kind)

        @F.pandas_udf("boolean")
        def _member(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            words, m, k = bc.value
            a = h1s.to_numpy(dtype=np.int64)
            b = h2s.to_numpy(dtype=np.int64)
            ok = np.ones(len(a), dtype=bool)
            for i in range(k):
                pos = (a + i * b) & (m - 1)
                bit = (words[pos >> 6] >> (pos & 63).astype(np.uint64)) & 1
                ok &= bit.astype(bool)
            return pd.Series(ok)

        return _member(h1, h2)
    raise ValueError(f"bloom_might_contain: unknown mode {mode!r}")


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_col: str,
    key_col: str | None = None,
    bf: BloomFilter | None = None,
    exact: bool = True,
    mode: str = "auto",
    bits_per_key: int = 10,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Semi join with a Bloom prefilter: the big side is pruned during its
    scan (narrow, codegen) and only plausible matches reach the exact
    left_semi join that removes false positives. With exact=False the
    (bounded-FP) prefilter output is returned directly — the streaming-
    friendly form when a ~1% admission error is acceptable and the join
    shuffle is not.

    Pass a prebuilt `bf` to amortize the filter across several joins.

    Caching: with bf=None and exact=True the distinct-key frame stays
    persisted because the returned plan's confirm join reads it — the
    CALLER owns its lifetime (it is unpersisted by Spark's LRU, or
    explicitly via `spark.catalog.clearCache()` / acting on the returned
    plan once and discarding it). With exact=False it is unpersisted here
    before returning (the prefilter output never references it)."""
    key_col = key_col or big_col
    kk = keys.select(F.col(key_col).alias(big_col)).distinct()
    if bf is None:
        # the distinct-key frame feeds the sizing count, the position
        # explode AND (exact=True) the confirm join — persist it so the
        # distinct shuffle runs once, and size from the cached count
        kk = kk.persist()
        bf = bloom_build(kk, big_col, bits_per_key, hash_kind=hash_kind,
                         n=kk.count())
        if not exact:
            # the returned plan never references kk — holding the cache
            # would leak one relation per call until LRU eviction
            kk.unpersist()
    pre = big.where(bloom_might_contain(bf, big_col, mode=mode, spark=big.sparkSession))
    if not exact:
        return pre
    return pre.join(kk, on=big_col, how="left_semi")


def bloom_anti_join(
    big: DataFrame,
    keys: DataFrame,
    big_col: str,
    key_col: str | None = None,
    bf: BloomFilter | None = None,
    mode: str = "auto",
    bits_per_key: int = 10,
    hash_kind: str = "xxhash64",
    single_scan: bool = True,
) -> DataFrame:
    """Anti join with a Bloom prefilter. Bloom filters have no false
    negatives, so rows FAILING the membership test are definite non-members
    and bypass the join entirely; only the plausible sliver pays the exact
    left_anti join. Unlike the semi form, the non-members must be EMITTED
    (not dropped), so the plan is inherently a two-branch union.

    With ``single_scan=True`` (default) the flagged projection
    ``big + __m`` is persisted (MEMORY_AND_DISK) so the source is read and
    the membership probe computed ONCE; both union branches re-read the
    cached flags. With ``single_scan=False`` the source is scanned twice —
    cheaper when the source is columnar-compressed, the probe is the literal
    codegen path, and materializing the full row width would dominate; the
    single-scan default wins whenever the probe runs the broadcast
    pandas-UDF path (the probe, not the IO, is the bottleneck there).

    Always exact (the anti join removes the false-positive admissions).

    Caching: with bf=None the distinct-key frame stays persisted (the
    confirmed branch of the returned plan reads it), and with
    single_scan=True so does the flagged projection — the CALLER owns both
    lifetimes (act on the returned plan, then let LRU evict or clear the
    cache explicitly)."""
    key_col = key_col or big_col
    if single_scan and "__m" in big.columns:
        raise ValueError(
            "bloom_anti_join: a __m column already exists on the big side — "
            "rename it first (single_scan stages its own __m flag), or pass "
            "single_scan=False."
        )
    kk = keys.select(F.col(key_col).alias(big_col)).distinct()
    if bf is None:
        # one distinct shuffle feeds sizing count + build + confirm join
        kk = kk.persist()
        bf = bloom_build(kk, big_col, bits_per_key, hash_kind=hash_kind,
                         n=kk.count())
    might = bloom_might_contain(bf, big_col, mode=mode, spark=big.sparkSession)
    if single_scan:
        flagged = big.withColumn("__m", might).persist()
        definite_out = flagged.where(~F.col("__m")).drop("__m")
        confirmed_out = (
            flagged.where(F.col("__m")).drop("__m")
            .join(kk, on=big_col, how="left_anti")
        )
        return definite_out.unionByName(confirmed_out)
    definite_out = big.where(~might)
    confirmed_out = big.where(might).join(kk, on=big_col, how="left_anti")
    return definite_out.unionByName(confirmed_out)
