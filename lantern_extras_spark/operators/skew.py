"""Skew diagnostics and skew-safe joins — the operational tooling the 100 TB
checklist demands ("skewed keys hurt; salting for skew").

Reference parity: the reference engine is single-node and has no shuffle, so
it never needs this — the module is part of the beyond-reference scale
surface (same charter as `operators/dedup.py`), built from the standard
published playbook for distributed joins (e.g. the salted-join pattern in
Spark's own AQE skew-join docs and the classic MapReduce skew literature).

Why each op is scale-shaped:

- `skew_report` answers "is this key safe to shuffle on" BEFORE the join
  melts an executor: one map-side-combining groupBy over the key (the Zipf
  head collapses in the combine), TakeOrderedAndProject for the top-k, a
  broadcast one-row total. Exact counts, so the report is engine-replayable
  by a plain GROUP BY — the DuckDB oracle certifies it.
- `salted_join` spreads a hot key across `salt` reducers: the LEFT (big,
  skewed) side gets a deterministic salt in [0, salt); the RIGHT side is
  replicated salt× via a small explode; the equi-join runs on (key, salt).
  ANY salt assignment yields the identical result to the plain join (each
  left row meets exactly the one replica with its salt), so the result is
  oracle-certified against the PLAIN SQL join while the plan spreads the
  hot key's probe across `salt` partitions. Cost: right-side shuffle volume
  ×salt — the pattern fits a big skewed fact joining a small/medium dim
  that is too large to broadcast but cheap to replicate a few times.
  (Spark's AQE skew-join only splits SORT-MERGE join partitions post-hoc;
  explicit salting also covers hash joins, pre-AQE engines, and the
  deliberate-layout case where downstream ops reuse the salted key.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["skew_report", "salted_join"]


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Per-key skew profile of a prospective shuffle key: the `top_k`
    heaviest keys with exact counts, their share of all rows, and the salt
    factor that would bound the hottest key at `target_rows_per_task` rows
    per reducer (ceil(n / target), min 1) — the number you pass to
    `salted_join`. NULL keys are profiled too (they hash to one reducer
    like any other value).

    Plan: one groupBy(key) with map-side partial counts (the skewed head is
    exactly what combines best), TakeOrderedAndProject for the top-k,
    broadcast of the 1-row total. Nothing scales with key cardinality but
    the combine-reduced exchange.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if target_rows_per_task < 1:
        raise ValueError(
            f"target_rows_per_task must be >= 1, got {target_rows_per_task}"
        )
    total = df.agg(F.count("*").alias("__total"))
    counts = df.groupBy(F.col(key_col)).agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col(key_col).asc()).limit(top_k)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.col(key_col),
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") / F.col("__total")).alias("share"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n") / F.lit(float(target_rows_per_task))),
            ).cast("bigint").alias("salt_factor"),
        )
    )


def _left_salt_expr(left: DataFrame, salt: int, salt_seed: str):
    """The left-side salt assignment used by `salted_join` (exposed so tests
    pin the spread property against the real expression)."""
    lcols = [F.col(c) for c in left.columns]
    return F.pmod(
        F.xxhash64(*lcols, F.monotonically_increasing_id(), F.lit(salt_seed)),
        F.lit(salt),
    ).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
    salt_seed: str = "salt",
    shuffle_hash_hint: bool = True,
) -> DataFrame:
    """Skew-safe equi-join: identical rows to ``left.join(right, on, how)``,
    with the hot key's work spread across `salt` reducers.

    `shuffle_hash_hint` (r14, ADVICE): the default SHUFFLE_HASH hint on the
    replicated right side skips both sort-merge sorts (0.39x measured), but a
    ShuffledHashJoin build side does NOT spill — callers whose replicated
    right slice may exceed executor memory should pass False to restore
    planner choice (sort-merge) per call. (For how='right'/'full' Spark would
    ignore the hint anyway — those forms raise here regardless, see below.)

    Left rows get a deterministic pseudo-uniform salt
    ``pmod(xxhash64(key, seed), salt)``; right rows are replicated once per
    salt value (posexplode over a salt-length array — right shuffle volume
    ×salt); the join key becomes (key, salt). Every left row matches
    exactly the one replica carrying its salt, so the output is the plain
    join's for ANY salt assignment — correctness does not depend on the
    hash spreading evenly, only the load balance does. Supports how in
    {inner, left, left_outer}: the replicated-right forms where null-extended
    rows cannot duplicate. (right/full outer would emit one null-extended
    row PER REPLICA for unmatched right rows — structurally wrong under
    replication, so they raise.)
    """
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left/left_outer, got {how!r} — "
            "right/full outer joins would duplicate null-extended rows per "
            "replica; salt the other side instead."
        )
    if "__salt" in left.columns or "__salt" in right.columns:
        raise ValueError(
            "salted_join: a __salt column already exists on an input — "
            "rename it first (the op stages its own __salt key)."
        )
    # salting by a hash OF THE KEY alone would send the hot key to one
    # reducer again — the salt must vary per ROW. Hashing the whole row is
    # not enough either: fully duplicate rows (a common shape of hot-key
    # skew, e.g. repeated identical events) would all collide on one salt
    # and the hot key would stay unspread. Any assignment is correct (see
    # docstring), so mix in monotonically_increasing_id() — a per-row
    # disambiguator (partition id << 33 | row position) that spreads exact
    # duplicates too. It is stable within one plan execution (the salt
    # travels with the row through the shuffle), which is all correctness
    # needs; across runs the assignment may differ, the output never does.
    l2 = left.withColumn("__salt", _left_salt_expr(left, salt, salt_seed))
    r2 = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    # r13 (guide §3.1 pick the strategy deliberately): build a per-partition
    # hash table over the REPLICATED side instead of sort-merging — skipping
    # the sorts of both shuffled sides measured 0.39x on the bench join.
    # Replication x salt already presumes the right side is the small one,
    # and the salt bounds each reducer's build at ~|right|/partitions rows —
    # a strictly weaker assumption than the replication itself. The hint
    # changes the join ALGORITHM only (same keys, same exchanges, identical
    # rows). shuffle_hash_hint=False restores planner choice (sort-merge)
    # for a right side too large to hash-build per partition.
    if shuffle_hash_hint:
        r2 = r2.hint("SHUFFLE_HASH")
    out = l2.join(r2, on=[on, "__salt"], how=how)
    return out.drop("__salt")
