"""Focused tests for the r13 `_spread` input-skew mitigation (optimization
guide §2.5): single-row-group testdata parquet cannot be split by the scan,
so opted-in queries repartition to defaultParallelism right after the read —
conditionally, so a well-split input (the 100 TB case) keeps its plain scan."""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_spread_recovers_parallelism(spark):
    """r14: the spread count follows DATA SIZE (>= SPREAD_TARGET_BYTES per
    partition), clamped to [2, cores] — repartition(cores) over-fanned tiny
    inputs (verdict item 2)."""
    df = E._t(spark, SF, "documents", spread=True)
    size = os.path.getsize(f"{SF}/documents.parquet")
    cores = spark.sparkContext.defaultParallelism
    expected = max(2, min(cores, size // E.SPREAD_TARGET_BYTES))
    assert df.rdd.getNumPartitions() == expected


def test_unspread_single_partition(spark):
    df = E._t(spark, SF, "documents", spread=False)
    assert df.rdd.getNumPartitions() == 1  # single row group = one split


def test_spread_is_conditional_on_input_layout(spark):
    """A file large enough to split to >= cores on its own must NOT pay the
    repartition — simulated by shrinking maxPartitionBytes below file size
    so the size heuristic sees a well-split input."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        df = E._t(spark, SF, "documents", spread=True)
        # no Exchange in the plan: the conditional said "already parallel"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_preserves_rows_and_pushdown(spark):
    """Round-robin spread must not change results, and filters/pruning must
    still reach the parquet scan below the exchange."""
    from lantern_extras_spark.plans import assert_column_pruned, assert_filter_pushed

    plain = E._t(spark, SF, "documents", spread=False)
    spread = E._t(spark, SF, "documents", spread=True)
    assert plain.count() == spread.count()
    probe = spread.where(F.col("doc_id") < 10).select("doc_id", "text")
    assert_filter_pushed(probe, "LessThan(doc_id,10)")
    assert_column_pruned(probe, "lang")
