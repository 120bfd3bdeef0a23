"""The module-level plan memos stay bounded: one application's entries at
most, and one scan entry per path however often the file is rewritten."""

import os

from pyspark.sql import functions as F

import __spark_entry__ as E
from lantern_extras_spark.operators import selection as SEL

SF = "/root/testdata/sf0.001"


def test_scan_memo_replaces_stale_entries(spark, monkeypatch):
    path = f"{SF}/documents.parquet"
    app = spark.sparkContext.applicationId
    stale = spark.range(1)
    memo = {
        ("app-stopped", path): (0.0, stale),
        ("app-stopped", f"{SF}/orders.parquet"): (0.0, stale),
        (app, path): (os.path.getmtime(path) - 1.0, stale),
    }
    monkeypatch.setattr(E, "_SCAN_MEMO", memo)
    df = E._read_parquet_memo(spark, path)
    assert df is not stale
    assert list(memo) == [(app, path)]
    assert memo[(app, path)] == (os.path.getmtime(path), df)
    assert E._read_parquet_memo(spark, path) is df  # a hit reuses the plan


def test_probe_memo_drops_other_applications(spark, monkeypatch):
    keys = spark.range(5).select(F.col("id").alias("doc_id"))
    memo = {("app-stopped", 10, 123): True}
    monkeypatch.setattr(SEL, "_PROBE_MEMO", memo)
    assert SEL._probe_under_cap(keys, 10) is True
    assert SEL._probe_under_cap(keys, 4) is False
    app = spark.sparkContext.applicationId
    assert sorted(memo) == sorted(
        [(app, 10, keys.semanticHash()), (app, 4, keys.semanticHash())]
    )
