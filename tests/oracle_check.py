"""Harness mirroring the driver's DuckDB-oracle comparison: for each query in
__spark_entry__.queries() with an oracle_sql() entry, run both at a scale
factor and compare row count, column names, and an order-insensitive value
hash (columns sorted by name, values normalized). Used by tests and by hand.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm_val(v: Any) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_val(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    cols = sorted(df.columns)
    rows = ["|".join(_norm_val(v) for v in rec) for rec in df[cols].itertuples(index=False)]
    rows.sort()
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), tuple(cols), h


def _dtype_kinds(df: pd.DataFrame) -> dict[str, str]:
    """Numpy dtype 'kind' per column ('i' int, 'f' float, 'O' object, ...).

    The driver's hash normalizer distinguishes int 7 from float 7.0 (our
    _norm_val does not, to tolerate formatting differences), so an int-vs-float
    column mismatch passes locally but fails the driver gate — e.g. DuckDB
    summing integers to HUGEINT, which pandas materializes as float64. Comparing
    kinds catches that class of bug locally.
    """
    return {c: df[c].dtype.kind for c in df.columns}


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> dict:
    n1, c1, h1 = frame_fingerprint(spark_df)
    n2, c2, h2 = frame_fingerprint(oracle_df)
    k1, k2 = _dtype_kinds(spark_df), _dtype_kinds(oracle_df)
    return {
        "rows_match": n1 == n2,
        "cols_match": c1 == c2,
        "hash_match": h1 == h2,
        "kinds_match": k1 == k2,
        "spark": (n1, c1, h1),
        "oracle": (n2, c2, h2),
        "spark_kinds": k1,
        "oracle_kinds": k2,
    }


def driver_caps() -> tuple:
    """(module, name) of every size cap that picks a driver-side shortcut
    over a distributed fallback. Setting them all to 0 runs the distributed
    branches at test scale. `knn.MAX_COLLECTED_QUERIES` is left out: knn
    falls back to a hash split above it, but at 0 no query block fits
    (chunk_size must stay within half the cap). Its split is covered by the
    `knn_chunked` oracle query and the shrunken-cap tests in
    `tests/test_knn.py`."""
    from lantern_extras_spark.operators import bloom, dedup, selection, textstats

    return (
        (dedup, "DRIVER_CC_MAX_EDGES"),
        (bloom, "DRIVER_BUILD_MAX_KEYS"),
        (selection, "DSIR_MAT_MAX_DOCS"),
        (textstats, "KWLBL_LIT_MAX_KW"),
    )


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, dict]:
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    con = duck_con(sf_dir)
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": f"spark: {e}"}
            continue
        if name not in oracles:
            results[name] = {"rows_only": len(sdf)}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results[name] = {"error": f"oracle: {e}"}
            continue
        results[name] = compare(sdf, odf)
    return results
