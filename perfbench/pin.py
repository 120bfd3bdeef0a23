"""Pin the registry workloads' output fingerprints (``fingerprints.json``).

Runs every registry step once over the fixed benchmark tables, fingerprints
its output with ``tests/oracle_check.py``'s order-insensitive normalisation,
and cross-checks it against the step's DuckDB oracle SQL. Invoked through
``python3 perfbench/run.py --workload search_dedup --pin``.
"""

from __future__ import annotations

import json
import os
import shutil

from perfbench import workloads as W

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main(cores: int) -> int:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import duckdb

    import __spark_entry__ as E
    from lantern_extras_spark import get_spark
    from tests.oracle_check import compare, frame_fingerprint

    data = os.path.join(ROOT, ".perfbench", "pin-data")
    shutil.rmtree(data, ignore_errors=True)
    tables = W.write_registry_tables(data)
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    spark = get_spark("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = E.queries(), E.oracle_sql()
    out: dict = {"tables": tables, "table_seed": W.TABLE_SEED, "oracle": {}}
    ok = True
    try:
        for workload, steps in W.REGISTRY_WORKLOADS.items():
            pins = out.setdefault(workload, {})
            for name in steps:
                pdf = qs[name](spark, data).toPandas()
                n, _cols, h = frame_fingerprint(pdf)
                pins[name] = [n, h]
                verdict = compare(pdf, con.sql(oracles[name]).df())
                match = verdict["rows_match"] and verdict["hash_match"]
                out["oracle"][name] = "match" if match else "MISMATCH"
                ok &= match
                print(f"{workload:<14} {name:<24} rows {n:>5}  oracle {out['oracle'][name]}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(data, ignore_errors=True)
    with open(os.path.join(BENCH_DIR, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0 if ok else 1
