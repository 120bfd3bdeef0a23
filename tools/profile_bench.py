"""Per-query profiler for the optimization rounds: times each registry query
exactly like bench.py (median of N on the same action, SQL cache cleared
before each iteration), and additionally
records the Spark job count and output row count per run — the job count is
the 'how many actions/shuffle-barriers does this query pay' gauge that sf0.1
wall-clock alone hides.

Usage:
    python tools/profile_bench.py [query ...]        # default: all registry queries
    SPARK_GRAFT_PROFILE_OUT=/tmp/prof.json python tools/profile_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lantern_extras_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    spark = get_spark("lantern-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    spark.range(1000).select(F.sum("id")).collect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").foreach(lambda r: None)
    E._events(spark, SF_DIR).foreach(lambda r: None)
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").foreach(lambda r: None)

    qs = E.queries()
    names = sys.argv[1:] or list(qs)
    n_iter = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        runs = []
        jobs_before = jobs_after = 0
        for i in range(n_iter):
            if i == 0:
                jobs_before = len(sc.statusTracker().getJobIdsForGroup(None)) \
                    if hasattr(sc.statusTracker(), "getJobIdsForGroup") else 0
            sc.setJobDescription(f"profile:{name}")
            # cold per iteration, as bench.py: no cached relation carries over
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.monotonic() - t0)
            if i == 0:
                jobs_after = len(sc.statusTracker().getJobIdsForGroup(None)) \
                    if hasattr(sc.statusTracker(), "getJobIdsForGroup") else 0
        sc.setJobDescription(None)
        runs.sort()
        out[name] = {
            "median": round(runs[len(runs) // 2], 3),
            "min": round(runs[0], 3),
            "jobs_first_run": jobs_after - jobs_before,
        }
        print(f"{out[name]['median']:8.3f}s  min {out[name]['min']:8.3f}s  "
              f"jobs {out[name]['jobs_first_run']:3d}  {name}", flush=True)

    dest = os.environ.get("SPARK_GRAFT_PROFILE_OUT", "/tmp/profile_bench.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    total_med = round(sum(v["median"] for v in out.values()), 3)
    total_min = round(sum(v["min"] for v in out.values()), 3)
    print(f"TOTAL median {total_med}s  min {total_min}s  ({len(out)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
