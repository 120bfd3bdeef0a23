"""Quick min-of-N noop-sink timer for named registry queries (r13 tooling).

Usage: python tools/time_queries.py <query> [query ...]   (env N_ITERS, default 3)
Prints one line per query: name min median [all iters].
"""
from __future__ import annotations

import os
import statistics
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lantern_extras_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("N_ITERS", "3"))


def main() -> None:
    import __spark_entry__ as E

    names = sys.argv[1:]
    spark = get_spark("lantern-time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    # warm the JVM/python worker pools
    spark.read.parquet(f"{SF_DIR}/documents.parquet").foreach(lambda r: None)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").foreach(lambda r: None)

    for name in names:
        iters = []
        for _ in range(N):
            spark.sparkContext.setJobDescription(f"time:{name}")
            # match bench.py's r14 cold-per-iteration contract
            spark.catalog.clearCache()
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            iters.append(time.monotonic() - t0)
        print(f"{name} min={min(iters):.3f} med={statistics.median(iters):.3f} {['%.3f' % x for x in iters]}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
