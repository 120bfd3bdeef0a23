"""Emit a full-harness oracle certification artifact (ORACLE_FULL_r{N}.json).

The driver's per-round CORRECTNESS gate samples a subset of the registry
(50 of 83+ queries in r7); this script runs `tests/oracle_check.run_all`
over EVERY registered query at sf0.01 and writes a committed JSON so the
judge can review the certification without a live re-run (r7 verdict item 5).

Usage:
    python tools/oracle_full.py [round_number] [sf_dir] [--forced]
writes ORACLE_FULL_r{N}.json at the repo root with a summary header plus the
per-query rows/cols/hash comparison verdicts.

--forced sets every driver-shortcut size cap (`oracle_check.driver_caps`)
to 0 before the run, so each cap-gated operator takes its distributed
fallback (the path that runs at scale), and writes
ORACLE_FULL_forced_r{N}.json instead.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    forced = "--forced" in sys.argv
    if forced:
        sys.argv.remove("--forced")
    rnd = sys.argv[1] if len(sys.argv) > 1 else "0"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from lantern_extras_spark import get_spark
    from tests.oracle_check import driver_caps, run_all

    caps = driver_caps() if forced else ()
    for mod, cap in caps:
        setattr(mod, cap, 0)
    spark = get_spark()
    try:
        results = run_all(spark, sf_dir)
    finally:
        spark.stop()

    def _green(r: dict) -> bool:
        if "error" in r:
            return False
        if "rows_only" in r:  # non-SQL-expressible op: weaker rows-only check
            return True
        return bool(r["rows_match"] and r["cols_match"] and r["hash_match"])

    per_query = {
        name: (
            {"error": r["error"]}
            if "error" in r
            else {"rows_only": r["rows_only"]}
            if "rows_only" in r
            else {
                "rows_match": r["rows_match"],
                "cols_match": r["cols_match"],
                "hash_match": r["hash_match"],
                "kinds_match": r["kinds_match"],
                "rows": r["spark"][0],
                "hash": r["spark"][2],
            }
        )
        for name, r in sorted(results.items())
    }
    out = {
        "sf_dir": sf_dir,
        "forced_caps": [f"{mod.__name__}.{cap}" for mod, cap in caps],
        "n_queries": len(results),
        "n_green": sum(_green(r) for r in results.values()),
        "n_hash_checked": sum(1 for r in results.values()
                              if "error" not in r and "rows_only" not in r),
        "queries": per_query,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        f"ORACLE_FULL_{'forced_' if forced else ''}r{rnd}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    print(f"{path}: {out['n_green']}/{out['n_queries']} green "
          f"({out['n_hash_checked']} hash-checked)")
    return 0 if out["n_green"] == out["n_queries"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
