"""Benchmark of lantern_extras_spark: two workloads, each timed as a fresh
single-process Spark application at local[4], one step at a time.

    python3 perfbench/run.py --workload search_dedup --seed 1 --seconds 14 --trace 0

Workloads (see workloads.py): ``search_dedup`` times registry queries, split
into construct (the registry constructor) and execute (a ``noop`` sink
write); ``embed_ingest`` times the write side (embedding, CSV export, PQ
index build, incremental streaming).

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones. With ``--trace 1`` the timed rounds alternate between
traced and untraced, and the metrics are the per-layer ones parsed from the
traced rounds' Spark event log, plus the tracing overhead. Lines before it
give a readable report, including ``failed_frac``.

Other modes:
  --cpus N --counts-only   one warm-up and one traced round at local[N];
                           prints per-step jobs, stages, tasks and rows
                           through Python (host-independent counts).
  --pin                    recompute the registry fingerprints, cross-check
                           them against the DuckDB oracle, and write
                           fingerprints.json.

Everything a run writes goes under ``.perfbench/`` in the checkout; the
per-run scratch directory is removed at the end and a JSON artifact is
kept in ``.perfbench/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402

STATE_DIR = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 140
# The driver heap, fixed at 1g where the library defaults to a growable 8g
# one: peak RSS then reads the committed heap and repeats from run to run,
# and driver collects that fit in it show as GC time (spark.gc_s) instead.
DRIVER_HEAP = "1g"
# The end-to-end metrics the result line carries: CPU seconds of the steps,
# scaled to the reference host's speed by a reference job timed in the same
# run (app.REF_CPU_S), set-up CPU seconds, and memory. The wall-clock metrics
# and the steps' CPU seconds as measured are printed in the report above it.
END_TO_END = ("cpu_s", "setup_s", "peak_rss_mb")
REPORTED = ("total_s", "rows_per_s", "step_p50_s", "step_tail_s", "setup_wall_s", "failed_frac",
            "cpu_measured_s", "host_slowdown")
UNITS = {
    "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "total_s": "s", "rows_per_s": "rows/s", "step_p50_s": "s", "step_tail_s": "s",
    "setup_wall_s": "s", "failed_frac": "fraction",
    "cpu_measured_s": "s", "host_slowdown": "x",
}


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def _check_checkout() -> None:
    missing = [p for p in ("lantern_extras_spark/__init__.py", "__spark_entry__.py",
                           "tests/oracle_check.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a lantern_extras_spark checkout, missing {missing}")


def run_child(cfg: dict) -> dict:
    """Run app.py in a fresh process with Spark's scratch space, temp files
    and event log inside the per-run work directory."""
    work = cfg["work_dir"]
    cfg = dict(cfg, result_path=os.path.join(work, "result.json"),
               event_log_dir=os.path.join(work, "eventlog"))
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(work, "tmp")
    submit = [
        # a fixed-size heap: with a growable one, peak RSS follows G1's
        # time-dependent heap resizing and varies by a fifth between runs.
        # A fixed set of JIT compiler threads: the JVM otherwise starts
        # extra ones while its compile queue is long and ends them when
        # idle, and the CPU time of an ended thread can no longer be told
        # apart from the application's (app.CpuMeter)
        "--conf", f"spark.driver.extraJavaOptions=-Xms{DRIVER_HEAP} "
        f"-XX:-UseDynamicNumberOfCompilerThreads -Dderby.system.home={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cfg["cores"]),
        SPARK_DRIVER_MEMORY=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver): temp files in the work directory,
        # and no hsperfdata files in the system temp directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_CONF_DIR", None)
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "app.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=cfg["child_timeout_s"])
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # the application stops its own JVM; this takes down anything
            # left in its process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.isfile(cfg["result_path"]):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        shutil.copy(log_path, os.path.join(STATE_DIR, "artifacts", f"failed-{cfg['workload']}-{int(time.time())}.log"))
        raise RuntimeError(f"benchmark application exited with {code}")
    with open(cfg["result_path"]) as fh:
        return json.load(fh)


def _report(res: dict) -> None:
    e2e = res["end_to_end"]
    print(f"workload {res['workload']}  rounds {res['rounds']}  host {json.dumps(res['host'])}")
    for name in END_TO_END + REPORTED:
        print(f"  {name:<16} {e2e[name]:>14.6g} {UNITS[name]}")
    print(f"  step samples n={e2e['_samples']}, tail percentile p{e2e['_tail_percentile']}")
    for step, problem in res["verify_problems"].items():
        print(f"  VERIFY FAILED {step}: {problem}")
    for f in res["failures"]:
        print(f"  STEP FAILED {f['step']} (round {f['round']}): {f['error'][:200]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="local[N] core count (default 4)")
    ap.add_argument("--counts-only", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args(argv)
    _check_checkout()

    if args.pin:
        from perfbench import pin

        return pin.main(args.cpus)

    os.makedirs(os.path.join(STATE_DIR, "artifacts"), exist_ok=True)
    work = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": args.cpus, "work_dir": work, "verify": not args.counts_only,
        "trace": bool(args.trace or args.counts_only),
        "max_rounds": 1 if args.counts_only else 50,
        # counts-only runs may oversubscribe the host and are not time-bound
        "child_timeout_s": CHILD_TIMEOUT_S * (4 if args.counts_only else 1),
    }
    try:
        res = run_child(cfg)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.counts_only:
        out = {"host": res["host"], "workload": args.workload, "steps": {
            step: {k: v[f"con.{k}"] + v[f"exec.{k}"] for k in ("jobs", "stages", "tasks", "py_rows_out")}
            for step, v in sorted(res["per_step"].items())}}
        name = f"counts-{args.workload}-c{args.cpus}-seed{args.seed}.json"
        with open(os.path.join(STATE_DIR, "artifacts", name), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(json.dumps(out, sort_keys=True))
        return 0 if not res["failed"] else 1
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": UNITS[k]} for k in END_TO_END}

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(STATE_DIR, "artifacts", name), "w") as fh:
        json.dump(res, fh, indent=1)
    _report(res)
    correct = res["failed"] == 0 and not res["verify_problems"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
