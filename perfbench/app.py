"""One benchmark Spark application: set up, run timed rounds of one workload,
verify the outputs, and write a result JSON. ``run.py`` starts it in a fresh
process per run. When tracing, even rounds are traced (Spark event log and a
job group per span) and odd rounds are not, so both see the same warm JVM;
a traced round against the untraced rounds on either side of it gives the
tracing overhead.

Usage: python3 perfbench/app.py CONFIG_JSON
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing, workloads as W  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(BENCH_DIR, "fingerprints.json")

# embed_ingest index geometry (hash/test-model vectors have 16 dims)
PQ_SPLITS, PQ_K, TRAIN_ROWS, EMB_DIM = 4, 16, 5000, 16
SAMPLED_VECTORS = 16

# A run times only a few step executions, too few to leave ten samples
# beyond any percentile above the median; the tail is their 90th percentile.
TAIL_PERCENTILE = 90

# The reference job: fixed Spark work that calls no library code (mostly
# per-job planning and scheduling, as in the steps), run REF_REPEATS times
# before each untraced step. On a shared host the CPU time of the same work
# rises and falls with the neighbours' load, by a quarter or more between
# runs, and the steps and this job rise together. ``cpu_s`` is divided by
# the run's reference CPU over REF_CPU_S, its value in quiet runs on the
# host the benchmark was tuned on (4 vCPUs of a Xeon KVM guest). ``setup_s``
# is not: most of it is JIT compilation, which this job does not follow, and
# scaled it spread wider between runs than as measured.
# The run's reference CPU is the lower quartile of its samples: a GC cycle
# that lands in a 0.25 s job can double it, for the rest of a run at worst.
REF_ROWS, REF_PARTITIONS, REF_REPEATS = 8_000_000, 4, 3
REF_CPU_S = 0.24


def tail(samples: list[float]) -> float:
    """The TAIL_PERCENTILE-th percentile, interpolated between samples."""
    if len(samples) < 2:
        return samples[0] if samples else 0.0
    return statistics.quantiles(samples, n=100, method="inclusive")[TAIL_PERCENTILE - 1]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1 : text.rindex(")")], text.rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU time of this application's processes (itself, its Spark JVM and
    the Python workers, including exited workers their parent has reaped),
    less the JVM's JIT compiler threads. A one-minute application still
    compiles through its timed rounds, and how much of that lands in which
    step is chance. The compiler threads must live as long as the JVM
    (run.py turns off their dynamic start and stop): the time of a thread
    that has ended stays in its process's total under no thread id. Time
    the host steals from the virtual CPUs is charged to no process."""

    def __init__(self):
        self.sid = os.getsid(0)

    def snapshot(self) -> tuple[int, dict[str, int]]:
        """(session CPU ticks, {JIT thread id: its CPU ticks})."""
        total, jit = 0, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                comm, fields = _stat(f"/proc/{pid}/stat")
                if int(fields[3]) != self.sid:
                    continue
                total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
                if comm == "java":
                    for tid in os.listdir(f"/proc/{pid}/task"):
                        name, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                        if name.startswith(_JIT_THREADS):
                            jit[tid] = int(tf[11]) + int(tf[12])
            except OSError:  # the process or thread exited
                continue
        return total, jit

    @staticmethod
    def seconds(start: tuple[int, dict], end: tuple[int, dict]) -> float:
        jit = sum(t - start[1].get(tid, 0) for tid, t in end[1].items())
        return (end[0] - start[0] - jit) * _TICK_S


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden/marker files."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Bench:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.work = cfg["work_dir"]
        self.data_dir = os.path.join(self.work, "data")
        self.out_dir = os.path.join(self.work, "out")
        self.spans = tracing.Spans()
        self.samples: dict[str, list[dict]] = {}
        self.failures: list[dict] = []
        self.attempted = 0
        self.rows_in: dict[str, int] = {}
        self.last: dict[str, object] = {}
        self.stream_groups: dict[str, int] = {}
        self.written: dict[int, tuple[int, int]] = {}
        self.stream_rows = 0
        self.cpu = CpuMeter()
        self.ref_cpu: list[float] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        sp = self.spans
        with sp.span("generate", "setup"):
            if self.workload == "embed_ingest":
                sizes = W.write_ingest_corpus(self.data_dir, self.cfg["seed"])
                self.rows_in = {
                    "embed": sizes["corpus"], "export_csv": sizes["corpus"],
                    "pq_index": sizes["corpus"], "stream": sizes["stream"],
                }
                self.sizes = sizes
            else:
                sizes = W.write_registry_tables(self.data_dir)
                self.rows_in = {s: sizes[W.STEP_TABLES[s]] for s in W.REGISTRY_WORKLOADS[self.workload]}
        with sp.span("session", "setup"):
            from lantern_extras_spark import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload == "embed_ingest":
            self.corpus = self.spark.read.parquet(os.path.join(self.data_dir, "corpus"))
        else:
            import __spark_entry__ as E

            self.queries = E.queries()

    # -- steps ----------------------------------------------------------
    def _registry_step(self, name: str):
        df = self.queries[name](self.spark, self.data_dir)
        return df, lambda: df.write.format("noop").mode("overwrite").save()

    def _ingest_step(self, name: str, rdir: str):
        from lantern_extras_spark.embeddings.pipeline import create_embeddings
        from lantern_extras_spark.operators import pq as PQ
        from lantern_extras_spark.sources.sinks import export_embeddings_csv
        from lantern_extras_spark.streaming.incremental import start_incremental_embedding

        spark, n = self.spark, self.sizes["corpus"]
        path = lambda sub: os.path.join(rdir, sub)  # noqa: E731
        if name == "embed":
            out, _usage = create_embeddings(self.corpus, "text", "emb")
            return out, lambda: out.write.mode("overwrite").parquet(path("emb"))
        emb = spark.read.parquet(path("emb"))
        if name == "export_csv":
            return emb, lambda: export_embeddings_csv(emb, path("csv"), pk="doc_id", vec_col="emb")
        if name == "pq_index":
            with self.spans.span("train", "train"):
                cb = PQ.build_codebook(emb, vec_col="emb", splits=PQ_SPLITS, k=PQ_K,
                                       max_train_rows=TRAIN_ROWS, total_rows=n)
            coded = PQ.quantize(emb, cb, vec_col="emb", dim=EMB_DIM)

            def write():
                PQ.save_codebook(cb, path("codebook"))
                coded.write.mode("overwrite").parquet(path("pq"))
            return coded, write
        if name == "stream":
            q = start_incremental_embedding(
                spark, os.path.join(self.data_dir, "stream"), "doc_id long, text string",
                path("stream_out"), path("stream_ckpt"), "text", "emb", available_now=True,
            )
            self.stream_groups[str(q.runId)] = len(self.spans.records)  # the execute span, next

            def run():
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                self.stream_rows = sum(p["numInputRows"] for p in q.recentProgress)
            return q, run
        raise ValueError(name)

    def run_round(self, rnd: int, order: list[str], traced: bool = False,
                  deadline: float | None = None) -> bool:
        """Run one round, or as many of its steps as start before
        ``deadline``; returns whether every step ran. Round 0 is the
        untimed warm-up."""
        rdir = os.path.join(self.out_dir, f"r{rnd}")
        for name in order:
            if deadline is not None and time.perf_counter() >= deadline:
                return False
            self.spark.catalog.clearCache()
            if not traced:
                self.reference(rnd)
            if rnd > 0:
                self.attempted += 1
            cpu0 = self.cpu.snapshot()
            try:
                with self.spans.span(name, "step", round=rnd) as st:
                    with self.spans.span("construct", "phase", round=rnd, step=name):
                        if self.workload == "embed_ingest":
                            obj, execute = self._ingest_step(name, rdir)
                        else:
                            obj, execute = self._registry_step(name)
                    with self.spans.span("execute", "phase", round=rnd, step=name):
                        execute()
            except Exception as exc:  # noqa: BLE001 - a failing step is counted, the run goes on
                self.failures.append({"step": name, "round": rnd, "error": repr(exc)[:500]})
                traceback.print_exc()
                if rnd > 0:
                    self.samples.setdefault(name, [])
                continue
            self.last[name] = obj
            if rnd > 0:
                sample = {"s": tracing.duration(st), "cpu_s": self.cpu.seconds(cpu0, self.cpu.snapshot()),
                          "span": st["id"], "round": rnd, "traced": traced}
                if name == "stream":
                    sample["stream_rows"] = self.stream_rows
                self.samples.setdefault(name, []).append(sample)
        if self.workload == "embed_ingest" and rnd > 0:
            files = size = 0
            for sub in ("emb", "csv", "codebook", "pq"):
                f, b = _dir_files(os.path.join(rdir, sub))
                files, size = files + f, size + b
            self.written[rnd] = (files, size)
        return True

    def reference(self, rnd: int) -> None:
        """Run the reference job; keep its CPU seconds in timed rounds."""
        for _ in range(REF_REPEATS):
            cpu0 = self.cpu.snapshot()
            (self.spark.range(0, REF_ROWS, numPartitions=REF_PARTITIONS)
             .selectExpr("sum(hash(id, id * 3))").collect())
            if rnd > 0:
                self.ref_cpu.append(self.cpu.seconds(cpu0, self.cpu.snapshot()))

    def host_slowdown(self) -> float:
        """The run's reference CPU over REF_CPU_S (1.0 without one)."""
        if len(self.ref_cpu) < 2:
            return 1.0
        return statistics.quantiles(self.ref_cpu, n=4, method="inclusive")[0] / REF_CPU_S

    def drop_round(self, rnd: int) -> None:
        shutil.rmtree(os.path.join(self.out_dir, f"r{rnd}"), ignore_errors=True)

    # -- verification ---------------------------------------------------
    def verify(self, rnd: int) -> dict[str, str]:
        """Check the outputs of round ``rnd``, the last complete one;
        returns {step: problem}."""
        bad: dict[str, str] = {}
        if self.workload == "embed_ingest":
            self._verify_ingest(os.path.join(self.out_dir, f"r{rnd}"), bad)
            return bad
        from tests.oracle_check import frame_fingerprint

        pinned = _load_fingerprints()[self.workload]
        for name in W.REGISTRY_WORKLOADS[self.workload]:
            df = self.last.get(name)
            if df is None:
                bad[name] = "no output"
                continue
            try:
                with self.spans.span(name, "verify"):
                    n, _cols, h = frame_fingerprint(df.toPandas())
            except Exception as exc:  # noqa: BLE001
                bad[name] = repr(exc)[:300]
                continue
            if [n, h] != pinned[name]:
                bad[name] = f"fingerprint {[n, h]} != pinned {pinned[name]}"
        return bad

    def _verify_ingest(self, rdir: str, bad: dict[str, str]) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        import __spark_entry__ as E

        spark, n = self.spark, self.sizes["corpus"]
        p = lambda sub: os.path.join(rdir, sub)  # noqa: E731

        def check(step: str, fn) -> None:
            try:
                with self.spans.span(step, "verify"):
                    problem = fn()
            except Exception as exc:  # noqa: BLE001
                problem = repr(exc)[:300]
            if problem:
                bad[step] = problem

        def embed():
            emb = spark.read.parquet(p("emb"))
            got = emb.agg(F.count("*"), F.count("emb"), F.min(F.size("emb")), F.max(F.size("emb"))).first()
            if tuple(got) != (n, n, EMB_DIM, EMB_DIM):
                return f"rows/non-null/dims {tuple(got)} != {(n, n, EMB_DIM, EMB_DIM)}"
            rng = np.random.default_rng(self.cfg["seed"])
            ids = sorted(int(i) for i in rng.choice(n, SAMPLED_VECTORS, replace=False))
            rows = emb.where(F.col("doc_id").isin(ids)).collect()
            if len(rows) != len(ids):
                return f"sampled {len(rows)} of {len(ids)} documents"
            for r in rows:
                want = np.asarray(E._hash_embed_py(r["text"], dim=EMB_DIM), dtype=np.float32)
                if not np.array_equal(np.asarray(r["emb"], dtype=np.float32), want):
                    return f"doc {r['doc_id']}: vector differs from the reference embedding"
            return None

        def csv():
            lines = spark.read.text(p("csv")).count()
            return None if lines == n else f"csv lines {lines} != {n}"

        def pq_index():
            cb = spark.read.parquet(p("codebook")).agg(F.count("*"), F.countDistinct("subvector_id")).first()
            if tuple(cb) != (PQ_K * PQ_SPLITS, PQ_SPLITS):
                return f"codebook rows/splits {tuple(cb)} != {(PQ_K * PQ_SPLITS, PQ_SPLITS)}"
            codes = spark.read.parquet(p("pq")).select(F.size("pqvec").alias("m"), F.explode("pqvec").alias("c"))
            got = codes.agg(F.count("*"), F.min("m"), F.max("m"), F.min("c"), F.max("c")).first()
            rows, lo_m, hi_m, lo_c, hi_c = got
            if rows != n * PQ_SPLITS or lo_m != PQ_SPLITS or hi_m != PQ_SPLITS or lo_c < 0 or hi_c >= PQ_K:
                return f"codes {tuple(got)} violate {n} rows x {PQ_SPLITS} codes < {PQ_K}"
            return None

        def stream():
            want = self.sizes["stream"]
            rows = spark.read.parquet(p("stream_out")).where(F.col("emb").isNotNull()).count()
            if rows != want or self.stream_rows != want:
                return f"stream output {rows} / progress {self.stream_rows} != streamed {want}"
            return None

        for step, fn in (("embed", embed), ("export_csv", csv), ("pq_index", pq_index),
                         ("stream", stream)):
            check(step, fn)

    # -- metrics --------------------------------------------------------
    def _samples(self, traced: bool) -> dict[str, list[dict]]:
        return {k: [x for x in v if x["traced"] == traced] for k, v in self.samples.items()}

    def end_to_end(self, setup: tuple[float, float], rss_mb: float, failed: int) -> dict:
        """End-to-end metrics over the untraced timed rounds. ``setup`` is
        the set-up's (CPU seconds, wall seconds). ``cpu_s`` is given at the
        reference host's speed (see REF_CPU_S) and as measured."""
        samples = {k: v for k, v in self._samples(False).items() if v}
        per_step = {k: statistics.median(x["s"] for x in v) for k, v in samples.items()}
        all_s = sorted(x["s"] for v in samples.values() for x in v)
        total = sum(per_step.values())
        cpu = sum(statistics.median(x["cpu_s"] for x in v) for v in samples.values())
        slowdown = self.host_slowdown()
        return {
            "cpu_s": cpu / slowdown,
            "total_s": total,
            "rows_per_s": sum(self.rows_in[k] for k in per_step) / total if total else 0.0,
            "step_p50_s": statistics.median(all_s) if all_s else 0.0,
            "step_tail_s": tail(all_s),
            "setup_s": setup[0],
            "cpu_measured_s": cpu,
            "host_slowdown": slowdown,
            "setup_wall_s": setup[1],
            "peak_rss_mb": rss_mb,
            "failed_frac": failed / max(1, self.attempted),
            "_samples": len(all_s),
            "_tail_percentile": TAIL_PERCENTILE,
            "_per_step_s": per_step,
        }

    def trace_overhead(self) -> float:
        """Median over traced rounds of the round's time over the mean time
        of the untraced rounds before and after it, less 1. Only rounds in
        which every step ran are compared."""
        n_steps = len(W.step_order(self.workload, 0, 1)[0])
        rounds: dict[int, list[float]] = {}
        for v in self.samples.values():
            for x in v:
                rounds.setdefault(x["round"], []).append(x["s"])
        full = {r: sum(v) for r, v in rounds.items() if len(v) == n_steps}
        traced = {x["round"] for v in self._samples(True).values() for x in v}
        ratios = [full[r] / ((full[r - 1] + full[r + 1]) / 2) - 1.0
                  for r in sorted(traced) if {r - 1, r, r + 1} <= full.keys()]
        return statistics.median(ratios) if ratios else 0.0

    def per_layer(self, groups: dict) -> tuple[dict, dict]:
        """Per-layer metrics over the traced rounds: per step, the median
        over rounds, summed over steps. Also returns the per-step breakdown."""
        recs = self.spans.records
        empty = dict.fromkeys(tracing.COUNTERS, 0)
        kids = {}
        for r in recs:
            kids.setdefault(r["parent"], []).append(r)

        def counters(span_id: int) -> dict:
            """Counters of the span and everything below it."""
            acc = dict(groups.get(f"span-{span_id}", empty))
            for g, sid in self.stream_groups.items():
                if sid == span_id:
                    acc = {k: acc[k] + groups.get(g, empty)[k] for k in acc}
            for c in kids.get(span_id, []):
                sub = counters(c["id"])
                acc = {k: acc[k] + sub[k] for k in acc}
            return acc

        steps: dict[str, dict] = {}
        for name, samples in self._samples(True).items():
            if not samples:  # the step failed in every traced round
                continue
            per_round = []
            for x in samples:
                st = recs[x["span"]]
                phases = {c["name"]: c for c in kids.get(st["id"], [])}
                con, exe = phases["construct"], phases["execute"]
                c_con, c_exe = counters(con["id"]), counters(exe["id"])
                row = {f"exec.{k}": c_exe[k] for k in tracing.COUNTERS}
                row.update({f"con.{k}": c_con[k] for k in tracing.COUNTERS})
                row.update({
                    "step_s": x["s"],
                    "construct_s": tracing.duration(con),
                    "execute_s": tracing.duration(exe),
                    "construct_self_s": tracing.self_time(recs, con["id"]),
                    "train_s": sum(tracing.duration(c) for c in kids.get(con["id"], []) if c["kind"] == "train"),
                    "stream_rows": x.get("stream_rows", 0),
                })
                per_round.append(row)
            steps[name] = {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}

        def total(key: str, only=None) -> float:
            return sum(v[key] for k, v in steps.items() if only is None or k in only)

        def both(counter: str) -> float:
            return total(f"con.{counter}") + total(f"exec.{counter}")

        writes = {"embed", "export_csv", "pq_index"}
        execute_s = total("execute_s")
        traced_rounds = {recs[x["span"]]["round"] for v in self._samples(True).values() for x in v}
        full_traced = traced_rounds & self.written.keys()
        written = self.written[max(full_traced)] if full_traced else (0, 0)
        session = next(r for r in recs if r["name"] == "session" and r["kind"] == "setup")
        metrics = {
            "session.start_s": tracing.duration(session),
            "entry.construct_s": total("construct_s"),
            "operators.eager_jobs": total("con.jobs"),
            "operators.driver_result_bytes": total("con.result_bytes"),
            "spark.execute_s": execute_s,
            "spark.jobs": both("jobs"),
            "spark.stages": both("stages"),
            "spark.tasks": both("tasks"),
            "spark.executor_run_s": both("executor_run_s"),
            "spark.executor_cpu_s": both("executor_cpu_s"),
            "spark.gc_s": both("gc_s"),
            "spark.cpu_busy_frac": total("exec.executor_cpu_s") / (execute_s * self.cfg["cores"]) if execute_s else 0.0,
            "spark.shuffle_write_bytes": both("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": both("shuffle_read_bytes"),
            "spark.spill_bytes": both("spill_bytes"),
            "spark.input_bytes": both("input_bytes"),
            "spark.input_records": both("input_records"),
            "py.run_s": both("py_run_s"),
            "py.boot_s": both("py_boot_s"),
            "py.rows_out": both("py_rows_out"),
            "py.bytes_sent": both("py_bytes_sent"),
            "py.bytes_recv": both("py_bytes_recv"),
            "embeddings.embed_s": total("step_s", {"embed"}),
            "sources.write_s": total("execute_s", writes),
            "sources.bytes_written": float(written[1]),
            "sources.files_written": float(written[0]),
            "operators.train_s": total("train_s"),
            "streaming.batch_s": total("execute_s", {"stream"}),
            "streaming.rows": total("stream_rows"),
            "bench.verify_s": sum(tracing.duration(r) for r in recs if r["kind"] == "verify"),
            "bench.trace_overhead_frac": self.trace_overhead(),
        }
        return metrics, steps


def _load_fingerprints() -> dict:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def _host(spark, cfg: dict) -> dict:
    import hashlib
    import subprocess

    import pyspark

    commit = None
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            commit = lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    digest = hashlib.sha256()
    for base in ("lantern_extras_spark", "__spark_entry__.py"):
        full = os.path.join(ROOT, base)
        paths = [full] if os.path.isfile(full) else sorted(
            os.path.join(r, f) for r, _d, fs in os.walk(full) for f in fs if f.endswith((".py", ".txt")))
        for path in paths:
            digest.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                digest.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cfg["cores"],
        "commit": commit,
        "source_sha256": digest.hexdigest(),
        "seed": cfg["seed"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of input
    gateway.proc.wait(timeout=60)


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    b = Bench(cfg)
    sp = b.spans
    with sp.span(b.workload, "workload"):
        b.setup()
        rounds = W.step_order(b.workload, cfg["seed"], cfg["max_rounds"] + 1)
        with sp.span("warmup", "setup"):
            b.run_round(0, rounds[0])
            b.drop_round(0)
        # set-up CPU includes the JIT compiler threads: compiling is set-up work
        setup = (b.cpu.snapshot()[0] * _TICK_S, time.perf_counter() - T_PROCESS)
        sc = b.spark.sparkContext
        evlog = tracing.EventLog(sc, cfg["event_log_dir"]) if cfg["trace"] else None
        # the overhead needs a traced round between two untraced ones; a
        # counts-only run has one round, traced
        counts_only = cfg["max_rounds"] == 1
        min_rounds = 3 if cfg["trace"] and not counts_only else 1
        # after the complete rounds, steps run until the measuring time is up
        t0, rnd, last_full = time.perf_counter(), 0, 0
        while rnd < min_rounds or (time.perf_counter() - t0 < cfg["seconds"] and rnd < cfg["max_rounds"]):
            rnd += 1
            traced = evlog is not None and (counts_only or rnd % 2 == 0)
            if traced:
                evlog.attach()
                sp.sc = sc
            deadline = None if rnd <= min_rounds else t0 + cfg["seconds"]
            full = b.run_round(rnd, rounds[rnd], traced, deadline)
            if traced:
                sp.sc = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                evlog.detach()
            b.drop_round(last_full if full else rnd)
            last_full = rnd if full else last_full
        bad = b.verify(last_full) if cfg["verify"] else {}
        b.drop_round(last_full)
    jvm_pid = sc._gateway.proc.pid
    rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
    host = _host(b.spark, cfg)
    if evlog is not None:
        evlog.close()
    _stop(b.spark)
    if evlog is not None:
        groups = tracing.read_event_log(cfg["event_log_dir"], sp.group_at)
        stray = groups.pop(None, None)
        if stray and stray["jobs"]:
            bad["trace"] = (f"{stray['jobs']} jobs, {stray['stages']} stages and "
                            f"{stray['tasks']} tasks were not attributed to any span")

    failed_steps = {f["step"] for f in b.failures if f["round"] > 0}
    failed = sum(1 for f in b.failures if f["round"] > 0) + sum(
        1 for s in bad if s not in failed_steps)
    e2e = b.end_to_end(setup, rss_mb, failed)
    result = {
        "workload": b.workload,
        "trace": cfg["trace"],
        "host": host,
        "rounds": rnd,
        "attempted": b.attempted,
        "failed": failed,
        "failures": b.failures,
        "verify_problems": bad,
        "end_to_end": e2e,
        "step_samples_s": {k: [x["s"] for x in v] for k, v in b.samples.items()},
        "step_samples_cpu_s": {k: [x["cpu_s"] for x in v] for k, v in b.samples.items()},
        "setup_breakdown_s": {r["name"]: tracing.duration(r) for r in sp.records if r["kind"] == "setup"},
        "verify_s": sum(tracing.duration(r) for r in sp.records if r["kind"] == "verify"),
        "reference_cpu_s": b.ref_cpu,
    }
    if evlog is not None:
        result["per_layer"], result["per_step"] = b.per_layer(groups)
        result["spans"] = [
            {**r, "self_s": tracing.self_time(sp.records, r["id"])} for r in sp.records
        ]
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh, indent=1, default=str)


if __name__ == "__main__":
    main(sys.argv[1])
