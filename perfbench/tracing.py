"""Spans recorded around calls into the library, a Spark event log the
benchmark switches on and off in a running application, and a parser for
that log which attributes stage, task and Python SQL metrics to the spans.

Each span carries its own Spark job group (set only while tracing), so
every job launched inside it, and every stage of those jobs, can be charged
to exactly one span. A job the library submits from a thread of its own
carries no group (the thread does not inherit the span's local properties);
it is charged to the innermost span open at its submission time. Spans are
kept in memory and written out at the end.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

#: Counters read from the event log, per job group.
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "result_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "input_records", "py_run_s", "py_boot_s", "py_rows_out",
    "py_bytes_sent", "py_bytes_recv",
)

# Stage accumulables (internal task metrics): name -> (counter, scale).
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.resultSize": ("result_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
}

# SQL metrics of the Python exec nodes (MapInPandas, ArrowEvalPython, ...).
_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_boot_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
    "number of output rows": "py_rows_out",
}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


class Spans:
    """Nested timing spans. While ``sc`` is set to a SparkContext, each span
    also runs its jobs under its own job group, named ``span-<id>``."""

    def __init__(self):
        self.sc = None
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = len(self.records)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "kind": kind, **attrs}
        self.records.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        rec["start_ms"] = time.time() * 1e3
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_ms"] = time.time() * 1e3
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.records[self._stack[-1]]
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def group_at(self, t_ms: float) -> str | None:
        """The job group of the innermost span open at wall-clock time
        ``t_ms`` (milliseconds since the epoch), or None outside every span.
        Spans nest, so the innermost open one is the latest started."""
        for rec in reversed(self.records):
            if rec["start_ms"] <= t_ms <= rec.get("end_ms", float("inf")):
                return f"span-{rec['id']}"
        return None


class EventLog:
    """Spark's own event-log writer, attached to a running application only
    while tracing, so that untraced and traced rounds share one JVM.

    The writer gets its settings from a copy of the application's conf, so
    the library's session settings stay untouched."""

    def __init__(self, spark_context, log_dir: str):
        jvm = spark_context._jvm
        self._sc = spark_context._jsc.sc()
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        no_attempt = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        self._writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), no_attempt, jvm.java.net.URI(f"file://{log_dir}"),
            conf, self._sc.hadoopConfiguration())
        self._writer.start()

    def attach(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.addSparkListener(self._writer)

    def detach(self) -> None:
        """Deliver every event posted so far, then stop listening."""
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._writer)

    def close(self) -> None:
        self._writer.stop()


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(records: list[dict], sid: int) -> float:
    """A span's duration minus the part of its interval its children cover."""
    rec = records[sid]
    lo, hi = rec["start"], rec["end"]
    kids = sorted(
        (max(lo, r["start"]), min(hi, r["end"]))
        for r in records if r["parent"] == sid
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def _py_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Collect (counter, scale) per accumulator id of Python exec nodes."""
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            counter = _PY_METRICS.get(m["name"])
            if counter:
                out[m["accumulatorId"]] = (counter, _SCALE.get(m.get("metricType"), 1))
    for child in plan.get("children", []):
        _py_accumulators(child, out)


def parse_event_log(lines, group_at=None) -> dict[str | None, dict[str, float]]:
    """Sum the COUNTERS per job group over an event log (an iterable of JSON
    lines). A job without a group gets ``group_at(submission time in ms)``
    when ``group_at`` is given; jobs left without a group are keyed ``None``.

    Metric values are the per-task updates of TaskEnd events: a stage's
    accumulable totals would also count earlier executions of the same
    physical plan, whose SQL metrics are shared."""
    stage_group: dict[int, str | None] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    totals: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    updates = []  # (stage id, accumulator id, name, update)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None and group_at is not None:
                group = group_at(ev["Submission Time"])
            totals[group]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_group.setdefault(st, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            t = totals[stage_group.get(info["Stage ID"])]
            t["stages"] += 1
            t["tasks"] += info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                if acc.get("Update") is not None:
                    updates.append((ev["Stage ID"], acc.get("ID"), acc.get("Name"), acc["Update"]))
        elif kind in _SQL_PLAN_EVENTS:
            _py_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
    for stage, acc_id, name, value in updates:
        if name in _TASK_METRICS:
            counter, scale = _TASK_METRICS[name]
        elif acc_id in py_acc:
            counter, scale = py_acc[acc_id]
        else:
            continue
        totals[stage_group.get(stage)][counter] += float(value) * scale
    return dict(totals)


def read_event_log(log_dir: str, group_at=None) -> dict[str | None, dict[str, float]]:
    """Parse the one event log file an :class:`EventLog` wrote to ``log_dir``."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as fh:
        return parse_event_log(fh, group_at)
