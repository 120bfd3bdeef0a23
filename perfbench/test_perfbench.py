"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pandas as pd
import pyarrow.parquet as pq

from perfbench import app, tracing, workloads as W
from tests.oracle_check import frame_fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 1.25, 7.0]})
    b = pd.DataFrame({"score": [7.0, 0.5, 1.25], "id": [3, 1, 2]})
    assert frame_fingerprint(a) == frame_fingerprint(b)


def test_fingerprint_normalises_values():
    ints = pd.DataFrame({"x": [7, 2]})
    floats = pd.DataFrame({"x": [7.0, 2.0]})
    assert frame_fingerprint(ints)[2] == frame_fingerprint(floats)[2]
    with_nan = pd.DataFrame({"x": [math.nan, 1.0]})
    with_none = pd.DataFrame({"x": [None, 1.0]}, dtype=object)
    assert frame_fingerprint(with_nan)[2] == frame_fingerprint(with_none)[2]
    assert frame_fingerprint(pd.DataFrame({"x": [1.0, 2.0]}))[2] != frame_fingerprint(ints)[2]


def test_every_registry_step_has_a_pinned_oracle_checked_fingerprint():
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        pins = json.load(fh)
    for workload, steps in W.REGISTRY_WORKLOADS.items():
        assert sorted(pins[workload]) == sorted(steps)
        for step in steps:
            rows, digest = pins[workload][step]
            assert rows >= 0 and len(digest) == 32
            assert pins["oracle"][step] == "match"


def test_event_log_parser_on_recorded_log():
    # recorded from a local[2] application: job group span-1 ran a
    # repartition -> mapInPandas -> groupBy -> noop write, span-2 a collect
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as fh:
        groups = tracing.parse_event_log(fh)
    assert set(groups) == {"span-1", "span-2"}
    one, two = groups["span-1"], groups["span-2"]
    assert (one["jobs"], one["stages"], one["tasks"]) == (3, 3, 5)
    assert (two["jobs"], two["stages"], two["tasks"]) == (1, 1, 2)
    assert one["py_rows_out"] == 100
    assert (one["py_bytes_sent"], one["py_bytes_recv"]) == (1184, 1152)
    assert math.isclose(one["py_run_s"], 2.754)
    assert math.isclose(one["py_boot_s"], 1.996)
    assert one["shuffle_write_bytes"] == one["shuffle_read_bytes"] == 2129
    assert math.isclose(one["executor_run_s"], 3.346)
    assert two["py_rows_out"] == 0 and two["input_records"] == 50
    assert math.isclose(two["executor_cpu_s"], 0.012514821)


def test_event_log_parser_charges_ungrouped_jobs_by_submission_time():
    # job 3 as if submitted from a library thread: no job group, so it goes
    # to the span open at its submission time
    lines = []
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                ev["Submission Time"] = 1000 * ev["Job ID"]
                if ev["Job ID"] == 3:
                    del ev["Properties"]["spark.jobGroup.id"]
            lines.append(json.dumps(ev))
    assert None in tracing.parse_event_log(lines)
    groups = tracing.parse_event_log(lines, lambda t: "span-7" if t == 3000 else None)
    assert set(groups) == {"span-1", "span-7"}
    assert (groups["span-7"]["jobs"], groups["span-7"]["tasks"]) == (1, 2)
    assert groups["span-7"]["input_records"] == 50


def test_group_at_is_the_innermost_open_span():
    spans = tracing.Spans()
    spans.records = [
        {"id": 0, "start_ms": 0.0, "end_ms": 100.0},
        {"id": 1, "start_ms": 10.0, "end_ms": 40.0},
        {"id": 2, "start_ms": 20.0, "end_ms": 30.0},
        {"id": 3, "start_ms": 50.0},  # still open
    ]
    assert [spans.group_at(t) for t in (5, 15, 25, 35, 45, 60)] == [
        "span-0", "span-1", "span-2", "span-1", "span-0", "span-3"]
    assert spans.group_at(-1) is None


def _rec(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    records = [
        _rec(0, None, 0.0, 10.0),
        _rec(1, 0, 1.0, 3.0),
        _rec(2, 0, 2.0, 4.0),   # overlaps child 1: union 1..4
        _rec(3, 0, 6.0, 12.0),  # runs past the parent: clipped to 6..10
        _rec(4, 1, 1.5, 2.5),   # grandchild: counts only against span 1
    ]
    assert math.isclose(tracing.self_time(records, 0), 10.0 - 3.0 - 4.0)
    assert math.isclose(tracing.self_time(records, 1), 2.0 - 1.0)
    assert math.isclose(tracing.self_time(records, 4), 1.0)


def test_spans_nest_and_time():
    spans = tracing.Spans()
    with spans.span("w", "workload"):
        with spans.span("s", "step") as st:
            with spans.span("construct", "phase"):
                pass
    w, s, c = spans.records
    assert (w["parent"], s["parent"], c["parent"]) == (None, 0, 1)
    assert w["start"] <= s["start"] <= c["start"] <= c["end"] <= s["end"] <= w["end"]
    assert w["start_ms"] <= c["start_ms"] <= c["end_ms"] <= w["end_ms"]
    assert spans.group_at(c["start_ms"]) == "span-2"
    assert tracing.duration(st) >= 0


def test_cpu_seconds_leave_out_jit_threads():
    start = (1000, {"11": 50, "12": 70})
    # thread 12 exited; thread 13 started after the first snapshot
    end = (1600, {"11": 150, "13": 40})
    assert math.isclose(app.CpuMeter.seconds(start, end), (600 - 100 - 40) * app._TICK_S)


def test_trace_overhead_compares_a_traced_round_with_its_untraced_neighbours(tmp_path):
    b = app.Bench({"workload": "search_dedup", "work_dir": str(tmp_path)})
    # round totals 3.0 (untraced), 3.6 (traced), 2.0 (untraced), and a
    # partial round 4 that is left out
    for rnd, traced, secs in ((1, False, 1.0), (2, True, 1.2), (3, False, 2 / 3), (4, True, 9.0)):
        for step in W.SEARCH_DEDUP[: 1 if rnd == 4 else 3]:
            b.samples.setdefault(step, []).append({"s": secs, "round": rnd, "traced": traced})
    assert math.isclose(b.trace_overhead(), 3.6 / 2.5 - 1)


def test_step_cpu_is_scaled_by_the_reference_job(tmp_path):
    b = app.Bench({"workload": "search_dedup", "work_dir": str(tmp_path)})
    assert b.host_slowdown() == 1.0
    # the host ran at half speed, and a GC cycle doubled the last two
    # reference samples again: the lower quartile leaves those out
    b.ref_cpu = [2 * app.REF_CPU_S] * 6 + [4 * app.REF_CPU_S] * 2
    assert math.isclose(b.host_slowdown(), 2.0)
    b.rows_in = dict.fromkeys(W.SEARCH_DEDUP, 1)
    for step in W.SEARCH_DEDUP:
        b.samples[step] = [{"s": 1.0, "cpu_s": 3.0, "round": 1, "traced": False}]
    e = b.end_to_end((40.0, 20.0), 1000.0, 0)
    assert math.isclose(e["cpu_s"], 4.5) and math.isclose(e["cpu_measured_s"], 9.0)
    assert e["setup_s"] == 40.0 and e["setup_wall_s"] == 20.0 and e["peak_rss_mb"] == 1000.0


def test_tail_is_the_90th_percentile():
    assert app.tail([]) == 0.0 and app.tail([2.0]) == 2.0
    assert math.isclose(app.tail([float(i) for i in range(11)]), 9.0)


def test_same_seed_same_step_order():
    for workload in W.WORKLOADS:
        a = W.step_order(workload, 7, 5)
        assert a == W.step_order(workload, 7, 5)
        assert a != W.step_order(workload, 8, 5) or workload == "embed_ingest"
        for order in a:
            if workload == "embed_ingest":
                assert order[0] == "embed" and sorted(order[1:]) == sorted(W.INGEST_REST)
            else:
                assert sorted(order) == sorted(W.REGISTRY_WORKLOADS[workload])


def _read_dir(path):
    return {n: pq.read_table(os.path.join(path, n)).to_pydict() for n in sorted(os.listdir(path))}


def test_same_seed_same_corpus(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert W.write_ingest_corpus(a, 3) == W.write_ingest_corpus(b, 3)
    W.write_ingest_corpus(c, 4)
    for sub in ("corpus", "stream"):
        assert _read_dir(os.path.join(a, sub)) == _read_dir(os.path.join(b, sub))
    assert _read_dir(os.path.join(a, "corpus")) != _read_dir(os.path.join(c, "corpus"))
    texts = [t for part in _read_dir(os.path.join(a, "corpus")).values() for t in part["text"]]
    lengths = [len(t.split()) for t in texts]
    assert len(texts) == W.INGEST_DOCS and min(lengths) >= 10 and max(lengths) <= 209


def test_registry_tables_are_fixed(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sizes = W.write_registry_tables(a)
    W.write_registry_tables(b)
    for table, rows in sizes.items():
        ta = pq.read_table(os.path.join(a, f"{table}.parquet"))
        assert ta.num_rows == rows
        assert ta.equals(pq.read_table(os.path.join(b, f"{table}.parquet")))
