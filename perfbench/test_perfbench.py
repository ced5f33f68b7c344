"""Tests of the benchmark's parts that need no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, gen, proc, stats, trace  # noqa: E402


# ------------------------------------------------------------------ stats


def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(100)]
    pct, value = stats.tail(values)
    assert pct == 90.0
    assert sum(v > value for v in values) >= 10
    assert sum(v > stats.quantile(values, 0.91) for v in values) < 10


def test_tail_never_reads_below_the_median():
    for n in (1, 5, 19, 20):
        values = [float(i) for i in range(n)]
        pct, value = stats.tail(values)
        assert pct == 50.0
        assert value == stats.median(values)


def test_tail_percentile_grows_with_samples():
    assert stats.tail([1.0] * 40)[0] == 75.0
    assert stats.tail([1.0] * 1000)[0] == 99.0


def test_union_length_merges_overlaps_and_skips_empty():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4), (7, 6)]) == 4


def test_quartile_spread_matches_statistics_quantiles():
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0
    )


# --------------------------------------------------------------- event log


def _event_lines():
    def task(launch, finish, run, cpu_ns, gc, rr, lr, w, mem, disk):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc,
                "Memory Bytes Spilled": mem,
                "Disk Bytes Spilled": disk,
                "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": w},
            },
        }

    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1_001}},
        task(1_010, 1_200, 180, 150_000_000, 5, 10, 20, 30, 1, 2),
        task(1_100, 1_300, 190, 160_000_000, 0, 0, 0, 0, 0, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(5_010, 5_100, 80, 70_000_000, 1, 0, 0, 0, 0, 0),
    ]
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_eventlog_parses_jobs_stages_and_task_metrics():
    log = eventlog.parse(_event_lines())
    assert log.job_submit_ms == [1_000, 5_000]
    assert log.stage_submit_ms == [1_001]  # a stage that never ran has no time
    first = log.tasks[0]
    assert (first.run_ms, first.cpu_ms, first.gc_ms) == (180, 150.0, 5)
    assert (first.shuffle_read_bytes, first.shuffle_write_bytes, first.spill_bytes) == (30, 30, 3)


def test_eventlog_window_keeps_what_started_inside():
    w = eventlog.parse(_event_lines()).window(900, 2_000)
    assert (len(w.job_submit_ms), len(w.stage_submit_ms), len(w.tasks)) == (1, 1, 2)


# ------------------------------------------------------------------- trace


def test_per_op_self_time_coverage_and_driver_gap():
    spans = [
        trace.Span(0, "op", 1.0, 2.0, None, 7, "cycle"),
        trace.Span(1, "ingest_stream.drain", 1.0, 1.5, 0, 7),
        trace.Span(2, "csv_ingest.write_partitioned", 1.2, 1.4, 1, 7),
        trace.Span(3, "sql.golden", 1.5, 1.95, 0, 7),
    ]
    (row,) = trace.per_op(spans, eventlog.parse(_event_lines()))
    assert row["ingest_stream.drain_s"] == pytest.approx(0.3)
    assert row["csv_ingest.write_partitioned_s"] == pytest.approx(0.2)
    assert row["exec.jobs"] == 1
    assert row["trace.span_coverage"] == pytest.approx(0.95)
    assert row["exec.tasks"] == 2
    # tasks cover 1.010-1.300 s of the 1 s operation
    assert row["exec.driver_gap_s"] == pytest.approx(1.0 - 0.29)
    summary = trace.summarize([row, dict(row, **{"trace.span_coverage": 0.5})])
    assert summary["trace.span_coverage_min"] == 0.5
    assert summary["exec.tasks"] == 2


def test_repeats_flags_counters_that_move():
    rows = [
        {"label": "a", "exec.jobs": 3, "exec.stages": 4, "exec.tasks": 9},
        {"label": "a", "exec.jobs": 3, "exec.stages": 5, "exec.tasks": 9},
    ]
    got = trace.repeats(rows)["a"]
    assert got["exec.jobs"]["exact"] and not got["exec.stages"]["exact"]


def test_tracer_parents_spans_and_labels_operations():
    t = trace.Tracer()
    with t.op(3, "cycle"):
        with t.span("ingest_stream.drain"):
            with t.span("csv_ingest.write_partitioned"):
                pass
    op, drain, write = t.spans
    assert (op.label, drain.parent, write.parent, write.op) == ("cycle", op.id, drain.id, 3)
    assert all(s.end >= s.start for s in t.spans)


# -------------------------------------------------------------------- proc


def test_stat_fields_start_after_a_name_with_parentheses():
    fields = proc._stat_fields(b"42 (a) (b) c) S 7 42 " + b"0 " * 8 + b"11 12 13 14 0\n")
    assert fields[:2] == [b"S", b"7"]
    assert fields[11:15] == [b"11", b"12", b"13", b"14"]


def test_tree_cpu_s_counts_a_reaped_child():
    before = proc.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert proc.tree_cpu_s() - before >= 0.25


def test_steal_share_is_steal_over_all_time():
    before = [0] * 8
    after = [60, 0, 10, 20, 0, 0, 0, 10]
    assert proc.steal_share(before, after) == pytest.approx(0.1)
    assert proc.steal_share(after, after) == 0.0


# --------------------------------------------------------------- generators


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_healthcare_csv_is_deterministic_per_seed(tmp_path):
    a = gen.healthcare_csv(str(tmp_path / "a.csv"), seed=7, rows=1_000, first_encounter=0)
    b = gen.healthcare_csv(str(tmp_path / "b.csv"), seed=7, rows=1_000, first_encounter=0)
    c = gen.healthcare_csv(str(tmp_path / "c.csv"), seed=8, rows=1_000, first_encounter=0)
    assert _digest(a.path) == _digest(b.path) != _digest(c.path)
    assert (a.rows, a.amount_cents) == (b.rows, b.amount_cents)
    with open(a.path) as f:
        header, *lines = f.read().splitlines()
    assert header == '"patient_id","encounter_id","diagnosis","amount"'
    assert len(lines) == 1_000
    cents = sum(round(float(line.rsplit(",", 1)[1]) * 100) for line in lines)
    assert cents == a.amount_cents
