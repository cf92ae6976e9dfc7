"""Tests of the benchmark's own logic: seeded inputs, the stream file ->
micro-batch join, the percentile rules and the span arithmetic. No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import inputs, stats, tracing  # noqa: E402


# --- seeded inputs ----------------------------------------------------------

def test_same_seed_same_token_files():
    plan = inputs.stream_files(3)
    for f in plan:
        assert inputs.token_file(5, f, 4, 8).equals(inputs.token_file(5, f, 4, 8))
    assert not inputs.token_file(5, plan[0], 4, 8).equals(
        inputs.token_file(6, plan[0], 4, 8))


def test_token_files_move_forward_in_event_time():
    from solarpos_spark import codec

    plan = inputs.stream_files(4)
    prev_hi = None
    for f in plan:
        t = inputs.token_file(9, f, 4, 8)
        flat = t.column("tokens").combine_chunks().values.to_numpy()
        ts = codec.decode_records(flat.reshape(-1, codec.TOKENS_PER_RECORD))["unix_sec"]
        assert f["ts_lo"] <= ts.min() and ts.max() < f["ts_hi"]
        assert prev_hi is None or ts.min() >= prev_hi
        prev_hi = f["ts_hi"]


def test_same_seed_same_sweep():
    assert inputs.sweep_params(4) == inputs.sweep_params(4)
    s = inputs.sweep_params(4)
    assert s["month"] in (1, 3, 5, 7, 8, 10, 12)


# --- percentiles --------------------------------------------------------------

@pytest.mark.parametrize("n,pct", [(100, 90.0), (99, 75.0), (1000, 99.0),
                                   (40, 75.0), (20, 50.0), (19, None)])
def test_tail_percentile_has_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert stats.samples_beyond(n, pct) >= 10


def test_min_samples_for_p90_is_100():
    assert stats.min_samples_for(90.0) == 100
    assert stats.samples_beyond(100, 90.0) == 10
    assert stats.samples_beyond(99, 90.0) == 9


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 90.0) == 90
    assert stats.percentile(v, 50.0) == 50
    assert stats.percentile([5.0], 90.0) == 5.0
    # ten samples beyond the reported p90
    assert sum(x > stats.percentile(v, 90.0) for x in v) == 10


# --- file -> micro-batch join -------------------------------------------------

def _log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def _entry(name, batch):
    return {"path": f"file:///x/src/{name}", "timestamp": 0, "batchId": batch,
            "action": "add"}


def test_file_batches_reads_batches_and_compactions(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    _log(d / "0", [_entry("a", 0)])
    _log(d / "1.compact", [_entry("a", 0), _entry("b", 1), _entry("c", 1)])
    _log(d / "2", [_entry("d", 2)])
    (d / ".2.crc").write_text("x")  # not a log file
    assert stats.file_batches(str(tmp_path)) == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_file_latencies_from_commit_of_reading_batch():
    due = {"a": 10.0, "b": 10.5, "c": 11.0}
    batch_of = {"a": 0, "b": 1, "c": 1}
    commit = {0: 12.0, 1: 14.0}
    assert stats.file_latencies(due, batch_of, commit) == {
        "a": 2.0, "b": 3.5, "c": 3.0}


def test_file_latencies_refuses_unread_or_uncommitted():
    with pytest.raises(KeyError):
        stats.file_latencies({"a": 1.0}, {}, {})
    with pytest.raises(KeyError):
        stats.file_latencies({"a": 1.0}, {"a": 3}, {0: 2.0})


def test_progress_end_is_start_plus_trigger():
    p = {"timestamp": "2026-01-01T00:00:01.500Z",
         "durationMs": {"triggerExecution": 250}}
    assert stats.progress_end(p) == pytest.approx(1767225601.75)


def test_backlog_max():
    released = [0.0, 1.0, 2.0, 3.0]
    assert stats.backlog_max(released, [(2.5, 2), (3.5, 2)]) == 3
    # the first batch commits two files before the third release
    assert stats.backlog_max(released, [(1.5, 2), (3.5, 2)]) == 2


# --- spans ----------------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert tracing.covered([], 0, 1) == 0


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    parent = tr.add("pass", 0.0, 10.0)
    tr.add("query.a", 1.0, 4.0, parent.id)
    tr.add("query.b", 3.0, 6.0, parent.id)
    assert tr.self_time(parent) == 5.0


def test_task_skew_worst_stage():
    st = [{"task_s": [1.0, 1.0, 3.0]}, {"task_s": [2.0, 2.0]}, {"task_s": [9.0]}]
    assert tracing.task_skew(st) == 3.0


def test_event_log_python_metrics_by_stage(tmp_path):
    plan = {"nodeName": "MapInArrow", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7,
         "metricType": "timing"}], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500,
                       "Accumulables": [{"ID": 7, "Update": 40}]},
         "Task Metrics": {"Executor Run Time": 450, "Executor CPU Time": 2e8}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Stage Attempt ID": 0, "Submission Time": 1000,
            "Completion Time": 1600}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tracing.parse_event_log(str(path))
    assert log.jobs[0]["group"] == "g" and log.jobs[0]["end"] == 1.7
    st = log.stages[(3, 0)]
    assert st["py"] == {("map_in_arrow", "total"): 40}
    assert st["run_s"] == 0.45 and st["cpu_s"] == pytest.approx(0.2)
    assert (st["start"], st["end"], st["task_s"]) == (1.0, 1.6, [0.5])


def test_codegen_fallbacks_counted(tmp_path):
    p = tmp_path / "driver.log"
    p.write_text("WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan\n"
                 "INFO something else\n"
                 "ERROR CodeGenerator: failed to compile: org.codehaus.commons."
                 "compiler.CompileException\n")
    assert tracing.count_codegen_fallbacks(str(p)) == 2
    assert tracing.count_codegen_fallbacks(str(tmp_path / "none")) == 0
