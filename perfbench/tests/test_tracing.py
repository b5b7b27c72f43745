import json
import os
from types import SimpleNamespace

import pytest

from tracing import ProgressRecorder, Tracer, parse_event_log, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(i, parent, t0, t1, name="s"):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": name, "query": "q"}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps span 1: [1, 5] covered once
        _span(3, 1, 1.5, 2.0),   # grandchild: counted against span 1 only
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)


def test_tracer_nests_spans_and_records_parents():
    t = Tracer()
    with t.span("query"):
        with t.span("build"):
            t.wrap("readers", lambda: None)()
    names = [(s["name"], s["parent"]) for s in t.spans]
    assert names == [("query", None), ("build", 0), ("readers", 1)]
    assert all(s["t1"] >= s["t0"] for s in t.spans)


def test_event_log_parser_on_captured_log():
    with open(os.path.join(HERE, "data", "tiny_eventlog.jsonl")) as f:
        parsed = parse_event_log(f)
    jobs = parsed["jobs"]
    assert [j["group"] for j in jobs] == ["g1", "g1", "g2", "g2", "g3"]
    assert sum(j["stages"] for j in jobs) == 5
    assert sum(j["tasks"] for j in jobs) == 10
    assert jobs[3]["output_bytes"] == 41563.0
    # the mapInPandas job ran Python workers
    assert jobs[4]["python_run_ms"] > 0 and jobs[4]["python_sent_bytes"] > 0
    assert all(j["python_run_ms"] == 0 for j in jobs[:4])
    # one file-writing SQL execution: the 3-partition parquet write
    assert len(parsed["writes"]) == 1
    w = parsed["writes"][0]
    assert (w["files"], w["bytes"]) == (3.0, 41563.0)
    assert w["t1"] >= w["t0"]


def test_progress_recorder_drain_wall_time_and_rows():
    rec = ProgressRecorder()
    rec.on_started("r1", "2024-01-01T00:00:00.000Z")

    def progress(ts, rows, trigger):
        return SimpleNamespace(
            runId="r1", timestamp=ts, numInputRows=rows,
            durationMs={"triggerExecution": trigger, "addBatch": trigger // 2,
                        "walCommit": 3, "commitOffsets": 2, "queryPlanning": 1},
            stateOperators=[SimpleNamespace(numRowsTotal=5, memoryUsedBytes=100, commitTimeMs=4)],
        )

    rec.on_progress(progress("2024-01-01T00:00:01.000Z", 10, 500))
    rec.on_progress(progress("2024-01-01T00:00:02.000Z", 30, 1000))
    rec.on_terminated("r1")
    rec.wait_idle(timeout=1)
    (d,) = rec.drains()
    assert d["rows"] == 40 and d["batches"] == 2
    assert d["wall_s"] == pytest.approx(3.0)
    assert rec.batches[0]["commit_ms"] == 5.0


def test_event_log_sums_task_updates_not_cumulative_stage_values():
    # one SQL accumulator updated by two stages: the second stage's value is
    # cumulative (3 + 4), its tasks' updates are not
    name = "time to run Python workers"
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": name, "Update": "3", "Value": "3"}]}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 1,
                        "Accumulables": [{"Name": name, "Value": "3"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [{"Name": name, "Update": "4", "Value": "7"}]}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 1,
                        "Accumulables": [{"Name": name, "Value": "7"}]}},
    ]
    (job,) = parse_event_log(json.dumps(e) for e in lines)["jobs"]
    assert job["python_run_ms"] == 7.0
    assert (job["stages"], job["tasks"], job["group"]) == (2, 2, None)
