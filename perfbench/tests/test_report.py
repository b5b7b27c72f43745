from types import SimpleNamespace

import pytest

import report
import workloads
from tracing import _STAGE_SUMS


def _span(i, name, parent, t0, t1, query="q@x1"):
    return {"id": i, "name": name, "parent": parent, "t0": t0, "t1": t1, "query": query}


def _job(jid, t, group=None, **metrics):
    """A parsed event-log job: every summed stage metric zero unless given."""
    job = {key: 0.0 for key, _ in _STAGE_SUMS.values()}
    job.update(job=jid, t=t, group=group, stages=1, tasks=2, peak_exec_mem_bytes=0.0)
    job.update(metrics)
    return job


def test_query_layers_split_build_exec_and_readers():
    spans = [
        _span(0, "query", None, 0.0, 10.0),
        _span(1, "build", 0, 0.0, 4.0),
        _span(2, "readers", 1, 0.5, 1.5),
        _span(3, "catalyst", 0, 4.0, 5.0),
        _span(4, "exec", 0, 5.0, 10.0),
    ]
    spans[3]["phases"] = {"analysis": 3.0, "optimization": 4.0, "planning": 5.0}
    jobs = [
        _job(0, 1.0, group="pb2"),                    # schema read inside read_table
        _job(1, 3.0, group="pb1"),                    # eager job in the build
        _job(2, 6.0, group="pb4", executor_run_ms=8000.0),
        _job(3, 7.0, group=None, executor_run_ms=2000.0),  # another thread: by time
        _job(4, 20.0, group=None),                    # outside every span: ignored
    ]
    writes = [{"t0": 6.0, "t1": 6.5, "files": 3.0, "bytes": 2 * report.MB}]
    (r,) = report.query_layers(spans, jobs, writes, slots=4)
    assert r["readers.calls"] == 1 and r["readers.jobs"] == 1
    assert r["readers.s"] == pytest.approx(1.0)
    assert r["plans.build_s"] == pytest.approx(4.0)
    assert r["plans.build_self_s"] == pytest.approx(3.0)
    assert r["plans.build_jobs"] == 2
    assert r["exec.jobs"] == 2 and r["all_jobs"] == 4
    assert r["exec.s"] == pytest.approx(5.0)
    assert r["exec.executor_run_s"] == pytest.approx(10.0)
    assert r["catalyst.planning_ms"] == 5.0
    assert (r["sinks.calls"], r["sinks.output_files"], r["sinks.output_mb"]) == (1, 3.0, 2.0)


def test_replication_rule_reads_the_oracle_sql():
    assert workloads.replication_safe("SELECT * FROM lineitem JOIN orders USING (k)")
    assert not workloads.replication_safe("SELECT * FROM documents")
    assert not workloads.replication_safe(None)


def test_members_keep_tier_runs_to_replication_safe_queries():
    wl = workloads.Workload("w", ("a", "b"), (1, 4), pass_s=1.0)
    registry = {
        "a": SimpleNamespace(sql="SELECT 1 FROM events"),
        "b": SimpleNamespace(sql="SELECT 1 FROM embeddings"),
    }
    labels = [label for label, _, _ in workloads.members(wl, registry)]
    assert labels == ["a@x1", "b@x1", "a@x4"]
    assert wl.passes(0.1) == 1 and wl.passes(2.9) == 2
