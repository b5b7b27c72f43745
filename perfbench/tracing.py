"""Tracing for the benchmark's traced run: spans, self time, layer wrappers,
the Spark JSON event-log parser and the streaming-progress listener.

Spans are recorded only at the benchmark's own calls into each layer: the
engine package is not edited.  Layer functions are wrapped from outside
(``wrap_layers``) by rebinding the module attributes that hold them, and
every span runs its Spark jobs under a job group of its own, so the event
log attributes each job to the innermost span that started it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PKG = "big_data_analytics_project_spark"
GROUP_PREFIX = "pb"

# layer -> (module, public functions).  Imports inside the engine resolve
# these names at call time or bind them at import; ``wrap_layers`` rebinds
# both kinds.
LAYER_FUNCTIONS: dict[str, tuple[tuple[str, tuple[str, ...]], ...]] = {
    "readers": ((f"{PKG}.sources.readers", ("read_table",)),),
    "sinks": (
        (f"{PKG}.sources.sinks", (
            "write_parquet", "write_partitioned", "write_bucketed", "write_orc",
            "compact_parquet", "write_jsonl_shards", "overwrite_partitions_dynamic",
            "delete_keys_partitioned", "reliable_pin",
        )),
    ),
    "streaming.stage": (
        (f"{PKG}.streaming.processor", (
            "stage_events_as_json_stream", "stage_docs_as_json_stream",
            "stage_embeddings_as_json_stream",
        )),
    ),
    "streaming.run": (
        (f"{PKG}.streaming.processor", ("run_to_completion", "run_append_to_files")),
        (f"{PKG}.streaming.bridge", (
            "run_foreach_batch", "run_scored_stream", "run_fanout_stream", "run_scd2_stream",
        )),
    ),
}


class Tracer:
    """In-memory span recorder; ``spans`` is written out once, at the end."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = True
        self.spans: list[dict] = []
        self.query: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "query": self.query,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(), "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self._set_group(f"{GROUP_PREFIX}{sid}")
        try:
            yield rec
        finally:
            self._set_group(prev)
            self._stack.pop()
            rec["t1"] = time.time()

    def _set_group(self, group: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it that its direct children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in children[s["id"]]
        )
        covered, end = 0.0, s["t0"]
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def wrap_layers(tracer: Tracer) -> None:
    """Rebind the layer functions, everywhere the engine holds them, to
    span-recording wrappers; also wrap MLlib's ``Estimator.fit`` (layer
    ``ml``).  Call after the registry has imported every plan module."""
    from pyspark.ml.base import Estimator

    targets: dict[int, tuple[str, object]] = {}
    for layer, entries in LAYER_FUNCTIONS.items():
        for mod_name, names in entries:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for n in names:
                fn = getattr(mod, n)
                targets[id(fn)] = (layer, fn)
    wrapped = {key: tracer.wrap(layer, fn) for key, (layer, fn) in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if id(value) in wrapped and targets[id(value)][1] is value:
                setattr(mod, attr, wrapped[id(value)])

    fit = Estimator.fit

    @functools.wraps(fit)
    def traced_fit(self, *args, **kwargs):
        # nested fits (a tuning sweep fitting its estimator) stay inside the
        # outer span; only the outermost counts as ``ml``
        if not tracer.enabled or any(tracer.spans[i]["name"] == "ml" for i in tracer._stack):
            return fit(self, *args, **kwargs)
        with tracer.span("ml"):
            return fit(self, *args, **kwargs)

    Estimator.fit = traced_fit


# --- Spark JSON event log --------------------------------------------------

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": ("executor_run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_ms", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.input.bytesRead": ("input_bytes", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_ms", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1.0),
    "time to run Python workers": ("python_run_ms", 1.0),
    "time to start Python workers": ("python_start_ms", 1.0),
    "time to initialize Python workers": ("python_start_ms", 1.0),
    "data sent to Python workers": ("python_sent_bytes", 1.0),
    "data returned from Python workers": ("python_returned_bytes", 1.0),
}
_WRITE_METRICS = {"number of written files": "files", "written output": "bytes"}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def parse_event_log(lines) -> dict:
    """Parse a Spark JSON event log (uncompressed, not rolling).

    Returns ``{"jobs": [...], "writes": [...]}``: each job with its group,
    submission time (s), completed stages and their tasks, and its tasks'
    metric updates summed; each file-writing SQL execution with its start
    and end time (s), files and bytes.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    execs: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "job": jid,
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "t": e["Submission Time"] / 1000.0,
                "stages": 0, "tasks": 0, "peak_exec_mem_bytes": 0.0,
                **{k: 0.0 for k, _ in _STAGE_SUMS.values()},
            }
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            # per-task updates, not the stage's cumulative values: a SQL
            # accumulator can span several stages and jobs
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                key = _STAGE_SUMS.get(a.get("Name"))
                if key:
                    job[key[0]] += _num(a.get("Update")) * key[1]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is None:
                continue
            job["stages"] += 1
            job["tasks"] += info.get("Number of Tasks", 0)
            for a in info.get("Accumulables", ()):
                if a.get("Name") == "internal.metrics.peakExecutionMemory":
                    job["peak_exec_mem_bytes"] = max(job["peak_exec_mem_bytes"], _num(a.get("Value")))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {"t0": e["time"] / 1000.0, "t1": None, "files": 0.0, "bytes": 0.0}
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["t1"] = e["time"] / 1000.0
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = execs.get(e["executionId"])
            for acc_id, value in e.get("accumUpdates", ()):
                key = _WRITE_METRICS.get(acc_names.get(acc_id))
                if ex is not None and key:
                    ex[key] += _num(value)
                    ex["writes"] = True
    writes = [
        {"t0": x["t0"], "t1": x["t1"] if x["t1"] is not None else x["t0"],
         "files": x["files"], "bytes": x["bytes"]}
        for x in execs.values() if x.get("writes")
    ]
    return {"jobs": sorted(jobs.values(), key=lambda j: j["job"]), "writes": writes}


# --- streaming progress -----------------------------------------------------

def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressRecorder:
    """Collects ``StreamingQueryListener`` events into plain dicts.

    Kept free of pyspark at import so the unit tests can drive it; attach
    with ``attach(spark)``."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()
        self.batches: list[dict] = []

    def on_started(self, run_id: str, timestamp: str) -> None:
        with self.lock:
            self.started[run_id] = _iso(timestamp)

    def on_progress(self, p) -> None:
        d = p.durationMs or {}
        ops = p.stateOperators or []
        rec = {
            "run": str(p.runId),
            "t": _iso(p.timestamp),
            "rows": int(p.numInputRows or 0),
            "trigger_ms": float(d.get("triggerExecution", 0)),
            "add_batch_ms": float(d.get("addBatch", 0)),
            "commit_ms": float(d.get("walCommit", 0)) + float(d.get("commitOffsets", 0)),
            "planning_ms": float(d.get("queryPlanning", 0)),
            "state_rows": sum(int(o.numRowsTotal) for o in ops),
            "state_bytes": sum(int(o.memoryUsedBytes) for o in ops),
            "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
        }
        with self.lock:
            self.batches.append(rec)

    def on_terminated(self, run_id: str) -> None:
        with self.lock:
            self.terminated.add(run_id)

    def wait_idle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination has been delivered."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if set(self.started) <= self.terminated:
                    return
            time.sleep(0.02)

    def drains(self) -> list[dict]:
        """Per query run: input rows, batch count and wall time from start to
        the end of its last trigger (all from listener events)."""
        with self.lock:
            by_run: dict[str, list[dict]] = defaultdict(list)
            for b in self.batches:
                by_run[b["run"]].append(b)
            out = []
            for run, t0 in self.started.items():
                bs = [b for b in by_run.get(run, ()) if b["trigger_ms"] > 0]
                if not bs:
                    continue
                last = max(bs, key=lambda b: b["t"])
                out.append({
                    "run": run, "rows": sum(b["rows"] for b in bs), "batches": len(bs),
                    "wall_s": last["t"] + last["trigger_ms"] / 1000.0 - t0,
                })
            return out

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                rec.on_started(str(event.runId), event.timestamp)

            def onQueryProgress(self, event):
                rec.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                rec.on_terminated(str(event.runId))

        spark.streams.addListener(_Listener())
