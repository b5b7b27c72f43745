"""One benchmark run inside its own Python process (started by ``run.py``).

Sets up a Spark session, runs the workload's query list as one client in a
closed loop for the requested seconds, checks every query against the
DuckDB oracle once, and writes the run's measurements as JSON.  With
``--trace 1`` it also records spans, job groups, Catalyst phases and the
JSON event log, and writes the per-layer report.

Runs as a child of ``run.py`` so that TMPDIR and SPARK_LOCAL_DIRS are in
place before PySpark or ``tempfile`` first read them, so that the event-log
settings (static for a JVM) apply from the start, and so that the parent can
stop the whole process group (JVM, Python workers) when the run ends.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402


class _TimedConnection:
    """DuckDB connection proxy that adds up the oracle's own time, so the
    untimed check pass can count toward set-up without the oracle."""

    def __init__(self, con):
        self._con = con
        self.seconds = 0.0

    def _timed(self, method, *args):
        t = time.perf_counter()
        try:
            return getattr(self._con, method)(*args)
        finally:
            self.seconds += time.perf_counter() - t

    def sql(self, *args):
        return self._timed("sql", *args)

    def execute(self, *args):
        return _TimedResult(self, self._timed("execute", *args))


class _TimedResult:
    def __init__(self, owner: _TimedConnection, cur):
        self._owner, self._cur = owner, cur

    def fetchdf(self):
        t = time.perf_counter()
        try:
            return self._cur.fetchdf()
        finally:
            self._owner.seconds += time.perf_counter() - t


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _session(args):
    from big_data_analytics_project_spark.session import get_spark

    conf = {
        # A fixed 2 GiB heap (-Xms = -Xmx), not the engine's 8g default: at
        # 8g, peak RSS follows the collector's young-generation sizing
        # (4.6-6.9 GB over five seeds) rather than the program's memory.
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(args.root, "warehouse"),
        "spark.local.dir": os.path.join(args.root, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(args.root, 'tmp')}"
        " -Xms2g -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(args.root, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _phases(qe) -> dict[str, float]:
    """Catalyst phase durations (ms) from ``QueryExecution.tracker()``."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = float(phases.get(name).get().durationMs())
    return out


def run_query(spark, spec, data_dir: str, label: str, tracer=None) -> float:
    """Build the query (``spec.fn``) and execute it through the noop sink;
    return the wall time of both.  With a tracer, the build, the forced
    physical planning and the write are spans of one ``query`` span."""
    if tracer is None:
        t = time.perf_counter()
        spec.fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
    else:
        tracer.query = label
        t = time.perf_counter()
        with tracer.span("query"):
            with tracer.span("build"):
                df = spec.fn(spark, data_dir)
            with tracer.span("catalyst") as rec:
                # the DataFrame's own tracker holds only analysis until its
                # physical plan is forced; the noop write plans separately
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                rec["phases"] = _phases(qe)
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        tracer.query = None
    # dedup pipelines persist their results; drop them so repeats measure
    # compute, not cache hits (as bench.py does)
    spark.catalog.clearCache()
    return dt


def _check(spark, con, spec, data_dir: str, verify) -> tuple[bool, str]:
    """Run one query through the oracle check; returns (ok, detail)."""
    try:
        rep = verify.run_one(spark, con, spec, data_dir)
    except Exception as e:  # noqa: BLE001 - a failing query is a result, not a crash
        return False, f"EXCEPTION {type(e).__name__}: {str(e)[:300]}"
    finally:
        spark.catalog.clearCache()
    if spec.sql is None:
        # rows-only: the oracle cannot recompute it, so require rows
        return rep.rows_spark > 0, f"rows-only, {rep.rows_spark} rows"
    return rep.ok, f"rows {rep.rows_spark}/{rep.rows_oracle} {rep.detail}".strip()


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--root", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    wl = workloads.WORKLOADS[args.workload]

    t_session = time.perf_counter()
    spark = _session(args)
    session_create_s = time.perf_counter() - t_session
    from big_data_analytics_project_spark import verify
    from big_data_analytics_project_spark.registry import load_all

    t_registry = time.perf_counter()
    registry = load_all()
    t_loaded = time.perf_counter()
    missing = [n for n in wl.queries if n not in registry]
    if missing:
        raise SystemExit(f"workload {args.workload}: unregistered queries {missing}")
    members = [
        (label, spec, workloads.data_dir(args.data, tier))
        for label, spec, tier in workloads.members(wl, registry)
    ]

    tracer = None
    if args.trace:
        # enabled through the check pass too, where streams stage their input
        # (staging is cached per process, so the window never repeats it)
        tracer = tracing.Tracer(spark.sparkContext)
        tracing.wrap_layers(tracer)
    recorder = tracing.ProgressRecorder()
    recorder.attach(spark)

    rng = random.Random(args.seed)
    failures: list[str] = []
    attempted = 0

    # Set-up ends after two untimed passes: the oracle check, then one more
    # execution of every query through the timed path.  Without the second,
    # the first timed pass ran about 25% slower than the next ones (the JIT
    # still compiling the noop-write path) by a share that varied run to run.
    oracles = {}
    for label, spec, data in rng.sample(members, len(members)):
        if data not in oracles:
            oracles[data] = _TimedConnection(verify.duck_connect(data))
        t_check = time.perf_counter()
        ok, detail = _check(spark, oracles[data], spec, data, verify)
        attempted += 1
        print(f"# check {label}: {'ok' if ok else 'FAIL'} {detail}"
              f" ({time.perf_counter() - t_check:.2f} s)", flush=True)
        if not ok:
            failures.append(label)
    if tracer is not None:
        tracer.enabled = False
    for label, spec, data in rng.sample(members, len(members)):
        attempted += 1
        try:
            run_query(spark, spec, data, label)
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            failures.append(label)
            print(f"# FAIL {label}: {type(e).__name__}: {str(e)[:300]}", flush=True)
        finally:
            recorder.wait_idle()
    t_ready = time.perf_counter()
    setup_s = (t_ready - _T_START) - sum(o.seconds for o in oracles.values())

    # Timed window: a fixed number of whole passes, so every run measures
    # the same mix; the seed shuffles the order of each pass.  A traced run
    # runs every query untraced and traced back to back, alternating which
    # goes first, so warm-up favours neither side of the overhead figure.
    modes = ("untraced", "traced") if tracer is not None else ("untraced",)
    timings = {m: {label: [] for label, _, _ in members} for m in modes}
    streams = {m: set() for m in modes}
    pass_seconds = []
    t_window = time.perf_counter()
    for p in range(wl.passes(args.seconds)):
        t_pass = time.perf_counter()
        for i, (label, spec, data) in enumerate(rng.sample(members, len(members))):
            for mode in (modes if (i + p) % 2 == 0 else modes[::-1]):
                with recorder.lock:
                    before = set(recorder.started)
                active = tracer if mode == "traced" else None
                if tracer is not None:
                    tracer.enabled = active is not None
                attempted += 1
                try:
                    dt = run_query(spark, spec, data, label, active)
                except Exception as e:  # noqa: BLE001 - counted as a failed query
                    failures.append(label)
                    print(f"# FAIL {label}: {type(e).__name__}: {str(e)[:300]}", flush=True)
                    continue
                finally:
                    recorder.wait_idle()
                    with recorder.lock:
                        streams[mode] |= set(recorder.started) - before
                timings[mode][label].append(dt)
        pass_seconds.append(time.perf_counter() - t_pass)
    window_s = time.perf_counter() - t_window

    def listener_view(mode: str) -> dict:
        return {
            "drains": [d for d in recorder.drains() if d["run"] in streams[mode]],
            "batches": [b for b in recorder.batches if b["run"] in streams[mode]],
        }

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    untraced = timings["untraced"]
    result = {
        "workload": args.workload,
        "attempted": attempted,
        "failures": failures,
        "setup_s": setup_s,
        "session_create_s": session_create_s,
        "registry_load_s": t_loaded - t_registry,
        "window_s": window_s,
        "pass_seconds": pass_seconds,
        "executions_per_pass": len(members),
        "latencies": [t for v in untraced.values() for t in v],
        "per_query": untraced,
        **listener_view("untraced"),
        "peak_rss_mb": _rss_mb("self") + _rss_mb(jvm_pid),
    }
    if tracer is not None:
        result["traced"] = {
            "passes": len(pass_seconds),
            "per_query": timings["traced"],
            "spans": tracer.spans,
            "slots": spark.sparkContext.defaultParallelism,
            "session_create_s": result["session_create_s"],
            "registry_load_s": result["registry_load_s"],
            **listener_view("traced"),
        }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
