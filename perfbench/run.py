"""Layered benchmark for the engine: one command, one workload per call.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from the seed under a per-run directory
in the checkout, runs the workload in a child process (``driver.py``),
prints every metric by name and unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics.  ``--trace 1`` reports the per-layer metrics plus the
tracing overhead: in one process, each query of a pass runs untraced and
traced back to back.  Any oracle mismatch or failed query exits non-zero.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

CHILD_TIMEOUT_S = 150.0


def _make_inputs(root: str, seed: int, wl: workloads.Workload) -> str:
    data = os.path.join(root, "data")
    base = workloads.data_dir(data, 1)
    gen.make_base(base, seed, sf=wl.sf)
    for tier in wl.tiers:
        if tier > 1:
            gen.make_tier(base, workloads.data_dir(data, tier), tier)
    return data


def _session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid``.  The child starts its own session;
    the JVM and the PySpark worker daemon (which moves to its own process
    group) stay in it."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session, ...
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever the child left running (JVM, Python workers) and wait
    until every process of its session has ended."""
    deadline = time.time() + 30
    while True:
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        if not _session_pids(proc.pid) or time.time() > deadline:
            return
        time.sleep(0.05)


def _run_child(root: str, data: str, args) -> dict:
    out = os.path.join(root, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        # the short-lived launcher JVM of spark-submit, likewise kept inside
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--root", root, "--out", out,
    ]
    log = os.path.join(root, "driver.log")
    sys.stdout.flush()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True, stderr=err)
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_session(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise SystemExit(f"driver failed (exit code {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def _event_log(root: str) -> dict:
    logdir = os.path.join(root, "eventlog")
    files = [os.path.join(logdir, f) for f in os.listdir(logdir)]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise SystemExit(f"expected one uncompressed event log file, found {files}")
    with open(files[0]) as f:
        return tracing.parse_event_log(f)


def _print_metrics(metrics: dict[str, float], units: dict[str, str]) -> dict:
    out = {}
    for name, unit in units.items():
        value = float(metrics[name])
        print(f"{name}: {value:.6g} {unit}")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    wl = workloads.WORKLOADS[args.workload]
    # a terminated benchmark still stops its Spark processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    root = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(root, sub))
    try:
        data = _make_inputs(root, args.seed, wl)
        run = _run_child(root, data, args)
        for line in report.describe_run(run):
            print("# " + line)
        for label, times in sorted(run["per_query"].items()):
            print(f"# {label}: " + " ".join(f"{t:.3f}" for t in times))
        failed = len(run["failures"])
        attempted = run["attempted"]
        if args.trace:
            layer, rows = report.per_layer(run, _event_log(root))
            for r in rows:
                print("# " + json.dumps({k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items()}))
            for line in report.tier_split(rows):
                print("# " + line)
            metrics = _print_metrics(layer, report.PER_LAYER_UNITS)
        else:
            metrics = _print_metrics(report.end_to_end(run), report.END_TO_END_UNITS)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
