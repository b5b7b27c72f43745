"""Turn one run's raw measurements into the benchmark's metrics.

``end_to_end`` reads a run's untraced executions; ``per_layer`` reads a
traced run's spans plus its parsed event log.  Per-layer figures are
computed per query execution, averaged over a query's executions, and
summed over the workload's query list, so they read as "one pass over the
workload".
"""

from __future__ import annotations

from collections import defaultdict

from stats import describe, percentile

MB = 1024.0 * 1024.0

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_qpm": "1/min",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.create_s": "s",
    "registry.load_s": "s",
    "readers.calls": "count",
    "readers.s": "s",
    "readers.jobs": "count",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.eager_job_share": "share",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.task_busy_share": "share",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.peak_exec_memory_mb": "MB",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "streaming.stage_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "stream.events_per_s": "1/s",
    "stream.batch_p50_ms": "ms",
    "stream.batch_p90_ms": "ms",
    "sinks.calls": "count",
    "sinks.write_s": "s",
    "sinks.output_mb": "MB",
    "sinks.output_files": "count",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}


def pass_seconds(per_query: dict[str, list[float]]) -> float:
    """Mean latency of each query, summed over the list: one pass's time."""
    return sum(sum(v) / len(v) for v in per_query.values() if v)


def stream_figures(run: dict) -> dict[str, float]:
    """Stream throughput and micro-batch latency from listener records."""
    drains = run["drains"]
    rows = sum(d["rows"] for d in drains)
    wall = sum(d["wall_s"] for d in drains)
    trig = [b["trigger_ms"] for b in run["batches"] if b["trigger_ms"] > 0]
    return {
        "stream.events_per_s": rows / wall if wall > 0 else 0.0,
        "stream.batch_p50_ms": percentile(trig, 50) if trig else 0.0,
        "stream.batch_p90_ms": percentile(trig, 90) if trig else 0.0,
    }


def end_to_end(run: dict) -> dict[str, float]:
    lat = run["latencies"]
    return {
        "setup_s": run["setup_s"],
        # median pass, so one pass slowed by a GC or a neighbour does not
        # set the figure
        "throughput_qpm": 60.0 * run["executions_per_pass"] / percentile(run["pass_seconds"], 50),
        "query_p50_s": percentile(lat, 50),
        "query_p90_s": percentile(lat, 90),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def describe_run(run: dict) -> list[str]:
    """Human-readable lines: each timing with its supported tail and count."""
    lines = [describe("query latency", "s", run["latencies"])]
    trig = [b["trigger_ms"] for b in run["batches"] if b["trigger_ms"] > 0]
    if trig:
        lines.append(describe("micro-batch triggerExecution", "ms", trig))
        s = stream_figures(run)
        lines.append(f"stream_events_per_s: {s['stream.events_per_s']:.1f} 1/s over {len(run['drains'])} drains")
    n = run["attempted"]
    lines.append(f"error_rate: {len(run['failures'])}/{n} = {len(run['failures']) / max(n, 1):.4f}")
    lines.append("passes: " + ", ".join(f"{s:.2f}" for s in run["pass_seconds"])
                 + f" s (window {run['window_s']:.2f} s)")
    return lines


# --- per-layer -------------------------------------------------------------

def _attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs it started: by the span's job group, else (jobs from
    other threads, e.g. a stream's micro-batches) the innermost span whose
    interval holds the job's submission time."""
    from tracing import GROUP_PREFIX

    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[dict]] = defaultdict(list)
    ordered = sorted(spans, key=lambda s: s["t0"])
    for j in jobs:
        g = j.get("group") or ""
        sid = None
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            sid = int(g[len(GROUP_PREFIX):])
            if sid not in by_id:
                sid = None
        if sid is None:
            best = None
            for s in ordered:
                if s["t0"] <= j["t"] <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                    best = s
            sid = best["id"] if best else None
        if sid is not None:
            out[sid].append(j)
    return out


def _descendants(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    memo: dict[int, list[int]] = {}

    def walk(i: int) -> list[int]:
        if i not in memo:
            memo[i] = [i] + [d for k in kids[i] for d in walk(k)]
        return memo[i]

    return {s["id"]: walk(s["id"]) for s in spans}


def query_layers(spans: list[dict], jobs: list[dict], writes: list[dict], slots: int) -> list[dict]:
    """One per-layer record per traced query execution."""
    from tracing import self_times

    by_id = {s["id"]: s for s in spans}
    desc = _descendants(spans)
    selft = self_times(spans)
    jobs_of = _attribute_jobs(spans, jobs)
    records = []
    for q in (s for s in spans if s["name"] == "query"):
        ids = desc[q["id"]]
        sub = [by_id[i] for i in ids]

        def under(name: str) -> list[dict]:
            return [s for s in sub if s["name"] == name]

        def jobs_in(roots: list[dict]) -> list[dict]:
            return [j for r in roots for i in desc[r["id"]] for j in jobs_of.get(i, ())]

        def outer(name: str) -> list[dict]:
            # drop spans nested in a span of the same layer
            return [s for s in under(name) if not (s["parent"] is not None and by_id[s["parent"]]["name"] == name)]

        all_jobs = jobs_in([q])
        build = under("build")
        exec_ = under("exec")
        cat = under("catalyst")
        wall = q["t1"] - q["t0"]
        r = {"query": q["query"], "wall_s": wall}
        r["readers.calls"] = len(under("readers"))
        r["readers.s"] = sum(s["t1"] - s["t0"] for s in outer("readers"))
        r["readers.jobs"] = len(jobs_in(outer("readers")))
        r["plans.build_s"] = sum(s["t1"] - s["t0"] for s in build)
        r["plans.build_self_s"] = sum(selft[s["id"]] for s in build)
        r["plans.build_jobs"] = len(jobs_in(build))
        phases = cat[0].get("phases", {}) if cat else {}
        r["catalyst.analysis_ms"] = phases.get("analysis", 0.0)
        r["catalyst.optimization_ms"] = phases.get("optimization", 0.0)
        r["catalyst.planning_ms"] = phases.get("planning", 0.0)
        r["exec.s"] = sum(s["t1"] - s["t0"] for s in exec_)
        r["exec.jobs"] = len(jobs_in(exec_))
        r["all_jobs"] = len(all_jobs)
        tot = defaultdict(float)
        for j in all_jobs:
            for k, v in j.items():
                if isinstance(v, (int, float)) and k not in ("job", "t", "peak_exec_mem_bytes"):
                    tot[k] += v
            tot["peak_exec_mem_bytes"] = max(tot["peak_exec_mem_bytes"], j["peak_exec_mem_bytes"])
        r["exec.stages"] = tot["stages"]
        r["exec.tasks"] = tot["tasks"]
        r["exec.executor_run_s"] = tot["executor_run_ms"] / 1000.0
        r["exec.executor_cpu_s"] = tot["executor_cpu_ms"] / 1000.0
        r["exec.gc_s"] = tot["gc_ms"] / 1000.0
        r["exec.input_mb"] = tot["input_bytes"] / MB
        r["exec.shuffle_read_mb"] = tot["shuffle_read_bytes"] / MB
        r["exec.shuffle_write_mb"] = tot["shuffle_write_bytes"] / MB
        r["exec.shuffle_fetch_wait_s"] = tot["fetch_wait_ms"] / 1000.0
        r["exec.spill_mb"] = tot["spill_bytes"] / MB
        r["exec.peak_exec_memory_mb"] = tot["peak_exec_mem_bytes"] / MB
        r["python.run_s"] = tot["python_run_ms"] / 1000.0
        r["python.start_s"] = tot["python_start_ms"] / 1000.0
        r["python.sent_mb"] = tot["python_sent_bytes"] / MB
        r["python.returned_mb"] = tot["python_returned_bytes"] / MB
        mine = [w for w in writes if q["t0"] <= w["t0"] <= q["t1"]]
        r["sinks.calls"] = len(mine)
        r["sinks.write_s"] = sum(w["t1"] - w["t0"] for w in mine)
        r["sinks.output_mb"] = sum(w["bytes"] for w in mine) / MB
        r["sinks.output_files"] = sum(w["files"] for w in mine)
        ml = outer("ml")
        r["ml.fit_s"] = sum(s["t1"] - s["t0"] for s in ml)
        r["ml.fit_jobs"] = len(jobs_in(ml))
        r["slot_s"] = wall * slots
        records.append(r)
    return records


def streaming_layers(run: dict) -> list[dict]:
    """Per drained stream: listener-side per-layer figures."""
    out = []
    by_run = defaultdict(list)
    for b in run["batches"]:
        by_run[b["run"]].append(b)
    for d in run["drains"]:
        bs = [b for b in by_run[d["run"]] if b["trigger_ms"] > 0]
        out.append({
            "streaming.drain_s": d["wall_s"],
            "streaming.batches": len(bs),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in bs),
            "streaming.commit_ms": sum(b["commit_ms"] for b in bs),
            "streaming.query_planning_ms": sum(b["planning_ms"] for b in bs),
            "streaming.state_rows": max((b["state_rows"] for b in bs), default=0),
            "streaming.state_memory_mb": max((b["state_bytes"] for b in bs), default=0) / MB,
            "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in bs),
        })
    return out


def per_layer(run: dict, parsed: dict) -> tuple[dict[str, float], list[dict]]:
    """Workload per-layer metrics (per-query means summed over the query
    list) and the per-query rows they came from, from a traced run whose
    window ran every query both untraced and traced."""
    traced, untraced = run["traced"], run
    rows = query_layers(traced["spans"], parsed["jobs"], parsed["writes"], traced["slots"])
    by_q: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_q[r["query"]].append(r)
    per_query = {}
    for q, rs in by_q.items():
        keys = [k for k in rs[0] if k != "query"]
        per_query[q] = {k: sum(r[k] for r in rs) / len(rs) for k in keys}
    total = defaultdict(float)
    for vals in per_query.values():
        for k, v in vals.items():
            total[k] += v
    passes = max(traced["passes"], 1)
    for s in streaming_layers(traced):
        for k, v in s.items():
            total[k] += v / passes
    m = {k: total.get(k, 0.0) for k in PER_LAYER_UNITS}
    # input staging is cached per process: count it wherever it happened
    m["streaming.stage_s"] = sum(
        s["t1"] - s["t0"] for s in traced["spans"] if s["name"] == "streaming.stage"
    )
    m["session.create_s"] = traced["session_create_s"]
    m["registry.load_s"] = traced["registry_load_s"]
    m["plans.eager_job_share"] = total["plans.build_jobs"] / total["all_jobs"] if total["all_jobs"] else 0.0
    m["exec.task_busy_share"] = total["exec.executor_run_s"] / total["slot_s"] if total["slot_s"] else 0.0
    m.update(stream_figures(untraced))
    base = pass_seconds(untraced["per_query"])
    m["trace.overhead_s"] = pass_seconds(traced["per_query"]) - base
    m["trace.overhead_pct"] = 100.0 * m["trace.overhead_s"] / base if base else 0.0
    return m, [{"query": q, **v} for q, v in sorted(per_query.items())]


def tier_split(rows: list[dict]) -> list[str]:
    """Build-vs-execute split per data tier (labels end in ``@x<k>``)."""
    by_tier: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for r in rows:
        tier = r["query"].rsplit("@", 1)[-1]
        for k in ("plans.build_s", "exec.s", "exec.executor_run_s", "wall_s"):
            by_tier[tier][k] += r[k]
    return [
        f"tier {t}: " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(vals.items()))
        for t, vals in sorted(by_tier.items())
    ]
