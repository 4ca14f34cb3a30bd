"""The traced run: per-layer metrics of one workload.

The session runs with an uncompressed event log from its set-up on.
Untraced passes (the base for ``trace.overhead_share`` and the
per-profile ETL figures) alternate with traced ones, for which the layer
wrappers go in, in ABBA order for ``--seconds``. All per-layer values are per pass
unless the name says otherwise; layers a workload does not touch read 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

from perfbench.spans import MB, Patch, Tracer, parse_event_log

PACKAGE = "talkdesk_async_etl_spark"


def install(tracer: Tracer, workload: str) -> Patch:
    """Wrap the public functions each layer is entered through."""
    patch = Patch()
    if workload == "analytics":
        io = sys.modules[f"{PACKAGE}.sources.io"]
        patch.everywhere(PACKAGE, io.read_table, tracer.wrap("io.read_table", io.read_table, "io"))
        return patch
    runner = sys.modules[f"{PACKAGE}.pipeline.runner"]
    store = sys.modules[f"{PACKAGE}.pipeline.monitoring"].MonitoringStore
    patch.set(runner, "run_pipeline", tracer.wrap("runner.run", runner.run_pipeline, "run"))
    for fn in ("config_dataframes", "build_report_plan"):
        patch.set(runner, fn, tracer.wrap("config", getattr(runner, fn), "config"))
    for fn in ("log_job_start", "log_job_end", "log_reports"):
        patch.set(store, fn, tracer.wrap("monitoring.write", getattr(store, fn), "monitoring"))
    for fn in ("jobs", "reports", "job_summary"):
        patch.set(store, fn, tracer.wrap("monitoring.read", getattr(store, fn), "monitoring_read"))
    return patch


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def latest_event_log(directory: str) -> str:
    logs = [os.path.join(directory, f) for f in os.listdir(directory) if not f.endswith(".inprogress")]
    if not logs:
        raise RuntimeError(f"no finished event log in {directory}")
    return max(logs, key=os.path.getmtime)


def _phase_totals(groups: dict[str, dict[str, float]], phases: tuple[str, ...]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for name, totals in groups.items():
        if name.rsplit("|", 1)[-1] in phases:
            for k, v in totals.items():
                out[k] += v
    return out


def _span_within(tracer: Tracer, name: str, ancestor: str) -> float:
    """Time of spans ``name`` nested (at any depth) in span ``ancestor``."""
    total = 0.0
    for s in tracer.spans:
        if s.name == name and tracer.has_ancestor(s, ancestor):
            total += s.end - s.start
    return total


def traced_run(h, seconds: float, expected, sampler) -> dict[str, float]:
    from perfbench.run import OUT_DIR, median_pass_s

    # Untraced and traced passes alternate in ABBA order (at least one
    # round of four), so a warming JVM or a drifting host favours neither.
    tracer = Tracer(sc=h.spark.sparkContext)
    untraced, passes = [], []

    def traced_pass():
        patch = install(tracer, h.workload)
        try:
            passes.append(h.one_pass(expected, tracer, len(passes)))
        finally:
            patch.undo()

    def untraced_pass():
        untraced.append(h.one_pass(expected, None, len(untraced)))

    start = time.perf_counter()
    while time.perf_counter() - start < seconds or not passes:
        for step in (untraced_pass, traced_pass, traced_pass, untraced_pass):
            step()
    base_pass_s = median_pass_s(untraced)
    h.stop()
    groups = parse_event_log(latest_event_log(os.path.join(h.work, "eventlog")))

    n = len(passes)
    traced_pass_s = median_pass_s(passes)
    m: dict[str, float] = defaultdict(float)
    m["setup.cold_s"] = h.setups[0]["total"]
    m["session.build_s"] = statistics.median(s["session"] for s in h.setups)
    m["registry.load_s"] = statistics.median(s["registry"] for s in h.setups)
    m["setup.first_touch_s"] = statistics.median(s["touch"] for s in h.setups)
    m["session.peak_rss_mb"] = sampler.peak_mb
    m["trace.pass_s"] = traced_pass_s
    m["trace.overhead_share"] = traced_pass_s / base_pass_s - 1.0

    everything = _phase_totals(groups, ("build", "io", "plan", "exec", "run", "config", "monitoring"))
    for key in ("python.run_s", "python.boot_s", "python.data_sent_mb",
                "python.data_received_mb", "python.rows_received"):
        m[key] = everything.get(key, 0.0) / n

    if h.workload == "analytics":
        io = _phase_totals(groups, ("io",))
        build = _phase_totals(groups, ("build",))
        ex = _phase_totals(groups, ("exec",))
        m["io.read_table.calls"] = tracer.count("io.read_table") / n
        m["io.read_table.s"] = tracer.total("io.read_table", top_level_only=True) / n
        m["io.read_table.jobs"] = io.get("jobs", 0.0) / n
        m["operators.build_s"] = tracer.total("build") / n
        m["operators.build_self_s"] = m["operators.build_s"] - _span_within(tracer, "io.read_table", "build") / n
        m["operators.build_jobs"] = build.get("jobs", 0.0) / n
        m["operators.build_tasks"] = build.get("tasks", 0.0) / n
        m["operators.build_executor_run_s"] = build.get("executor_run_s", 0.0) / n
        m["plan.s"] = tracer.total("plan") / n
        m["exec.s"] = tracer.total("exec") / n
        for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mem_mb", "spill_disk_mb"):
            m[f"exec.{key}"] = ex.get(key, 0.0) / n
        m["exec.core_busy_share"] = m["exec.executor_run_s"] / (m["exec.s"] * h.cpus)
        phases = m["operators.build_s"] + m["plan.s"] + m["exec.s"]
        m["harness.remainder_s"] = sum(p.total_s for p in passes) / n - phases
    else:
        records = [rec for p in passes for rec in p.records]
        run_groups = _phase_totals(groups, ("run", "config", "monitoring"))
        m["config.s"] = tracer.total("config", top_level_only=True) / n
        m["monitoring.write_s"] = tracer.total("monitoring.write", top_level_only=True) / n
        m["monitoring.writes"] = tracer.count("monitoring.write") / n
        m["monitoring.read_s"] = tracer.total("monitoring.read", top_level_only=True) / n
        m["runner.fanout_s"] = (
            tracer.total("runner.run") - _span_within(tracer, "config", "runner.run")
            - _span_within(tracer, "monitoring.write", "runner.run")
        ) / n
        m["runner.spark_jobs"] = run_groups.get("jobs", 0.0) / n
        requests = [r for rec in records for r in rec.requests]
        reports = sum(rec.reports for rec in records)
        m["http.requests"] = len(requests) / n
        m["http.inflight_max"] = max(r["inflight"] for r in requests)
        m["http.service_ms_p50"] = statistics.median((r["finish"] - r["arrival"]) * 1000 for r in requests)
        m["http.mb_served"] = sum(r["bytes"] for r in requests) / MB / n
        m["retry.retried_requests"] = sum(1 for r in requests if r["status"] in (429, 503)) / n
        report_calls = sum(1 for r in requests if r["path"] != "/oauth/token")
        m["retry.attempts_per_report"] = report_calls / (2 * reports)
        m["sink.files"] = sum(len(rec.latencies_ms) for rec in records) / n
        m["sink.mb_written"] = sum(rec.sink_bytes for rec in records) / MB / n
        for prefix, profile in (("async", "driver-async"), ("dist", "distributed")):
            recs = [rec for p in untraced for rec in p.records if rec.profile == profile]
            lat = [ms for rec in recs for ms in rec.latencies_ms.values()]
            m[f"{prefix}.reports_per_s"] = sum(r.reports for r in recs) / sum(r.wall_s for r in recs)
            m[f"{prefix}.report_p50_ms"] = percentile(lat, 50)
            m[f"{prefix}.report_p95_ms"] = percentile(lat, 95)

    os.makedirs(OUT_DIR, exist_ok=True)
    # Per operation (query, or pipeline profile), per pass: seconds per
    # span name, and event-log totals per job-group phase.
    op_spans: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        op_spans[s.op.split("#")[0]][s.name] += (s.end - s.start) / n
    op_groups: dict[str, dict[str, dict[str, float]]] = defaultdict(lambda: defaultdict(dict))
    for group, totals in groups.items():
        if "|" in group:
            op, phase = group.rsplit("|", 1)
            into = op_groups[op.split("#")[0]][phase]
            for k, v in totals.items():
                into[k] = into.get(k, 0.0) + v / n
    detail = {
        "workload": h.workload,
        "seed": h.seed,
        "traced_passes": n,
        "metrics": dict(m),
        "self_s": {k: v / n for k, v in tracer.self_times().items()},
        "op_spans": {k: dict(v) for k, v in op_spans.items()},
        "op_groups": {k: dict(v) for k, v in op_groups.items()},
        "spans": tracer.dump(),
    }
    path = os.path.join(OUT_DIR, f"trace-{h.workload}-seed{h.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1)
    print(f"perfbench: trace detail written to {path}", file=sys.stderr)
    return dict(m)
