#!/usr/bin/env python3
"""perfbench: the repository's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``analytics``: registered queries over the fixed sf0.1 tables, each
  built by its registry ``fn`` and consumed by ``count()``; the seed
  shuffles the query order of every pass.
- ``report_etl``: ``pipeline.runner.run_pipeline`` against the stub API
  (``stub_api.py``), whose payloads, latencies and errors the seed
  generates; one pass is a driver-async run and a distributed run.

Both are closed loops: one client thread submits the next query or
pipeline run only after the previous one returned.

A run sets up ``SETUPS`` times (the first in a fresh JVM, the others in
the same JVM after ``spark.stop()`` and a re-import of the package) and
reports the median as ``setup_s``. Outputs are checked in the same
command: an untimed verification pass compares every query with its
DuckDB oracle (rows-only without one), and every pipeline run is checked
against the payloads the stub served and the monitoring summary. The
timed passes then run for ``--seconds``. ``--trace 1`` instead runs with
an event log, alternates untraced and traced passes and reports the
per-layer metrics; its detail (spans, per-operation phases, event-log
totals) goes to ``.perfbench_out/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "talkdesk_async_etl_spark"
# The fixed, read-only sf0.1 tables that bench.py and the tests use too.
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# Set-ups per run: an analytics set-up in a warm JVM costs ~2.5 s, a
# report_etl one ~8 s (it includes a pipeline warm-up run), so the ETL
# workload sets up once to leave its timed passes enough of the run.
SETUPS = {"analytics": 3, "report_etl": 1}
# Timed passes run for --seconds and at least this many times, so each
# operation's median is robust to one odd pass: a stall, or a run whose
# 50 driver-async reports happened to need no retry (1 s backoff).
MIN_PASSES = 3
# Checked but untimed passes after verification. An analytics pass is
# still ~30% slower on its first timed pass than on its third while the
# JIT warms up (graph_kcore most), so a median over unwarmed passes
# depends on where the ramp was cut. report_etl's set-up already ends
# with a full-size warm-up run.
WARMUP_PASSES = {"analytics": 2, "report_etl": 0}

# Exec-heavy relational work, one fixpoint loop, and an Arrow and a
# pandas Python boundary; why each is here is in README.md.
ANALYTICS_QUERIES = (
    "agg_conditional_sum",
    "tpch_q3",
    "graph_kcore",
    "udf_map_in_arrow",
    "udaf_cogroup_asof",
)
WORKLOADS = ("analytics", "report_etl")

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "setup.cold_s": "s",
    "session.build_s": "s",
    "registry.load_s": "s",
    "setup.first_touch_s": "s",
    "session.peak_rss_mb": "MB",
    "io.read_table.calls": "count",
    "io.read_table.s": "s",
    "io.read_table.jobs": "count",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "operators.build_executor_run_s": "s",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mem_mb": "MB",
    "exec.spill_disk_mb": "MB",
    "exec.core_busy_share": "share",
    "harness.remainder_s": "s",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "python.rows_received": "count",
    "config.s": "s",
    "runner.fanout_s": "s",
    "runner.spark_jobs": "count",
    "monitoring.write_s": "s",
    "monitoring.writes": "count",
    "monitoring.read_s": "s",
    "http.requests": "count",
    "http.inflight_max": "count",
    "http.service_ms_p50": "ms",
    "http.mb_served": "MB",
    "retry.retried_requests": "count",
    "retry.attempts_per_report": "ratio",
    "sink.files": "count",
    "sink.mb_written": "MB",
    "async.reports_per_s": "1/s",
    "dist.reports_per_s": "1/s",
    "async.report_p50_ms": "ms",
    "async.report_p95_ms": "ms",
    "dist.report_p50_ms": "ms",
    "dist.report_p95_ms": "ms",
    "trace.pass_s": "s",
    "trace.overhead_share": "share",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str, cpus: int) -> dict[str, str]:
    """Process environment and Spark conf of the harness. Must run
    before pyspark starts the JVM, which the Python workers inherit."""
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # The Python workers import the engine and perfbench.etl by module
    # path; the oracle harness lives in the repo's tests directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise write hsperfdata files
    # to the system temp directory.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


class Harness:
    """Session lifecycle and the closed-loop client of one run."""

    def __init__(self, workload: str, seed: int, work: str, conf: dict[str, str], cpus: int):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.conf = conf
        self.cpus = cpus
        self.rng = random.Random(seed)
        self.spark = None
        self.registry = None
        self.setups: list[dict[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.stub = None
        self.names: list[str] = []

    # -- set-up --------------------------------------------------------

    def set_up(self, event_log: bool) -> None:
        """build_session + load_all + first touch of the inputs."""
        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
                del sys.modules[name]
        conf = dict(self.conf)
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
            })
        t0 = time.perf_counter()
        from talkdesk_async_etl_spark.session import build_session

        self.spark = build_session(app_name=f"perfbench-{self.workload}", cpus=self.cpus, extra_conf=conf)
        t1 = time.perf_counter()
        from talkdesk_async_etl_spark.plans.registry import load_all

        self.registry = load_all()
        t2 = time.perf_counter()
        self.first_touch()
        t3 = time.perf_counter()
        self.setups.append({"session": t1 - t0, "registry": t2 - t1, "touch": t3 - t2, "total": t3 - t0})
        log(f"set-up {len(self.setups)}: {t3 - t0:.2f}s (session {t1 - t0:.2f}, "
            f"registry {t2 - t1:.2f}, first touch {t3 - t2:.2f})")

    def first_touch(self) -> None:
        if self.workload == "analytics":
            from talkdesk_async_etl_spark.schemas import TESTDATA_TABLES
            from talkdesk_async_etl_spark.sources.io import read_table

            for name in TESTDATA_TABLES:
                read_table(self.spark, SF_DIR, name).count()
        else:
            # The first pipeline run of a session is the slow one. A
            # full-size distributed run warms every Spark path a
            # driver-async run takes (config plan, collect, monitoring
            # appends) and starts one Python worker per partition.
            from perfbench import etl

            if self.stub.base_url == "":
                self.stub.wait_ready()
            rec = etl.run_checked(self.spark, self.stub, self.names, "distributed", self.work)
            self.account(rec.reports, rec.failed, rec.problems)

    def account(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        for p in problems:
            log(f"FAILED {p}")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        stop_jvm()

    def hygiene(self) -> None:
        """Between queries, as bench.py does: drop cached blocks, GC."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    # -- analytics -----------------------------------------------------

    def verify_analytics(self) -> dict[str, int]:
        """Untimed pass: oracle comparison (or rows-only), row counts."""
        from oracle_harness import _normalize, compare, duckdb_connect

        expected: dict[str, int] = {}
        con = duckdb_connect(SF_DIR)
        try:
            for q in self.rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
                spec = self.registry[q]
                t0 = time.perf_counter()
                try:
                    if spec.oracle is not None:
                        problems = compare(self.spark, q, spec.fn, spec.oracle, SF_DIR)
                        expected[q] = con.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
                    else:
                        df = spec.fn(self.spark, SF_DIR)
                        rows = [tuple(r) for r in df.collect()]
                        _normalize(list(df.columns), rows)
                        problems = [] if rows else [f"{q}: 0 rows"]
                        expected[q] = len(rows)
                except Exception as exc:  # noqa: BLE001 — a failing query is reported, not fatal
                    problems = [f"{q}: {type(exc).__name__}: {exc}"[:500]]
                self.account(1, 1 if problems else 0, problems)
                self.hygiene()
                log(f"verified {q}: {expected.get(q)} rows, {time.perf_counter() - t0:.2f}s")
        finally:
            con.close()
        return expected

    def analytics_pass(self, expected: dict[str, int], tracer=None, pass_no: int = 0) -> "Pass":
        times: dict[str, float] = {}
        for q in self.rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
            fn = self.registry[q].fn
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    n = fn(self.spark, SF_DIR).count()
                else:
                    n = traced_query(tracer, self.spark, fn, f"{q}#{pass_no}")
                ok = n == expected.get(q)
                problem = f"{q}: count {n} != verified {expected.get(q)}"
            except Exception as exc:  # noqa: BLE001
                ok, problem = False, f"{q}: {type(exc).__name__}: {exc}"[:500]
            times[q] = time.perf_counter() - t0
            self.account(1, 0 if ok else 1, [] if ok else [problem])
            self.hygiene()
        return Pass(times)

    # -- report ETL ----------------------------------------------------

    def etl_pass(self, pass_no: int = 0, tracer=None) -> "Pass":
        from perfbench import etl

        records = []
        for profile, n in (("driver-async", etl.ASYNC_REPORTS), ("distributed", etl.dist_reports(self.cpus))):
            op = f"{profile}#{pass_no}"
            if tracer is None:
                rec = etl.run_checked(self.spark, self.stub, self.names[:n], profile, self.work)
            else:
                with tracer.span("check", op):
                    rec = etl.run_checked(self.spark, self.stub, self.names[:n], profile, self.work)
            self.account(rec.reports, rec.failed, rec.problems)
            records.append(rec)
        return Pass({rec.profile: rec.wall_s for rec in records}, records)

    # -- timed loop ----------------------------------------------------

    def one_pass(self, expected: dict[str, int] | None, tracer, pass_no: int) -> "Pass":
        if self.workload == "analytics":
            return self.analytics_pass(expected, tracer, pass_no)
        return self.etl_pass(pass_no, tracer)

    def warm_up(self, expected: dict[str, int] | None) -> None:
        for i in range(WARMUP_PASSES[self.workload]):
            t0 = time.perf_counter()
            self.one_pass(expected, None, i)
            log(f"warm-up pass {i + 1}: {time.perf_counter() - t0:.2f}s")

    def timed(self, seconds: float, expected: dict[str, int] | None) -> list["Pass"]:
        """Closed loop of untraced passes: for ``seconds``, and at least
        ``MIN_PASSES`` times."""
        passes: list[Pass] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(passes) < MIN_PASSES:
            passes.append(self.one_pass(expected, None, len(passes)))
        return passes


@dataclass
class Pass:
    """One timed pass: seconds per operation (query, or pipeline run per
    profile), and the checked ETL run records."""

    times: dict[str, float]
    records: list = field(default_factory=list)

    @property
    def total_s(self) -> float:
        return sum(self.times.values())


def median_pass_s(passes: list[Pass]) -> float:
    """A pass built from each operation's median time over the passes,
    so a stall in one pass moves one operation's sample, not the pass."""
    return sum(statistics.median(p.times[op] for p in passes) for op in passes[0].times)


def traced_query(tracer, spark, fn, op: str) -> int:
    """Build, plan and execute one query as three spans. ``count()`` is
    ``groupBy().count()`` collected, so planning that Dataset and then
    collecting it splits the same work ``count()`` does."""
    with tracer.span("query", op):
        with tracer.span("build", op, "build"):
            df = fn(spark, SF_DIR)
        counted = df.groupBy().count()
        with tracer.span("plan", op, "plan"):
            counted._jdf.queryExecution().executedPlan()
        with tracer.span("exec", op, "exec"):
            return counted.collect()[0][0]


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for its JVM. ``spark.stop()``
    leaves the JVM running; it would otherwise exit only after this
    process, when it sees its stdin close."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    grandchild whose parent exits first (a Python worker daemon that
    outlives the JVM) is re-parented here and ``reap_children`` waits
    for it too."""
    import ctypes

    pr_set_child_subreaper = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            pids.append(int(entry))
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until no child process is left; after ``grace_s`` terminate,
    and 5 s later kill, the ones still running."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                log(f"stopping left-over process {pid} with {sig.name}")
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.05)


def end_to_end_metrics(h: Harness, passes: list[Pass]) -> dict[str, float]:
    log(f"passes: {[round(p.total_s, 3) for p in passes]}")
    for op in passes[0].times:
        log(f"  {op}: {[round(p.times[op], 3) for p in passes]}")
    return {
        "setup_s": statistics.median(s["total"] for s in h.setups),
        "pass_s": median_pass_s(passes),
    }


def run(args) -> dict:
    cpus = cpu_count()
    # Emptied before and after: leftovers of an interrupted run go too.
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    conf = prepare_environment(WORK_DIR, cpus)
    h = Harness(args.workload, args.seed, WORK_DIR, conf, cpus)
    adopt_orphans()
    with contextlib.ExitStack() as cleanup:  # unwinds every step even if one raises
        cleanup.callback(shutil.rmtree, WORK_DIR, ignore_errors=True)
        cleanup.callback(reap_children)
        if args.workload == "report_etl":
            from perfbench import etl

            h.names = etl.report_names(args.seed, etl.dist_reports(cpus))
            h.stub = etl.StubProcess(args.seed, h.names, os.path.join(WORK_DIR, "stub.log"))
            cleanup.callback(h.stub.close)
        cleanup.callback(h.stop)
        if args.trace:
            from perfbench.spans import RssSampler

            sampler = cleanup.enter_context(RssSampler(exclude={h.stub.proc.pid} if h.stub else set()))
        for _ in range(SETUPS[args.workload]):
            h.set_up(event_log=bool(args.trace))
        expected = h.verify_analytics() if args.workload == "analytics" else None
        h.warm_up(expected)
        if not args.trace:
            passes = h.timed(args.seconds, expected)
            metrics = end_to_end_metrics(h, passes)
            units = END_TO_END
        else:
            from perfbench import traced

            measured = traced.traced_run(h, args.seconds, expected, sampler)
            unknown = set(measured) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
            # Layers the workload does not enter read 0.
            metrics = {k: measured.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="perfbench: end-to-end and per-layer benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        log(f"no {PACKAGE} package next to the benchmark directory ({ROOT})")
        return 2
    if not os.path.isdir(SF_DIR):
        log(f"test data directory {SF_DIR} is missing")
        return 2
    # A terminated run still stops the JVM and the stub (finally blocks).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — any harness failure is a failed run
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
