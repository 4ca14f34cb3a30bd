"""The ``report_etl`` workload: the pipeline runner against the stub API.

One pass is one ``driver-async`` run over ``ASYNC_REPORTS`` reports and
one ``distributed`` run over ``dist_reports(cpus)`` reports, both through
``pipeline.runner.run_pipeline`` with the real ``HttpReportSource`` and
OAuth token fetcher. Every run is checked: each report succeeded, each
sink file's bytes hash to what the stub served for that report in the
run, and ``job_summary(run_id)`` equals the returned outcome.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass

from perfbench.stub_api import stable_unit

# The reference's driver-async envelope (~50 reports); the distributed
# profile gets one PARTITION_TARGET_SIZE partition per core.
ASYNC_REPORTS = 50
FROM_DATE, TO_DATE = "2024-03-01", "2024-03-02"
ENV = "bench"


def _pkg(module: str):
    """Resolve engine modules at call time: set-up re-imports the
    package, and tracing patches the fresh modules."""
    return importlib.import_module(f"talkdesk_async_etl_spark.{module}")


def dist_reports(cpus: int) -> int:
    return _pkg("pipeline.runner").PARTITION_TARGET_SIZE * cpus


def report_names(seed: int, n: int) -> list[str]:
    return [f"rpt_{int(stable_unit(seed, 'name', i) * 1e8):08d}_{i:03d}" for i in range(n)]


class StubSourceFactory:
    """Picklable ``source_factory``: executors build their own source."""

    def __init__(self, base_url: str):
        self.base_url = base_url

    def __call__(self):
        fetch = _pkg("sources.oauth").build_token_fetcher(
            f"{self.base_url}/oauth/token", "perfbench", "perfbench"
        )
        tokens = _pkg("pipeline.token").TokenManager(fetch)
        return _pkg("sources.http_source").HttpReportSource(
            self.base_url, "/reports/generate", "/reports/download", tokens
        )


class StubProcess:
    """The stub API as a child process; ``close`` stops it and waits."""

    def __init__(self, seed: int, preload: list[str], log_path: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self._stderr = open(log_path, "w", encoding="utf-8")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "stub_api.py"), "--seed", str(seed),
             "--preload", ",".join(preload)],
            stdout=subprocess.PIPE, stderr=self._stderr, text=True,
        )
        self.base_url = ""
        self._seen = 0

    def wait_ready(self) -> str:
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"stub API did not start: {line!r}")
        self.base_url = f"http://127.0.0.1:{int(line.split()[1])}"
        return self.base_url

    def new_log(self) -> list[dict]:
        """Requests logged since the previous call."""
        with urllib.request.urlopen(f"{self.base_url}/_log?since={self._seen}", timeout=30) as r:
            entries = json.loads(r.read())
        self._seen += len(entries)
        return entries

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self._stderr.close()


@dataclass
class RunRecord:
    """One checked ``run_pipeline`` call."""

    profile: str
    reports: int
    wall_s: float
    latencies_ms: dict[str, float]  # report -> sink mtime minus run start
    failed: int
    problems: list[str]
    requests: list[dict]  # the stub's log entries of this run
    sink_bytes: int


def make_config(names: list[str], base_url: str, out_dir: str):
    config = _pkg("pipeline.config")
    return config.PipelineConfig(
        env=ENV,
        output_base_path=out_dir,
        reports=tuple(config.ReportConfig(report_name=n, env=ENV) for n in names),
        endpoints=(
            config.EndpointConfig(
                endpoint_type="standard",
                base_url=base_url,
                auth_endpoint="/oauth/token",
                post_endpoint="/reports/generate",
                get_endpoint="/reports/download",
                env=ENV,
            ),
        ),
    )


def run_checked(spark, stub: StubProcess, names: list[str], profile: str, work_dir: str) -> RunRecord:
    """Empty the output directory, run the pipeline once, check it."""
    out_dir = os.path.join(work_dir, "sink")
    mon_dir = os.path.join(work_dir, "monitoring")
    for d in (out_dir, mon_dir):
        shutil.rmtree(d, ignore_errors=True)
    cfg = make_config(names, stub.base_url, out_dir)
    factory = StubSourceFactory(stub.base_url)
    monitoring = _pkg("pipeline.monitoring").MonitoringStore(spark, mon_dir)

    start = time.time()
    outcome = _pkg("pipeline.runner").run_pipeline(
        spark, cfg, factory(), monitoring, FROM_DATE, TO_DATE,
        profile=profile, source_factory=factory,
    )
    wall = time.time() - start

    requests = stub.new_log()
    served: dict[str, str] = {}
    for req in sorted(requests, key=lambda r: r["finish"]):
        if "sha256" in req:
            served[req["report"]] = req["sha256"]
    problems: list[str] = []
    bad: set[str] = set()
    latencies: dict[str, float] = {}
    sink_bytes = 0
    by_name = {r.report_name: r for r in outcome.results}
    for name in names:
        res = by_name.get(name)
        path = os.path.join(out_dir, name, f"{FROM_DATE}_to_{TO_DATE}.csv")
        if res is None or res.status != "SUCCESS" or not os.path.isfile(path):
            bad.add(name)
            problems.append(f"{profile} {name}: {res.status if res else 'missing'}"
                            f" {res.error_message if res else ''}")
            continue
        with open(path, "rb") as fh:
            body = fh.read()
        sink_bytes += len(body)
        if hashlib.sha256(body).hexdigest() != served.get(name):
            bad.add(name)
            problems.append(f"{profile} {name}: sink bytes differ from the served payload")
        latencies[name] = (os.stat(path).st_mtime - start) * 1000.0
    summary = monitoring.job_summary(outcome.run_id)
    expected = {"total": outcome.total, "ok": outcome.ok, "fail": outcome.fail}
    if summary != expected or outcome.total != len(names):
        problems.append(f"{profile}: job_summary {summary} != outcome {expected}")
        bad.update(names)
    return RunRecord(profile, len(names), wall, latencies, len(bad), problems, requests, sink_bytes)
