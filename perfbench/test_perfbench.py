"""Tests of the benchmark's own parts: stub determinism, event-log
attribution, the names it emits, and the layer reader.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import asyncio
import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import layers, run, stub_api
from perfbench.spans import Span, Tracer, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _replay(seed: int, reports: list[str]) -> list[tuple]:
    """POST then GET every report once, retrying each failure once, the
    way the pipeline's RetryPolicy does; returns what was served."""
    api = stub_api.StubApi(seed)
    auth = {"authorization": f"Bearer {api.token}"}
    api.latency_s = lambda *key: 0.0  # same schedule, no sleeping

    async def go():
        out = []
        for r in reports:
            body = json.dumps({"report": r}).encode()
            post = await api.route("POST", "/reports/generate", auth, body)
            first_post = post[0]
            if post[0] != 200:
                post = await api.route("POST", "/reports/generate", auth, body)
            rid = json.loads(post[2])["report_id"]
            get = await api.route("GET", f"/reports/download?id={rid}", auth, b"")
            first_get = get[0]
            if get[0] != 200:
                get = await api.route("GET", f"/reports/download?id={rid}", auth, b"")
            out.append((r, first_post, first_get, get[0], stub_api.payload_digest(get[2])))
        return out

    return asyncio.run(go())


def test_stub_is_deterministic_for_a_seed():
    reports = [f"r{i}" for i in range(40)]
    assert _replay(7, reports) == _replay(7, reports)
    assert _replay(7, reports) != _replay(8, reports)


def test_stub_payloads_match_across_processes():
    """blake2b, not the per-process salted hash(): a fresh interpreter
    with another hash seed serves the same bytes and latencies."""
    code = (
        "from perfbench import stub_api as s;"
        "print(s.payload_digest(s.report_payload(3, 'rpt_a')), s.StubApi(3).latency_s('get', 'x'))"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONHASHSEED": str(h)},
        ).stdout
        for h in (1, 2)
    }
    assert len(outs) == 1


def test_stub_errors_are_transient_and_shares_hold():
    reports = [f"r{i}" for i in range(3000)]
    served = _replay(11, reports)
    assert all(final == 200 for *_, final, _d in served)  # every retry succeeds
    post_429 = sum(1 for _r, post, *_ in served if post == 429) / len(served)
    get_503 = sum(1 for _r, _p, first, *_ in served if first == 503) / len(served)
    assert 0.003 < post_429 < 0.02
    assert 0.01 < get_503 < 0.03
    large = sum(1 for r in reports if stub_api.report_rows(11, r) >= 20_000) / len(reports)
    assert 0.07 < large < 0.13
    assert all(1_000 <= stub_api.report_rows(11, r) <= 50_000 for r in reports)
    lat = [stub_api.StubApi(11).latency_s("get", r) for r in reports]
    assert 0.010 <= min(lat) and max(lat) <= 0.050


def test_event_log_puts_shuffle_bytes_in_the_exec_phase(tmp_path):
    from talkdesk_async_etl_spark.session import build_session

    spark = build_session(
        app_name="perfbench-test", cpus=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(tmp_path),
            "spark.sql.adaptive.enabled": "false",
        },
    )
    try:
        tracer = Tracer(sc=spark.sparkContext)
        with tracer.span("query", "q#0"):
            with tracer.span("build", "q#0", "build"):
                df = spark.range(20_000).selectExpr("id % 7 AS k", "id AS v")
            with tracer.span("exec", "q#0", "exec"):
                rows = df.groupBy("k").count().collect()  # map stage + reduce stage
        assert len(rows) == 7
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
    (log,) = [p for p in tmp_path.iterdir() if not p.name.endswith(".inprogress")]
    groups = parse_event_log(str(log))
    ex = groups["q#0|exec"]
    assert ex["jobs"] >= 1 and ex["tasks"] >= 2
    assert ex["shuffle_write_mb"] > 0 and ex["shuffle_read_mb"] > 0
    assert "q#0|build" not in groups  # building a DataFrame ran no job
    assert not any(g.get("shuffle_write_mb") for name, g in groups.items() if name != "q#0|exec")


def test_emitted_names_are_well_formed_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    declared = {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    assert declared["end_to_end"] == run.END_TO_END
    assert declared["per_layer"] == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    names = [*run.END_TO_END, *run.PER_LAYER, *run.WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    for unit in [*run.END_TO_END.values(), *run.PER_LAYER.values()]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit


def test_self_time_and_layer_reader():
    tracer = Tracer()
    tracer.spans = [
        Span("query", "q#0", 0.0, 10.0, None),
        Span("build", "q#0", 0.0, 4.0, 0),
        Span("io.read_table", "q#0", 1.0, 2.0, 1),
        Span("exec", "q#0", 4.0, 9.0, 0),
    ]
    assert tracer.self_times() == pytest.approx(
        {"query": 1.0, "build": 3.0, "io.read_table": 1.0, "exec": 5.0}
    )
    detail = {
        "workload": "analytics", "seed": 1, "traced_passes": 1,
        "self_s": tracer.self_times(),
        "op_spans": {"q": {"query": 10.0, "build": 4.0, "exec": 5.0}},
        "op_groups": {"q": {"exec": {"jobs": 2.0}}},
        "metrics": {"exec.s": 5.0},
    }
    assert "exec" in layers.rank(detail)[2]
    after = {**detail, "metrics": {"exec.s": 4.0}}
    assert any("-1.0000" in line for line in layers.diff(detail, after))
