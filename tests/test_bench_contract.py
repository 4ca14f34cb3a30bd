"""Regression net for the bench output contract (round-6 failure
class: the driver's bounded stdout tail capture could not parse the
single 93-query JSON line → BENCH_r06 `parsed: null`). Pins:

- the LAST stdout line is a compact JSON summary with the driver's
  required keys and NO per-query map (it must stay tail-sized);
- NO other stdout JSON carries a per-query `"name": float` map: the
  penultimate detail line printed through round 9 got tail-sliced by
  the driver into a spread fragment the r9 judge misread as timings
  (VERDICT r9 "What's wrong" #4) — per-query numbers are file-only;
- the summary carries the host-contention marker (constant-plan
  calibration min/max + load averages) and the per-query regression
  gate (`regressions` vs the prior stamped round) so a judge can
  mechanically separate plan regressions from shared-host noise;
- the full per-query detail is written to the $SPARK_GRAFT_BENCH_DETAIL
  path, and the subprocess run leaves the repo-root bench_detail.json
  BYTE-IDENTICAL — the r8 failure mode was this very test clobbering
  the round's gitignored detail artifact and destroying the judge's
  noise evidence;
- the detail file agrees with the summary on the headline numbers.

Runs bench.py as a subprocess on a 3-query subset at sf0.001 so the
contract — not the queries — is what's under test."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

_SUBSET = "agg_conditional_sum,filter_limit1,scalar_math"
_ROOT = Path(__file__).resolve().parent.parent
_REPO_DETAIL = _ROOT / "bench_detail.json"


def test_bench_emits_parseable_summary_last(tmp_path):
    detail_path = tmp_path / "bench_detail.json"
    repo_detail_before = _REPO_DETAIL.read_bytes() if _REPO_DETAIL.exists() else None
    stamped_before = sorted(_ROOT.glob("bench_detail_r*.json"))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_REPEATS="1",
        SPARK_GRAFT_BENCH_ONLY=_SUBSET,
        SPARK_GRAFT_BENCH_DETAIL=str(detail_path),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=_ROOT,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.strip().splitlines() if l.strip()]
    summary = json.loads(lines[-1])  # the driver parses the tail line
    for key in ("metric", "value", "unit", "core16_wall_time", "full_wall_time",
                "failed", "regressions", "repeats", "sf", "n_queries",
                "detail", "host"):
        assert key in summary, key
    assert "queries" not in summary  # the compact line must stay tail-sized
    assert summary["failed"] == []
    assert isinstance(summary["regressions"], list)
    assert summary["n_queries"] == len(_SUBSET.split(","))
    host = summary["host"]
    for key in ("load_start", "load_end", "calib_start_min", "calib_start_max",
                "calib_end_min", "calib_end_max"):
        assert key in host, key
        assert host[key] >= 0
    assert host["calib_start_min"] <= host["calib_start_max"]
    assert host["calib_end_min"] <= host["calib_end_max"]
    # Per-query maps are FILE-ONLY: no other stdout line may carry a
    # "name": float query map that tail capture could slice ambiguously.
    for line in lines[:-1]:
        try:
            parsed = json.loads(line)
        except ValueError:
            continue
        assert not (isinstance(parsed, dict) and "queries" in parsed), (
            "per-query detail printed to stdout — tail-slicing hazard"
        )
    detail_file = json.loads(detail_path.read_text())
    assert set(detail_file["queries"]) == set(_SUBSET.split(","))
    assert set(detail_file["spread"]) == set(_SUBSET.split(","))
    assert "regression_detail" in detail_file
    assert detail_file["value"] == summary["value"]

    # The round's artifacts survive any pytest run (VERDICT r8 item 1).
    repo_detail_after = _REPO_DETAIL.read_bytes() if _REPO_DETAIL.exists() else None
    assert repo_detail_after == repo_detail_before, (
        "subprocess bench run must not clobber the repo-root bench_detail.json"
    )
    assert sorted(_ROOT.glob("bench_detail_r*.json")) == stamped_before


def test_headline_ids_are_registered_queries():
    """Every bench HEADLINE id must resolve in the registry — a typo'd
    or renamed id would otherwise crash the driver's round-final bench
    (spec lookup KeyError) instead of failing a fast test. Pure-Python
    check, no Spark session."""
    import bench
    from talkdesk_async_etl_spark.plans.registry import load_all

    names = set(load_all())
    missing = [q for q in bench.HEADLINE if q not in names]
    assert not missing, f"HEADLINE ids not in registry: {missing}"
    dupes = [q for q in set(bench.HEADLINE) if bench.HEADLINE.count(q) > 1]
    assert not dupes, f"duplicate HEADLINE ids: {dupes}"


def test_stamp_collision_guard(tmp_path):
    """VERDICT r10 "what's wrong" #2: the r10 driver close derived
    round 11 and pre-claimed bench_detail_r11.json, so the next
    round's finals would have silently destroyed one of the two
    readings. The guard: an existing stamp + a DERIVED round refuses;
    an explicit SPARK_GRAFT_ROUND pin states intent and may re-stamp.
    Pure-Python check, no Spark session."""
    import bench

    taken = tmp_path / "bench_detail_r11.json"
    taken.write_text("{}")
    assert bench._stamp_collides(str(taken), None) is True
    assert bench._stamp_collides(str(taken), "11") is False
    assert bench._stamp_collides(str(tmp_path / "bench_detail_r12.json"), None) is False


def test_prior_detail_names_its_baseline_file(tmp_path):
    """The regression gate's baseline must be identifiable by FILE, not
    just round number — two sweeps both claimed "round 10" at the r10
    close, so a bare number is ambiguous."""
    import json as _json

    import bench

    (tmp_path / "bench_detail_r09.json").write_text(_json.dumps({"sf": 0.1}))
    (tmp_path / "bench_detail_r10.json").write_text(_json.dumps({"sf": 0.1}))
    # non-stamp names (e.g. the renamed r10 driver-close reading) are ignored
    (tmp_path / "bench_detail_r10_driverclose.json").write_text("{}")
    got = bench._prior_detail(str(tmp_path), 11)
    assert got is not None
    rnd, detail, fname = got
    assert rnd == 10 and fname == "bench_detail_r10.json"
    assert detail == {"sf": 0.1}


def test_finals_load_gate(monkeypatch):
    """VERDICT r13 task 6: the finals quiet-host gate. Inactive without
    SPARK_GRAFT_BENCH_FINALS; passes (returning the calibrated gate
    record) once the 1-min load drops under the threshold; exits 3
    WITHOUT stamping when the host never quiets. Pure-Python check —
    loadavg and sleep are stubbed."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_FINALS", raising=False)
    assert bench._finals_load_gate() is None

    monkeypatch.setenv("SPARK_GRAFT_BENCH_FINALS", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GATE_TRIES", "3")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GATE_WAIT", "0")
    loads = iter([9.0, 5.0, 1.5])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (next(loads), 0, 0))
    gate = bench._finals_load_gate()
    assert gate == {"max_load": 2.0, "attempts": 3, "observed": [9.0, 5.0, 1.5]}

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (7.0, 0, 0))
    import pytest

    with pytest.raises(SystemExit) as exc:
        bench._finals_load_gate()
    assert exc.value.code == 3


def test_regression_gate_is_spread_aware():
    """VERDICT r14 task 3: a flag requires min-doubling (after
    dividing out the run-wide median ratio), the prior noise band,
    AND a tight spread on the slow side. Stubbed timings replay the
    two adjudicated precedents: window_rfm_scores (real re-plan,
    tight spread, quiet run) must flag; the driver-close noise shape
    (2-3x ratios riding a 1.22x run-wide median with blown spreads)
    must not. Pure-Python check, no Spark session."""
    import bench

    # Quiet run: 20 stable queries + one genuine re-plan regression.
    prior = {
        "sf": 0.1,
        "queries": {f"q{i}": 1.0 for i in range(20)} | {"rfm": 0.59},
        "spread": {f"q{i}": 0.05 for i in range(20)} | {"rfm": 0.05},
    }
    timings = {f"q{i}": 1.02 for i in range(20)} | {"rfm": 2.20}
    spreads = {f"q{i}": 0.05 for i in range(20)} | {"rfm": 0.32}
    flagged, detail, ratio = bench._find_regressions(timings, spreads, prior, 0.1)
    assert flagged == ["rfm"], (flagged, ratio)
    assert detail["rfm"]["min_new"] == 2.20
    assert ratio is not None and 0.9 < ratio < 1.1

    # Contended run: every query ~1.22x, a few 2-3x with BLOWN
    # spreads (the burst inflates some repeats, not all) — no flags.
    timings_noisy = {f"q{i}": 1.22 for i in range(20)} | {"rfm": 0.72}
    spreads_noisy = {f"q{i}": 0.6 for i in range(20)} | {"rfm": 0.3}
    for burst in ("q3", "q7", "q11"):
        timings_noisy[burst] = 2.8
        spreads_noisy[burst] = 1.9  # 0.68x its min — blown
    flagged, _, ratio = bench._find_regressions(
        timings_noisy, spreads_noisy, prior, 0.1
    )
    assert flagged == [], (flagged, ratio)

    # Same burst ratios but with tight spreads AND a quiet run-wide
    # median: now they are real and must flag.
    timings_real = {f"q{i}": 1.0 for i in range(20)} | {"rfm": 0.6}
    spreads_real = {f"q{i}": 0.05 for i in range(20)} | {"rfm": 0.05}
    timings_real["q3"] = 2.8
    spreads_real["q3"] = 0.1
    flagged, _, _ = bench._find_regressions(timings_real, spreads_real, prior, 0.1)
    assert flagged == ["q3"]

    # A faster-than-prior run must not amplify deltas (norm floor 1.0)
    # and sf mismatch / missing prior return the null result.
    assert bench._find_regressions(timings, spreads, prior, 0.01) == ([], {}, None)
    assert bench._find_regressions(timings, spreads, None, 0.1) == ([], {}, None)
