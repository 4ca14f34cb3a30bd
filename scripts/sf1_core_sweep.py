#!/usr/bin/env python3
"""Standing sf1 core sweep (VERDICT r14 task 4).

Promotes the per-wave sf1 rehearsals to ONE round-stamped sweep: the
core16 headline set plus the 10 most expensive ids from the newest
stamped bench detail (plus any extras via $SPARK_GRAFT_SF1_EXTRA),
min-of-$SPARK_GRAFT_SF1_REPEATS (default 3) against the local sf1
fixture (scripts/make_sf1.py -> .tmp/sf1, 10x the driver's bench SF).

For each query it records sf1 seconds, the sf0.1 min from the stamped
bench detail, and the sf1/sf0.1 ratio — the scale verdict the judge
reads: for 10x data, a ratio near 1-2x means the plan's heavy work is
bounded by domains/grids/partial aggregation; >2.5x needs a documented
reason (gzip codec bytes, attestation double-pipelines) or it is a
scale bug. Output: one markdown table on stdout (paste into
SCALING.md) + sf1_sweep_r{NN}.json at the repo root with
round-over-round deltas vs the newest prior sweep artifact.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, ".tmp/sf1"))
REPEATS = int(os.environ.get("SPARK_GRAFT_SF1_REPEATS", "3"))
TOP_N = int(os.environ.get("SPARK_GRAFT_SF1_TOP_N", "10"))


def _newest(pattern: str, stamp_cap: int | None = None) -> tuple[int, str] | None:
    best = None
    for f in glob.glob(os.path.join(REPO, pattern)):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        n = int(m.group(1))
        if stamp_cap is not None and n >= stamp_cap:
            continue
        if best is None or n > best[0]:
            best = (n, f)
    return best


def _round_stamp() -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    sys.exit("sf1_core_sweep: set SPARK_GRAFT_ROUND explicitly (stamp hygiene)")


def main() -> None:
    if not os.path.exists(os.path.join(SF1, "lineitem.parquet")):
        sys.exit(f"fixture missing — run scripts/make_sf1.py first ({SF1})")
    stamp = _round_stamp()
    bench = _newest("bench_detail_r*.json")
    if bench is None:
        sys.exit("no stamped bench detail to derive the expensive set from")
    with open(bench[1]) as fh:
        bench_detail = json.load(fh)
    sf01 = bench_detail.get("queries", {})

    import bench as bench_mod

    core16 = list(bench_mod._HEADLINE_CORE)
    expensive = [
        n for n, _ in sorted(sf01.items(), key=lambda kv: -kv[1])
        if n not in core16
    ][:TOP_N]
    extra = [
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_SF1_EXTRA", "").split(",")
        if n.strip()
    ]
    names = core16 + expensive + [n for n in extra if n not in core16 + expensive]

    from talkdesk_async_etl_spark.plans.cache import release_scoped
    from talkdesk_async_etl_spark.plans.registry import load_all
    from talkdesk_async_etl_spark.session import build_session

    spark = build_session(app_name="sf1_core_sweep")  # session.DEFAULT_CPUS
    registry = load_all()
    results: dict[str, dict] = {}
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"  {name}: not registered — skipped", file=sys.stderr)
            continue
        samples = []
        try:
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                n_rows = spec.fn(spark, SF1).count()
                samples.append(time.perf_counter() - t0)
                release_scoped()
                spark.catalog.clearCache()
                spark._jvm.System.gc()
        except Exception as exc:  # noqa: BLE001
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            print(f"  {name}: FAILED {exc}", file=sys.stderr)
            continue
        sf1_min = round(min(samples), 3)
        base = sf01.get(name)
        results[name] = {
            "sf1_min": sf1_min,
            "sf1_spread": round(max(samples) - min(samples), 3),
            "sf01_min": base,
            "ratio": round(sf1_min / base, 2) if base else None,
            "rows": n_rows,
        }
        print(
            f"  {name}: sf1 {sf1_min:.2f}s vs sf0.1 {base} -> "
            f"{results[name]['ratio']}x ({n_rows} rows)",
            file=sys.stderr,
        )
    spark.stop()

    prior = _newest("sf1_sweep_r*.json", stamp_cap=stamp)
    prior_q = {}
    if prior:
        with open(prior[1]) as fh:
            prior_q = json.load(fh).get("queries", {})
    artifact = {
        "round": stamp,
        "sf1_dir": SF1,
        "repeats": REPEATS,
        "bench_baseline": os.path.basename(bench[1]),
        "prior_sweep": os.path.basename(prior[1]) if prior else None,
        "queries": results,
    }
    out = os.path.join(REPO, f"sf1_sweep_r{stamp:02d}.json")
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1)
        fh.write("\n")
    print(f"sf1_core_sweep: wrote {out}", file=sys.stderr)

    print(f"\n| query | sf1 min (s) | sf0.1 min (s) | ratio | vs r{prior[0] if prior else '—'} sf1 |")
    print("|---|---|---|---|---|")
    for name in names:
        r = results.get(name)
        if not r or "error" in r:
            print(f"| `{name}` | FAILED | — | — | — |")
            continue
        old = prior_q.get(name, {}).get("sf1_min")
        delta = f"{r['sf1_min'] / old:.2f}x" if old else "new"
        print(
            f"| `{name}` | {r['sf1_min']} | {r['sf01_min']} | "
            f"{r['ratio']}x | {delta} |"
        )
    worst = [
        n for n, r in results.items()
        if r.get("ratio") is not None and r["ratio"] > 2.5
    ]
    print(f"\nratio > 2.5x (document or fix): {worst or 'none'}")


if __name__ == "__main__":
    main()
