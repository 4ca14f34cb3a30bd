#!/usr/bin/env python3
"""Iterative-family scale rehearsal at sf1 (VERDICT r8 task 7).

Runs the iterative operators (connected components both algorithms,
pagerank, k-core, BFS, weighted SSSP) min-of-N against the locally
generated sf1 fixture (scripts/make_sf1.py -> .tmp/sf1: 6M lineitem,
50k documents — 10x the driver's bench SF) and prints one JSON line
per query plus a summary. What it is checking, beyond not crashing:

- wall time scales roughly linearly vs the sf0.1 bench numbers (the
  iterative family's per-round relations are pair-/node-sized, so a
  superlinear jump means lineage or skew trouble);
- round counts stay flat (all fixpoints converge in the same number
  of rounds regardless of SF — cluster diameter / graph diameter are
  scale-free in this data);
- driver RSS stays bounded (no per-round driver-side accumulation).

Results are recorded in SCALING.md per round.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".tmp", "sf1"))
REPEATS = int(os.environ.get("SPARK_GRAFT_SF1_REPEATS", "3"))

_DEFAULT_QUERIES = (
    "dedup_components",
    "dedup_components_star",
    "graph_pagerank",
    "graph_kcore",
    "graph_bfs_distance",
    "graph_sssp_weighted",
)
# Override to rehearse a different set (comma-separated ids), e.g. a
# new round's scale-interesting additions.
QUERIES = tuple(
    n.strip()
    for n in os.environ.get(
        "SPARK_GRAFT_SF1_QUERIES", ",".join(_DEFAULT_QUERIES)
    ).split(",")
    if n.strip()
)


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    if not os.path.exists(os.path.join(SF1, "lineitem.parquet")):
        sys.exit(f"fixture missing — run scripts/make_sf1.py first ({SF1})")
    from talkdesk_async_etl_spark.plans.registry import load_all
    from talkdesk_async_etl_spark.session import DEFAULT_CPUS, build_session

    cpus = DEFAULT_CPUS
    spark = build_session(app_name="scale_rehearsal", cpus=cpus)
    reg = load_all()
    out = {}
    for name in QUERIES:
        samples = []
        rows = 0
        rss_before = rss_mb()
        try:
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                rows = reg[name].fn(spark, SF1).count()
                samples.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                spark._jvm.System.gc()
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(json.dumps({name: out[name]}), flush=True)
            continue
        out[name] = {
            "min_s": round(min(samples), 2),
            "spread_s": round(max(samples) - min(samples), 2),
            "rows": rows,
            "driver_rss_mb_delta": round(rss_mb() - rss_before, 1),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf1_rehearsal": out, "cpus": cpus, "repeats": REPEATS}))
    spark.stop()


if __name__ == "__main__":
    main()
