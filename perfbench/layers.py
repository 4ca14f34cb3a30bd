#!/usr/bin/env python3
"""Read the trace detail files that ``run.py --trace 1`` writes.

    python3 perfbench/layers.py rank .perfbench_out/trace-analytics-seed1.json
    python3 perfbench/layers.py diff BEFORE.json AFTER.json

``rank`` lists layers by self time per pass (a span's duration minus
the time its child spans cover), then operations by traced time with
their time per span (build / io / plan / exec, or config / monitoring /
run) and Spark jobs per job group. ``diff``
compares two detail files layer by layer: self times, per-operation
times and every per-layer metric, largest change first.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


# The outermost span of an analytics query and of a checked pipeline run.
OUTER = ("query", "check")


def op_total(spans: dict[str, float]) -> float:
    """Traced seconds of one operation: its outermost span."""
    return next((spans[k] for k in OUTER if k in spans), 0.0)


def rank(detail: dict) -> list[str]:
    lines = [f"{detail['workload']} seed {detail['seed']}: {detail['traced_passes']} traced pass(es)"]
    self_s = detail["self_s"]
    total = sum(self_s.values()) or 1.0
    lines.append(f"{'layer (self time / pass)':32s} {'s':>9s} {'share':>7s}")
    for name, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:32s} {v:9.3f} {v / total:7.1%}")
    lines.append("")
    spans, groups = detail["op_spans"], detail["op_groups"]
    names = sorted({k for f in spans.values() for k in f if k not in OUTER})
    phases = sorted({p for g in groups.values() for p in g})
    lines.append(f"{'operation (s / pass)':24s} {'total':>7s} "
                 + " ".join(f"{k:>16s}" for k in names)
                 + " " + " ".join(f"{'jobs ' + p:>16s}" for p in phases))
    for op, f in sorted(spans.items(), key=lambda kv: -op_total(kv[1])):
        jobs = groups.get(op, {})
        lines.append(f"{op:24s} {op_total(f):7.3f} "
                     + " ".join(f"{f.get(k, 0.0):16.3f}" for k in names)
                     + " " + " ".join(f"{jobs.get(p, {}).get('jobs', 0.0):16.0f}" for p in phases))
    return lines


def _delta_rows(a: dict[str, float], b: dict[str, float]) -> list[tuple[str, float, float]]:
    keys = sorted(set(a) | set(b), key=lambda k: -abs(b.get(k, 0.0) - a.get(k, 0.0)))
    return [(k, a.get(k, 0.0), b.get(k, 0.0)) for k in keys]


def _fmt(name: str, x: float, y: float) -> str:
    ratio = f"{y / x:7.3f}" if x else "      -"
    return f"{name:32s} {x:11.4f} {y:11.4f} {y - x:+11.4f} {ratio}"


def diff(a: dict, b: dict) -> list[str]:
    if a["workload"] != b["workload"]:
        raise SystemExit(f"different workloads: {a['workload']} vs {b['workload']}")
    head = f"{'':32s} {'before':>11s} {'after':>11s} {'delta':>11s} {'ratio':>7s}"
    lines = [f"{a['workload']}: seed {a['seed']} -> seed {b['seed']}", "", "self time / pass (s)", head]
    lines += [_fmt(*row) for row in _delta_rows(a["self_s"], b["self_s"])]
    ops_a = {k: op_total(v) for k, v in a["op_spans"].items()}
    ops_b = {k: op_total(v) for k, v in b["op_spans"].items()}
    lines += ["", "operation time / pass (s)", head]
    lines += [_fmt(*row) for row in _delta_rows(ops_a, ops_b)]
    lines += ["", "per-layer metrics", head]
    lines += [_fmt(*row) for row in _delta_rows(a["metrics"], b["metrics"])]
    return lines


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("rank", help="layers and operations of one traced run")
    r.add_argument("detail")
    d = sub.add_parser("diff", help="two traced runs, layer by layer")
    d.add_argument("before")
    d.add_argument("after")
    args = p.parse_args(argv)
    if args.cmd == "rank":
        lines = rank(load(args.detail))
    else:
        lines = diff(load(args.before), load(args.after))
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
