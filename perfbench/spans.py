"""Tracing for the traced run: spans, call wrappers, event-log parsing.

Nothing here patches code inside ``talkdesk_async_etl_spark``'s
files: the benchmark replaces public functions in module namespaces
with timing wrappers and restores them afterwards. Spans carry a name,
start, end, parent and the operation id (query id or pipeline run)
they belong to; they stay in memory until the run writes them out.

Spark work is attributed to phases through job groups: every span that
launches jobs sets the job group ``"<op>|<phase>"`` for its duration,
and ``parse_event_log`` maps each stage of the uncompressed event log
to the group of the job that ran it.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names of PythonSQLMetrics (Spark 4.1) -> our per-layer names.
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
}
PYTHON_NODE_MARKER = "time to run Python workers"
MB = 1024.0 * 1024.0

# internal task metric -> (stage total name, scale to our unit)
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_mb", 1 / MB),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / MB),
    "internal.metrics.memoryBytesSpilled": ("spill_mem_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("spill_disk_mb", 1 / MB),
}


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory span recorder for one client thread."""

    sc: object = None  # SparkContext whose job group follows the spans
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _groups: list[str | None] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str, job_group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, op, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        if job_group is not None and self.sc is not None:
            self._groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
            self.sc.setJobGroup(f"{op}|{job_group}", name)
        try:
            yield
        finally:
            if job_group is not None and self.sc is not None:
                prev = self._groups.pop()
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(prev, "")
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def current_op(self) -> str:
        return self.spans[self._stack[-1]].op if self._stack else "-"

    def wrap(self, name: str, fn, job_group: str | None = None):
        """``fn`` inside a span named ``name`` of the current operation."""

        def traced(*args, **kwargs):
            with self.span(name, self.current_op(), job_group):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def total(self, name: str, top_level_only: bool = False) -> float:
        """Summed duration of spans named ``name``; with ``top_level_only``
        a span nested in another span of the same name is skipped."""
        out = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            if top_level_only and self.has_ancestor(s, name):
                continue
            out += s.end - s.start
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def has_ancestor(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


class Patch:
    """Replace attributes (module functions, class methods) and restore
    them on ``undo``."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def everywhere(self, package: str, original, value) -> None:
        """Rebind every module-level alias of ``original`` under
        ``package`` (``from x import f`` copies the reference)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(package) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if obj is original:
                    self.set(mod, attr, value)

    def undo(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


def _plan_python_row_accums(plan: dict, out: set[int]) -> None:
    metrics = plan.get("metrics", [])
    if any(m.get("name") == PYTHON_NODE_MARKER for m in metrics):
        out.update(m["accumulatorId"] for m in metrics if m.get("name") == "number of output rows")
    for child in plan.get("children", []):
        _plan_python_row_accums(child, out)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Totals per job group from an uncompressed Spark event log.

    Returns ``{group: {"jobs", "tasks", "executor_run_s", ...,
    "python.run_s", ..., "python.rows_received"}}``; jobs without a
    group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    python_row_ids: set[int] = set()
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_infos: list[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                stage_infos.append(ev["Stage Info"])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_python_row_accums(ev.get("sparkPlanInfo", {}), python_row_ids)
    for info in stage_infos:
        g = groups[stage_group.get(info["Stage ID"], "")]
        g["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            name, value = acc.get("Name"), acc.get("Value")
            if not isinstance(value, (int, float)):
                try:
                    value = float(value)
                except (TypeError, ValueError):
                    continue
            if name in STAGE_METRICS:
                key, scale = STAGE_METRICS[name]
                g[key] += value * scale
            elif name in PYTHON_METRICS:
                key = PYTHON_METRICS[name]
                scale = 1 / MB if key.endswith("_mb") else 1e-3  # bytes or ms
                g[key] += value * scale
            elif acc.get("ID") in python_row_ids:
                g["python.rows_received"] += value
    return {k: dict(v) for k, v in groups.items()}


def _tree_pids(root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            children[int(fields[1])].append(int(entry))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / MB
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Peak summed RSS of this process tree (driver, JVM, Python
    workers), sampled from /proc on a background thread."""

    def __init__(self, exclude: set[int] | None = None, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._exclude = exclude or set()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in _tree_pids(os.getpid(), self._exclude))
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
