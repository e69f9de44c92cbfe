"""Measurement helpers: order statistics, peak-RSS sampling and the span
tracer of the traced run. Nothing here imports Spark, so the self-tests
run without a session."""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field


def tail_percentile(values: list[float], pct: float, min_beyond: int = 10):
    """The ``pct`` percentile (nearest rank), or None unless at least
    ``min_beyond`` samples lie strictly beyond it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    value = ordered[rank - 1]
    beyond = sum(1 for v in ordered if v > value)
    return value if beyond >= min_beyond else None


# -- peak RSS of the driver, the JVM and the Python workers ----------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
            ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    tree, stack = [], [root]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(kids.get(pid, ()))
    return tree


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
    return total


class PeakRss:
    """Samples this process tree's RSS on a thread inside a ``with``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- spans -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = 0
    counts: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    incl_cpu_ms: float = 0.0
    jobs: set = field(default_factory=set)

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children of one parent may overlap each other; their covered interval
    is the union, clipped to the parent."""
    out = []
    for s in spans:
        covered, cur_start, cur_end = 0.0, 0.0, None
        for c in sorted((spans[i] for i in s.children), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """In-memory spans with per-span engine CPU and Spark job/task counts.

    ``probe`` returns a snapshot ``(cpu_ms, job_ids)`` and ``job_info``
    maps a job id to ``(tasks, failed_tasks)``. The jobs of a span are the
    ones that appeared while it was open and not inside a child span. The
    benchmark opens spans from its own thread, one at a time, so this also
    attributes the jobs the program submits from its helper threads, which
    a thread-local Spark job group would miss. CPU and jobs are exclusive
    of child spans, like self time."""

    def __init__(self, probe=None, job_info=None):
        self.spans: list[Span] = []
        self.pass_id = 0
        self._stack: list[int] = []
        self._probe = probe
        self._job_info = job_info

    def span(self, name: str, **counts):
        return _SpanCtx(self, name, counts)

    def _open(self, name: str, counts: dict) -> tuple[int, object]:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, parent=parent,
                               pass_id=self.pass_id, counts=dict(counts)))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        snap = self._probe() if self._probe else None
        self.spans[idx].start = time.perf_counter()
        return idx, snap

    def _close(self, idx: int, snap) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if self._probe is None:
            return
        cpu, jobs = self._probe()
        kids = [self.spans[i] for i in span.children]
        span.incl_cpu_ms = cpu - snap[0]
        span.jobs = set(jobs) - set(snap[1])
        own_jobs = span.jobs.difference(*(k.jobs for k in kids))
        own_cpu = span.incl_cpu_ms - sum(k.incl_cpu_ms for k in kids)
        tasks = failed = 0
        for jid in own_jobs:
            t, f = self._job_info(jid)
            tasks += t
            failed += f
        span.counts.update(cpu_s=own_cpu / 1000.0, jobs=len(own_jobs),
                           tasks=tasks, tasks_failed=failed)

    def pass_totals(self, pass_id: int) -> tuple[dict, dict]:
        """One pass's totals: per span name (self time as ``_s`` and its
        counts) and per layer (``self_s`` and the summed counts)."""
        by_name: dict[str, dict[str, float]] = {}
        by_layer: dict[str, dict[str, float]] = {}
        for s, own in zip(self.spans, self_times(self.spans)):
            if s.pass_id != pass_id:
                continue
            for key, agg in ((s.name, by_name), (s.layer, by_layer)):
                d = agg.setdefault(key, {"self_s": 0.0})
                d["self_s"] += own
                for k, v in s.counts.items():
                    d[k] = d.get(k, 0) + v
        return by_name, by_layer


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, counts: dict):
        self.tracer, self.name, self.counts = tracer, name, counts

    def __enter__(self) -> Span:
        self.idx, self.snap = self.tracer._open(self.name, self.counts)
        return self.tracer.spans[self.idx]

    def __exit__(self, *exc) -> bool:
        self.tracer._close(self.idx, self.snap)
        return False
