"""Spans around calls into the engine's layers, with counters from Spark's
own status store.

A span sets a Spark job group of its own for its duration, so every job it
starts is tagged with it. After the pass, outside any timed window, the
group's job ids come from ``SparkContext.statusTracker()`` and the jobs'
stages, tasks and executor metrics from the application's loopback
``/api/v1`` REST API. Spans are kept in memory and written out at the end
of the run. Tracing off makes every span a no-op.
"""

from __future__ import annotations

import calendar
import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
            "driver_s", "self_s")


@dataclass
class Span:
    idx: int
    layer: str
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.idx}"

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.idx: s.dur - covered(kids.get(s.idx, []), s.start, s.end) for s in spans}


class Tracer:
    """Records spans for one run; ``enabled=False`` records nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pinned_rdds = 0  # most RDDs left persisted after a top-level call
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def after_call(self) -> None:
        if self.enabled and not self._stack:
            t0 = time.perf_counter()
            n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.pinned_rdds = max(self.pinned_rdds, n)
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sp = Span(len(self.spans), layer, name,
                  self._stack[-1].idx if self._stack else None, self.run_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, f"{layer}:{name}")
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].group, f"{self._stack[-1].layer}:{self._stack[-1].name}")
            else:
                sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]]):
        """Patch ``module.attr`` for each ``(module, attr, layer)`` so calls
        made from inside the engine get a child span; restored on exit."""
        if not self.enabled:
            yield
            return
        saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
        for (m, a, layer), (_, _, fn) in zip(targets, saved):
            setattr(m, a, self._wrap(fn, layer))
        try:
            yield
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    def _wrap(self, fn, layer):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)
        return inner

    # ----------------------------------------------------------- counters

    def collect(self, spans: list[Span], timeout_s: float = 20.0) -> None:
        """Fill ``counters`` of ``spans`` from the status store (own jobs
        only: a job belongs to the innermost span open when it ran)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        own = {s.idx: sorted(tracker.getJobIdsForGroup(s.group)) for s in spans}
        wanted = {j for ids in own.values() for j in ids}
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        deadline = time.time() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
            if all(j in jobs and jobs[j].get("completionTime") for j in wanted):
                break
            if time.time() > deadline:
                raise RuntimeError("status store did not report every traced job as finished")
            time.sleep(0.1)
        stages: dict[int, list[dict]] = {}
        for st in _get(f"{base}/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        # a stage shared by several jobs ran once: charge it to the first
        owner: dict[int, int] = {}
        for j in sorted(wanted):
            for sid in jobs[j]["stageIds"]:
                owner.setdefault(sid, j)
        by_job: dict[int, list[int]] = {}
        for sid, j in owner.items():
            by_job.setdefault(j, []).append(sid)
        selfs = self_times(spans)
        for s in spans:
            c = dict.fromkeys((*COUNTERS, "scan_s"), 0.0)
            intervals = []
            for j in own[s.idx]:
                job = jobs[j]
                intervals.append((_ts(job["submissionTime"]), _ts(job["completionTime"])))
                c["jobs"] += 1
                for sid in by_job.get(j, []):
                    for att in stages.get(sid, []):
                        c["stages"] += 1
                        c["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                        c["exec_run_s"] += att["executorRunTime"] / 1e3
                        c["exec_cpu_s"] += att["executorCpuTime"] / 1e9
                        c["gc_s"] += att["jvmGcTime"] / 1e3
                        c["shuffle_read_bytes"] += att["shuffleReadBytes"]
                        c["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                        c["spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                        c["input_bytes"] += att["inputBytes"]
                        if att["inputBytes"] > 0:
                            c["scan_s"] += att["executorRunTime"] / 1e3
            c["self_s"] = selfs[s.idx]
            c["driver_s"] = max(0.0, selfs[s.idx] - covered(intervals, s.start, s.end))
            s.counters = c



def dump_spans(spans: list[Span], path: str) -> None:
    with open(path, "w") as f:
        json.dump([asdict(s) for s in spans], f, indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    """Status-store timestamp (``2026-01-01T00:00:00.123GMT``) to epoch s."""
    head, ms = s[:-3].split(".")
    return calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1e3
