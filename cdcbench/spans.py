"""In-memory span tracer and Spark cost attribution for the CDC benchmark.

Spans are recorded only in the traced run (``--trace 1``): name, start,
end, parent and batch id, kept in memory and written out when the run
ends. A span opened on the benchmark's own thread also tags the Spark
jobs it launches with its own job group, so each layer call's Spark cost
is read back from Spark's status store (its REST view on the local
Spark UI port) by group. Jobs launched by the streaming query carry the
query's run id as their group and ``batch = <id>`` in their
description; those are attributed to the innermost stream-thread span
of that batch whose interval holds the job's submission time.

The untraced run uses :data:`NULL_TRACER`, whose spans record nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Iterator


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    start: float                 # time.perf_counter()
    wall: float                  # time.time() at start, for job attribution
    end: float | None = None
    group: str | None = None     # Spark job group set while the span ran
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def wall_end(self) -> float:
        return self.wall + self.duration


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans; one instance per traced run."""

    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.bench_thread = threading.get_ident()
        # span that stream-thread spans attach to (the open tail batch)
        self.foreign_parent: int | None = None
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc or group)

    @contextlib.contextmanager
    def span(self, name: str, batch: int | None = None,
             **attrs: Any) -> Iterator[Span]:
        t0 = time.perf_counter()
        stack = self._stack()
        on_bench = threading.get_ident() == self.bench_thread
        if stack:
            parent = stack[-1]
        else:
            parent = None if on_bench else self.foreign_parent
        with self._lock:
            sp = Span(len(self.spans), name, parent, batch, 0.0, 0.0,
                      attrs=dict(attrs))
            if batch is None and parent is not None:
                sp.batch = self.spans[parent].batch
            self.spans.append(sp)
        outer_group = None
        if on_bench:
            outer_group = self.spans[stack[-1]].group if stack else None
            sp.group = f"cdcbench-{sp.id}"
            self._set_group(sp.group, name)
        stack.append(sp.id)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start, sp.wall = time.perf_counter(), time.time()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if on_bench:
                self._set_group(outer_group,
                                self.spans[stack[-1]].name if stack else None)
            self.bookkeeping_s += time.perf_counter() - t1

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs: Any) -> Span:
        """Record a span measured elsewhere (e.g. a phase wall the engine
        reports) at an explicit position on the perf_counter clock."""
        with self._lock:
            p = self.spans[parent] if parent is not None else None
            sp = Span(len(self.spans), name, parent,
                      p.batch if p is not None else None, start,
                      (p.wall + (start - p.start)) if p is not None
                      else time.time() - (time.perf_counter() - start),
                      end=end, attrs=dict(attrs))
            self.spans.append(sp)
        return sp

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its children cover."""
        iv = [(max(c.start, sp.start), min(c.end, sp.end))
              for c in kids.get(sp.id, ()) if c.end is not None]
        iv = [(lo, hi) for lo, hi in iv if hi > lo]
        return max(sp.duration - union_length(iv), 0.0)

    def coverage(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Share of a span's wall that its named children cover."""
        if sp.duration <= 0:
            return 1.0
        return 1.0 - self.self_time(sp, kids) / sp.duration

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        kids = self.children()
        rows = [{"id": s.id, "name": s.name, "parent": s.parent,
                 "batch": s.batch, "start": s.start, "end": s.end,
                 "self_s": self.self_time(s, kids), "group": s.group,
                 "attrs": s.attrs} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh, default=str)


class _NullSpan:
    id = None

    def __init__(self):
        self.attrs: dict[str, Any] = {}


class NullTracer:
    """Tracing off: spans are no-ops."""

    enabled = False
    foreign_parent = None
    bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, batch: int | None = None,
             **attrs: Any) -> Iterator[_NullSpan]:
        yield _NullSpan()


NULL_TRACER = NullTracer()


# ------------------------------------------------------- Spark status store
_BATCH_RE = re.compile(r"\bbatch = (\d+)\s*$")


def _ms(ts: str | None) -> float | None:
    """Spark REST timestamp ('2026-01-02T03:04:05.678GMT') → epoch s."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkCost:
    """Per-job and per-stage metrics read once from the status store."""

    STAGE_KEYS = {
        "tasks": ("numTasks", 1.0),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
        "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
        "spill_bytes": ("diskBytesSpilled", 1.0),
        "executor_run_s": ("executorRunTime", 1e-3),
        "executor_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "input_bytes": ("inputBytes", 1.0),
        "output_bytes": ("outputBytes", 1.0),
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.jobs = self._get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s
                       for s in self._get("/stages")}

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def assign(self, tracer: Tracer,
               stream_groups: set[str]) -> dict[int, list[dict]]:
        """Span id → the jobs it launched itself (not its children's)."""
        by_group = {s.group: s.id for s in tracer.spans if s.group}
        batch_spans: dict[int, list[Span]] = {}
        for s in tracer.spans:
            if s.group is None and s.batch is not None:
                batch_spans.setdefault(s.batch, []).append(s)
        out: dict[int, list[dict]] = {}
        for j in self.jobs:
            g = j.get("jobGroup")
            if g in by_group:
                out.setdefault(by_group[g], []).append(j)
            elif g in stream_groups:
                m = _BATCH_RE.search(j.get("description") or "")
                t = _ms(j.get("submissionTime"))
                if m is None or t is None:
                    continue
                cands = [s for s in batch_spans.get(int(m.group(1)), ())
                         if s.wall <= t <= s.wall_end() + 1e-3]
                if cands:
                    best = min(cands, key=lambda s: s.duration)
                    out.setdefault(best.id, []).append(j)
        return out

    def stage_rows(self, jobs: list[dict]) -> list[dict]:
        ids = {sid for j in jobs for sid in j.get("stageIds", ())}
        rows = [s for (sid, _), s in self.stages.items()
                if sid in ids and s.get("status") != "SKIPPED"]
        return rows

    def cost(self, jobs: list[dict]) -> dict[str, float]:
        rows = self.stage_rows(jobs)
        out = {"jobs": float(len(jobs)), "stages": float(len(rows))}
        for k, (src, scale) in self.STAGE_KEYS.items():
            out[k] = float(sum(r.get(src) or 0 for r in rows)) * scale
        out["spill_bytes"] += float(sum(r.get("memoryBytesSpilled") or 0
                                        for r in rows))
        return out

    def task_skew(self, jobs: list[dict]) -> float | None:
        """max ÷ median task run time of the largest stage."""
        rows = self.stage_rows(jobs)
        if not rows:
            return None
        big = max(rows, key=lambda r: r.get("executorRunTime") or 0)
        if (big.get("numTasks") or 0) <= 1:
            return 1.0
        try:
            summ = self._get(f"/stages/{big['stageId']}/{big['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
        except OSError:
            return None
        q = summ.get("executorRunTime") or [0, 0]
        return float(q[1]) / float(q[0]) if q[0] else 1.0


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0
