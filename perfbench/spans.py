"""Spans recorded from outside the engine, with optional Spark stage metrics.

A span wraps one call into the engine's public functions. Untraced, a span
is only a name and two clock readings. Traced, the span also tags its jobs
with a Spark job group and, after the call, reads the jobs' stages from the
SparkContext's status store (which answers with the web UI disabled).

Reading stage metrics must never fail or stall a pass: any error while
tagging or reading drops the span to wall time only and marks it
``degraded``.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

# Summed per span from each executed stage's last attempt.
STAGE_SUMS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_records",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    layer: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    ok: bool = True
    error: str | None = None
    traced: bool = False
    degraded: bool = False
    # per-span Spark metrics (traced spans only)
    stats: dict[str, float] = field(default_factory=dict)
    # [submission, completion] of each executed stage, epoch seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)
    # max / median task run time of the span's heaviest stage
    task_skew: float | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict[str, Any]:
        return {
            "name": self.name, "layer": self.layer, "run_id": self.run_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "ok": self.ok, "error": self.error, "traced": self.traced,
            "degraded": self.degraded, "stats": self.stats,
            "task_skew": self.task_skew,
        }


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans; with ``sc`` given, also reads their Spark stages."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._seq = itertools.count()
        self._stack: list[tuple[str, bool]] = []
        # seconds spent tagging spans and reading stages back
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, tag: bool = True) -> Iterator[Span]:
        """Time one call; ``tag=False`` for a parent span (a pass), whose
        Spark totals are derived from its tagged children."""
        parent = self._stack[-1][0] if self._stack else None
        sid = f"{self.run_id}/{next(self._seq)}:{name}"
        # A Spark job group is one thread-local property: only a span with
        # no tagged span open can own one.
        tag = tag and self.sc is not None and not any(t for _, t in self._stack)
        group = sid if tag else None
        sp = Span(name, layer, self.run_id, parent, 0.0)
        if tag:
            t0 = time.perf_counter()
            sp.traced = self._set_group(group)
            sp.degraded = not sp.traced
            self.overhead_s += time.perf_counter() - t0
        self._stack.append((sid, tag))
        sp.start = time.time()
        try:
            yield sp
        except BaseException as exc:
            sp.ok = False
            sp.error = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            if tag:
                t0 = time.perf_counter()
                self._clear_group()
                if sp.traced:
                    try:
                        self._read_stages(group, sp)
                    except Exception:
                        sp.traced, sp.degraded = False, True
                        sp.stats, sp.intervals, sp.task_skew = {}, [], None
                self.overhead_s += time.perf_counter() - t0
            self.spans.append(sp)

    # -- Spark side --------------------------------------------------------

    def _set_group(self, group: str) -> bool:
        try:
            self.sc.setJobGroup(group, group)
            return True
        except Exception:
            return False

    def _clear_group(self) -> None:
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        except Exception:
            pass

    def _read_stages(self, group: str, sp: Span) -> None:
        jsc = self.sc._jsc.sc()
        # stage metrics reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty(5_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stats = dict.fromkeys(STAGE_SUMS, 0.0)
        stats["jobs"] = float(len(job_ids))
        stats["stages"] = 0.0
        heaviest = None
        for sid in sorted(stage_ids):
            if tracker.getStageInfo(sid) is None:
                continue  # planned but skipped: its output was reused
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            stats["stages"] += 1
            stats["tasks"] += sd.numCompleteTasks()
            stats["run_ms"] += sd.executorRunTime()
            stats["cpu_ms"] += sd.executorCpuTime() / 1e6
            stats["gc_ms"] += sd.jvmGcTime()
            stats["shuffle_read_bytes"] += (
                sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
            )
            stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            stats["shuffle_records"] += sd.shuffleWriteRecords()
            stats["spill_bytes"] += sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            if heaviest is None or sd.executorRunTime() > heaviest[2]:
                heaviest = (sid, sd.attemptId(), sd.executorRunTime())
        if heaviest is not None:
            sp.task_skew = self._task_skew(store, heaviest[0], heaviest[1])
        sp.stats = stats

    def _task_skew(self, store, stage_id: int, attempt: int) -> float | None:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage_id, attempt, qs)
        if not summary.isDefined():
            return None
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else None

    # -- output --------------------------------------------------------------

    def residue(self, sp: Span, children: list[Span] | None = None) -> float:
        """Span wall not covered by any of its (or its children's) stages."""
        intervals = list(sp.intervals)
        for c in children or ():
            intervals.extend(c.intervals)
        return sp.wall - union_seconds(intervals, sp.start, sp.end)
