"""Spans around the benchmark's calls into the engine, with Spark counters.

A span records its name, layer, parent and wall interval. With tracing on,
every span runs its jobs under its own Spark job group; when it closes, the
span reads the jobs of that group from ``sc.statusTracker()`` and each
job's stages from the application status store
(``sc._jsc.sc().statusStore()``, live with ``spark.ui.enabled=false``). The
store keeps a bounded number of stages, so counters are read per span, not
at the end. With tracing off a span is a no-op and no job group is set.

Self time is a span's wall time minus the part of its interval that its
child spans cover; ``driver_s`` is wall time minus the union of the active
intervals of its stages (Python, Catalyst planning and gaps between jobs).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "task_s",
    "cpu_s",
    "stage_s",
    "driver_s",
    "shuffle_write_mb",
    "spill_mb",
    "bytes_written_mb",
)

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall time minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def stage_counters(stages: list[dict], start: float, end: float) -> dict:
    """Sum stage metrics of one span. ``stages`` items carry the status
    store's fields: run_ms, cpu_ns, shuffle_write, spill, output, and the
    submission/completion epoch seconds ``sub``/``done``."""
    active = [(s["sub"], s["done"]) for s in stages if s["sub"] is not None]
    stage_s = union_length(active, start, end)
    return {
        "stages": len(stages),
        "task_s": sum(s["run_ms"] for s in stages) / 1e3,
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "stage_s": stage_s,
        "driver_s": (end - start) - stage_s,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / _MB,
        "spill_mb": sum(s["spill"] for s in stages) / _MB,
        "bytes_written_mb": sum(s["output"] for s in stages) / _MB,
    }


class Tracer:
    """Records spans; ``enabled=False`` makes :meth:`span` a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, start: float | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, start if start is not None else time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            t0 = time.time()
            s.counters = self._read_counters(sc, s)
            if self._stack:
                sc.setJobGroup(f"perfbench-{self._stack[-1].id}", self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.time() - t0

    def _read_counters(self, sc, s: Span) -> dict:
        jsc = sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(f"perfbench-{s.id}")
        stages = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped): no record
                    continue
                sub, done = sd.submissionTime(), sd.completionTime()
                if str(sd.status()) == "SKIPPED" or not sub.isDefined():
                    continue
                stages.append(
                    {
                        "run_ms": sd.executorRunTime(),
                        "cpu_ns": sd.executorCpuTime(),
                        "shuffle_write": sd.shuffleWriteBytes(),
                        "spill": sd.diskBytesSpilled(),
                        "output": sd.outputBytes(),
                        "sub": sub.get().getTime() / 1e3,
                        "done": done.get().getTime() / 1e3 if done.isDefined() else s.end,
                    }
                )
        out = stage_counters(stages, s.start, s.end)
        out["jobs"] = len(job_ids)
        return out

    def layer_totals(self) -> dict[str, dict]:
        """Per layer: summed ``self_s``, ``wall_s`` and counters of its spans."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s.layer, {"wall_s": 0.0, "self_s": 0.0, **{k: 0 for k in COUNTERS}})
            agg["wall_s"] += s.wall
            agg["self_s"] += selfs[s.id]
            for k in COUNTERS:
                agg[k] += s.counters.get(k, 0)
        return out

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "layer": s.layer,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall,
                "self_s": selfs[s.id],
                **s.counters,
            }
            for s in self.spans
        ]
