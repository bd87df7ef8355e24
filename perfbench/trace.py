"""Spans and Spark status-store counters for the traced run.

Spans are kept in memory (name, start, end, parent, workload, run id)
and written out as JSON lines when the run ends.  Counters come from
Spark's status store, read from outside the engine between ops: every
job the op submitted (job ids are handed out in order, and the
benchmark is the only client), and every stage those jobs actually ran.
The status store is filled by an asynchronous listener, so the reader
drains the listener bus before it looks.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    workload: str = ""
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``span`` nests by call stack."""

    def __init__(self, workload: str, run_id: str) -> None:
        self.workload, self.run_id = workload, run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, workload=self.workload,
                 run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                row = asdict(s)
                row["id"], row["self_s"] = i, selfs[i]
                f.write(json.dumps(row) + "\n")


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs),
    each first clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(kids.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


# ------------------------------------------------------ status store --

COUNTERS = ("jobs", "tasks", "in_job_s", "exec_run_s", "exec_cpu_s",
            "shuffle_mb", "spill_mb")


class StatusReader:
    """Per-op counters from ``sc._jsc.sc().statusStore()``; works with
    ``spark.ui.enabled=false``."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()

    def mark(self) -> int:
        """The id the next submitted job will get (Py4J hands the
        scheduler's AtomicInteger back as a plain int)."""
        return int(self._dag.nextJobId())

    def counters(self, first_job: int, t0: float, t1: float) -> dict[str, float]:
        """Counters for jobs ``first_job..`` submitted within [t0, t1]
        (epoch seconds)."""
        self._bus.waitUntilEmpty()
        last_job = self.mark()
        out = dict.fromkeys(COUNTERS, 0.0)
        intervals, stage_ids = [], set()
        for jid in range(first_job, last_job):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((a, b))
            out["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            sub = st.submissionTime()
            # a stage reused from an earlier job shows up as skipped,
            # or carries that earlier job's submission time
            if st.status().toString() == "SKIPPED" or not sub.isDefined():
                continue
            if sub.get().getTime() / 1000.0 < t0 - 0.002:
                continue
            out["tasks"] += st.numTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += st.diskBytesSpilled() / 1e6
        out["in_job_s"] = union_length(intervals, t0, t1)
        return out
