"""Spans around the package's layer boundaries, and Spark counters per
operation, all recorded from outside the package.

:class:`Tracer` wraps the public functions of each layer by replacing
the module attributes that callers resolve (``Engine.execute`` on the
class; ``parse_query``, ``resolve_domains``, ``build_candidates``,
``materialize``, ``register_views`` and ``get_spark`` in every loaded
package module that bound them). :meth:`Tracer.install` and
:meth:`Tracer.remove` switch the wrapping on and off, so the untraced
half of a traced run executes the package's own functions.

:class:`SparkCounters` reads ``statusTracker()`` and the application
status store for the jobs of one job group (one operation phase).
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PKG = "query_refinement_dsit_databases_2021_spark"

# (module, attribute) -> span name; the attribute is replaced in every
# loaded package module that holds the same function object
WRAPPED_FUNCTIONS = {
    ("session", "get_spark"): "session.get_spark",
    ("workloads", "register_views"): "workloads.register_views",
    ("plans.parser", "parse_query"): "plans.parser.parse",
    ("plans.domains", "resolve_domains"): "plans.domains.resolve",
    ("operators.candidates", "build_candidates"): "operators.candidates.build",
    ("operators.materialize", "materialize"): "operators.materialize",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int


class Tracer:
    """In-memory span recorder. ``op`` is the operation id stamped on
    every span opened while it is set."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        if self._patches:
            return
        import importlib

        for (mod_name, attr), span_name in WRAPPED_FUNCTIONS.items():
            original = getattr(importlib.import_module(f"{PKG}.{mod_name}"), attr)
            wrapper = self._wrap(span_name, original)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith(PKG)
                    and getattr(mod, attr, None) is original
                ):
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, wrapper)
        from query_refinement_dsit_databases_2021_spark.plans.executor import Engine

        original = Engine.execute
        self._patches.append((Engine, "execute", original))
        Engine.execute = self._wrap("plans.executor.execute", original)

    def remove(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    def self_times(self, op_ids: set[int] | None = None) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if op_ids is not None and s.op not in op_ids:
                continue
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def counts(self, op_ids: set[int] | None = None) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if op_ids is None or s.op in op_ids:
                out[s.name] += 1
        return dict(out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class PhaseStats:
    """Spark work of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "PhaseStats") -> None:
        for k in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)

    def busy_s(self, start: float, end: float) -> float:
        """Wall time within [start, end] during which a job ran."""
        return _union_length(
            [(max(a, start), min(b, end)) for a, b in self.job_intervals]
        )


class SparkCounters:
    """Per-job-group Spark work, read after the group's jobs finished."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def read(self, group: str) -> PhaseStats:
        self._jsc.listenerBus().waitUntilEmpty()
        out = PhaseStats()
        seen: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.job_intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_s += st.executorRunTime() / 1e3
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.jvm_gc_s += st.jvmGcTime() / 1e3
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.input_bytes += st.inputBytes()
        return out

    def ungrouped_jobs(self) -> set[int]:
        """Ids of the retained jobs run outside any job group."""
        self._jsc.listenerBus().waitUntilEmpty()
        return set(self._tracker.getJobIdsForGroup())

    def storage_bytes(self) -> int:
        """Bytes cached RDDs hold in memory and on disk."""
        self._jsc.listenerBus().waitUntilEmpty()
        size = 0
        it = self._store.rddList(True).iterator()
        while it.hasNext():
            r = it.next()
            size += r.memoryUsed() + r.diskUsed()
        return size
