"""Outside-in tracer: spans recorded by the benchmark around calls into
the engine's public functions, with no change to the engine.

A span is (name, start, end, parent) plus the Spark job-id range
``[job0, job1)`` that was fired while it was open. Spans stay in memory
and are written out when the run ends; only then is Spark's status
store read for the jobs and stages of each range, so the timed work is
not slowed by that read.

``instrument`` swaps a module function for a wrapper that opens a span,
in every already-imported module that refers to it by name, and
``restore`` swaps the originals back.

Calls arrive on more than one thread (a streaming ``foreachBatch``
callback runs on a py4j thread while the main thread waits for the
stream), but one client runs one operation at a time, so a single span
stack guarded by a lock gives each span the right parent.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job0: int = 0
    job1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``next_job_id`` returns the id the next Spark job
    will get; without it every job range is empty."""

    def __init__(self, next_job_id: Callable[[], int] | None = None):
        self.spans: list[Span] = []
        self._next_job_id = next_job_id or (lambda: 0)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[dict, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        with self._lock:
            sp = Span(
                sid=len(self.spans),
                name=name,
                parent=self._stack[-1] if self._stack else None,
                start=0.0,
                job0=self._next_job_id(),
                attrs=attrs,
            )
            self.spans.append(sp)
            self._stack.append(sp.sid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            with self._lock:
                sp.job1 = self._next_job_id()
                self._stack.remove(sp.sid)

    def wrap(
        self,
        fn: Callable,
        name: str,
        attrs_of: Callable | None = None,
        result_attrs: Callable | None = None,
    ):
        """``fn`` traced as a span called ``name``; ``attrs_of(*args,
        **kwargs)`` and ``result_attrs(result)`` add span attributes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **attrs) as sp:
                result = fn(*args, **kwargs)
                if result_attrs:
                    sp.attrs.update(result_attrs(result))
                return result

        return traced

    def instrument(
        self,
        module,
        attr: str,
        name: str,
        prefix: str,
        attrs_of: Callable | None = None,
        result_attrs: Callable | None = None,
    ) -> None:
        """Trace calls to ``module.attr`` made from any imported module
        under ``prefix`` (the defining module included)."""
        original = getattr(module, attr)
        traced = self.wrap(original, name, attrs_of, result_attrs)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            namespace = vars(mod)
            for key, value in list(namespace.items()):
                if value is original:
                    self._patched.append((namespace, key, original))
                    namespace[key] = traced

    def restore(self) -> None:
        while self._patched:
            namespace, key, original = self._patched.pop()
            namespace[key] = original


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: records nothing."""

    def span(self, name: str, **attrs):
        return nullcontext()

    def restore(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        covered = [
            (max(lo, sp.start), min(hi, sp.end))
            for lo, hi in kids.get(sp.sid, ())
            if hi > sp.start and lo < sp.end
        ]
        out[sp.sid] = sp.duration - union_length(covered)
    return out


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` with no ancestor of the same name, so that
    recursive calls are not counted twice."""
    by_id = {sp.sid: sp for sp in spans}
    out = []
    for sp in spans:
        if sp.name != name:
            continue
        p = sp.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(sp)
    return out


def job_ids(spans: list[Span]) -> set[int]:
    ids: set[int] = set()
    for sp in spans:
        ids.update(range(sp.job0, sp.job1))
    return ids


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    # per-layer name -> StageData accessor
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "cpu_ns": "executorCpuTime",
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "disk_spill_bytes": "diskBytesSpilled",
    "memory_spill_bytes": "memoryBytesSpilled",
    "output_bytes": "outputBytes",
}


@dataclass
class JobInfo:
    job_id: int
    submit_ms: int
    end_ms: int
    status: str
    stage_ids: list[int]


def read_status_store(spark, ids: set[int]) -> tuple[dict[int, JobInfo], dict[int, dict]]:
    """Jobs ``ids`` and the metrics of their stages, summed over stage
    attempts. A stage listed by several jobs (a reused shuffle) belongs
    to the lowest job id; skipped stages have no entry."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs: dict[int, JobInfo] = {}
    owner: dict[int, int] = {}
    for jid in sorted(ids):
        try:
            jd = store.job(jid)
        except Exception:  # noqa: BLE001 — evicted or never registered
            continue
        sub, done = jd.submissionTime(), jd.completionTime()
        seq = jd.stageIds()
        stage_ids = [seq.apply(i) for i in range(seq.size())]
        jobs[jid] = JobInfo(
            jid,
            sub.get().getTime() if sub.isDefined() else 0,
            done.get().getTime() if done.isDefined() else 0,
            jd.status().toString(),
            stage_ids,
        )
        for s in stage_ids:
            owner.setdefault(s, jid)
    stages: dict[int, dict] = {}
    for sid, jid in owner.items():
        try:
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        except Exception:  # noqa: BLE001 — skipped stage: never ran
            continue
        row = {"job": jid, **{k: 0 for k in STAGE_FIELDS}}
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            for key, getter in STAGE_FIELDS.items():
                row[key] += int(getattr(sd, getter)())
        stages[sid] = row
    return jobs, stages


def exec_summary(
    ids: set[int], jobs: dict[int, JobInfo], stages: dict[int, dict]
) -> dict[str, float]:
    """Jobs ``ids`` summed: counts, time covered by running jobs and the
    stage metrics of the stages they own."""
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
    intervals = []
    for jid in ids:
        info = jobs.get(jid)
        if info is None:
            continue
        out["jobs"] += 1
        if info.end_ms >= info.submit_ms > 0:
            intervals.append((info.submit_ms / 1e3, info.end_ms / 1e3))
    for row in stages.values():
        if row["job"] in ids:
            out["stages"] += 1
            for k in STAGE_FIELDS:
                out[k] += row[k]
    out["s"] = union_length(intervals)
    return out
