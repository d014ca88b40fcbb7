"""Per-layer tracing from outside the engine: spans, Spark job groups and
catalog counters.

A :class:`Tracer` records one span per timed call (name, start, end,
parent, request id) and keeps them in memory until the run ends. With
tracing on, each span tags its Spark work with its own job group and,
on exit, reads that group's jobs and stages from Spark's status store
(``statusTracker().getJobIdsForGroup`` then
``statusStore().lastStageAttempt``), which works with the UI disabled.
With tracing off a span only keeps its wall time.

:func:`install_catalog_meter` wraps ``Catalog.get`` and
``Catalog._commit`` so each span also counts catalog reads and commits
and the time spent in them. Nothing in the engine changes; the wrappers
are installed only in traced runs.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import threading
import time
import uuid

# Spark metrics read per span, in the order the result line prints them.
SPARK_FIELDS = ("jobs", "stages", "tasks", "cpu_ms", "shuffle_bytes", "input_bytes", "spill_bytes")

PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of :data:`PERCENTILES` with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (``p`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``, all in the same unit."""
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
    """Spans of one process. ``spark`` may be None (a process with no
    session records wall times only)."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    def current(self) -> dict | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, request_id: str | None = None, **attrs):
        parent = self.current()
        sp = {
            "id": next(self._ids),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "request_id": request_id or (parent or {}).get("request_id"),
            **attrs,
        }
        tag = self.enabled and self.spark is not None and parent is None
        group = f"pb-{uuid.uuid4().hex[:12]}" if tag else None
        if tag:
            self.spark.sparkContext.setJobGroup(group, name, False)
        self._local.stack = getattr(self._local, "stack", []) + [sp]
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._local.stack = self._local.stack[:-1]
            if tag:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                sp.update(self.spark_metrics(group, sp["start"], sp["end"]))
                sp["trace_ms"] = (time.time() - sp["end"]) * 1e3
            with self._lock:
                self.spans.append(sp)

    def spark_metrics(self, group: str, start: float, end: float) -> dict:
        """Jobs, stages and task metrics of one job group, plus the part
        of ``[start, end]`` no job of the group covered (driver time)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        intervals = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime() / 1e3,
                     job.completionTime().get().getTime() / 1e3)
                )
            stages = job.stageIds().iterator()
            while stages.hasNext():
                st = store.lastStageAttempt(stages.next())
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_ms"] = ((end - start) - union_ms(intervals, start, end)) * 1e3
        return out


def install_catalog_meter(tracer: Tracer):
    """Count ``Catalog.get`` reads and ``Catalog._commit`` commits (with
    their wall time) into the innermost span of the calling thread.
    Returns an ``uninstall`` callable."""
    from chroma_spark.sources.collection import Catalog

    orig_get, orig_commit = Catalog.get, Catalog._commit

    def metered(fn, key):
        def wrapper(*a, **kw):
            sp = tracer.current()
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                if sp is not None:
                    sp[f"catalog_{key}"] = sp.get(f"catalog_{key}", 0) + 1
                    sp["catalog_ms"] = sp.get("catalog_ms", 0.0) + (time.perf_counter() - t0) * 1e3

        return wrapper

    Catalog.get = metered(orig_get, "gets")
    Catalog._commit = metered(orig_commit, "commits")

    def uninstall() -> None:
        Catalog.get, Catalog._commit = orig_get, orig_commit

    return uninstall
