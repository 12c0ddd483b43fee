"""Traced-run instrumentation, all of it outside the program under test.

``Tracer`` wraps public functions where their caller binds them (a module
global such as ``comet_spark.plans.builder.knn``, a class attribute such
as ``BM25.score``) and records one span per call: name, start, end,
parent span and request id. Spans stay in memory until the run ends.

``JobCounters`` reads Spark's own accounting for one request: the request
runs under its own job group, and the group's jobs and stages are read
back from the status tracker and the status store after it finished.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def span_points() -> list[tuple]:
    """(owner, attribute, span name) for every call the traced run times:
    each public function at the place its caller looks it up."""
    from comet_spark.operators import ann, bm25, metadata
    from comet_spark.plans import builder
    from comet_spark.storage.store import DocumentStore

    ivf, ix = ann.IVFIndex, bm25.BM25
    return [
        (builder, "knn", "operators.knn.knn"),
        (builder, "knn_aggregate", "operators.knn.knn_aggregate"),
        (builder, "topk", "operators.topk.topk"),
        (builder._FUSIONS, "rrf", "operators.fusion.rrf"),
        (metadata.Group, "expr", "operators.metadata.expr"),
        (ivf, "search", "operators.ann.ivf_search"),
        (ivf, "train", "operators.ann.ivf_train"),
        (ivf, "assign", "operators.ann.ivf_assign"),
        (ann, "kmeans_train", "training.kmeans_train"),
        (bm25, "tokenize_py", "operators.bm25.tokenize"),
        (ix, "score", "operators.bm25.score"),
        (ix, "read", "operators.bm25.read"),
        (ix, "write", "operators.bm25.write"),
        (ix, "append", "operators.bm25.append"),
        (ix, "delete", "operators.bm25.delete"),
        (ix, "compact", "operators.bm25.compact"),
        (DocumentStore, "append", "storage.append"),
        (DocumentStore, "delete", "storage.delete"),
        (DocumentStore, "read", "storage.read"),
        (DocumentStore, "compact", "storage.compact"),
    ]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, name, start, end, parent, request)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        tls = self._tls
        stack = tls.__dict__.setdefault("stack", [])
        if request is not None:
            tls.request = request
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        req = getattr(tls, "request", None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if request is not None:
                tls.request = None
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, req))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        span-recording wrapper; :meth:`restore` puts the original back."""
        if isinstance(owner, dict):
            raw = owner[attr]
            owner[attr] = self._wrap(raw, name)
        else:
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, name))
            else:
                new = self._wrap(raw, name)
            setattr(owner, attr, new)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = raw
            else:
                setattr(owner, attr, raw)
        self._patched.clear()

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, self seconds (the span
        minus the part of it its child spans cover)."""
        children = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total": 0.0, "self": 0.0})
        for sid, name, t0, t1, _, _ in self.spans:
            agg = out[name]
            agg["calls"] += 1
            agg["total"] += t1 - t0
            agg["self"] += (t1 - t0) - covered(children.get(sid, ()), t0, t1)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, req in self.spans:
                fh.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "request": req,
                }) + "\n")


def self_time_table(agg: dict[str, dict]) -> str:
    """Human-readable self-time table, grouped by layer (first name part)."""
    lines = [f"{'span':<34}{'calls':>7}{'total_ms':>12}{'self_ms':>12}"]
    for name in sorted(agg, key=lambda n: (n.split(".")[0], -agg[n]["self"])):
        a = agg[name]
        lines.append(
            f"{name:<34}{a['calls']:>7}{a['total'] * 1e3:>12.1f}{a['self'] * 1e3:>12.1f}"
        )
    return "\n".join(lines)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class JobCounters:
    """Per-request Spark counters from a job group per request."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()

    def begin(self, group: str) -> float:
        self.sc.setJobGroup(group, group)
        return time.time()

    def end(self, group: str, t_start: float, t_end: float) -> dict:
        """Counters of every job ``group`` ran between the two wall times
        (seconds), once the status listener has seen every event."""
        self.sc.setJobGroup("idle", "idle")
        self.bus.waitUntilEmpty(10_000)
        ids = list(self.tracker.getJobIdsForGroup(group))
        spans, stages, tasks, cpu_ns, inb, shb = [], 0, 0, 0, 0, 0
        for jid in ids:
            job = self.store.job(jid)
            sub = job.submissionTime()
            done = job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in _seq(job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted: skipped stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numTasks()
                cpu_ns += st.executorCpuTime()
                inb += st.inputBytes()
                shb += st.shuffleReadBytes()
        wall = t_end - t_start
        return {
            "jobs": len(ids), "stages": stages, "tasks": tasks,
            "task_cpu_ms": cpu_ns / 1e6, "input_bytes": inb,
            "shuffle_bytes": shb,
            "driver_ms": max(0.0, wall - covered(spans, t_start, t_end)) * 1e3,
        }


# -- per-layer metrics ---------------------------------------------------------

PLAN_TYPES = ("flat", "ivf", "text", "hybrid", "fresh")
PLAN_FIELDS = {
    "execute_ms": "ms", "collect_ms": "ms", "jobs": "count", "stages": "count",
    "tasks": "count", "task_cpu_ms": "ms", "input_bytes": "B",
    "shuffle_bytes": "B", "driver_ms": "ms",
}
EXTRA_UNITS = {
    "session.start_s": "s",
    "session.cached_mb": "MB",
    "operators.ann.recall_at_10": "ratio",
    "operators.bm25.segments": "count",
    "storage.segments": "count",
    "storage.write_amp": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = {}
    for _, _, name in sorted(span_points(), key=lambda p: p[2]):
        units[f"{name}_ms"] = "ms"
        units[f"{name}_self_ms"] = "ms"
        units[f"{name}_calls"] = "count"
    for t in PLAN_TYPES:
        for f, u in PLAN_FIELDS.items():
            units[f"plans.{t}.{f}"] = u
    units.update(EXTRA_UNITS)
    return units


def per_layer_metrics(
    tracer: Tracer, plans: dict[str, list[dict]], extra: dict[str, float]
) -> dict[str, dict]:
    """Assemble the traced run's report. Span metrics are per call (total
    and self) plus the call count; plan metrics are the median over the
    requests of each type; a layer the workload never calls reads 0."""
    agg = tracer.by_name()
    values: dict[str, float] = {}
    for _, _, name in span_points():
        a = agg.get(name, {"calls": 0, "total": 0.0, "self": 0.0})
        n = a["calls"]
        values[f"{name}_ms"] = a["total"] * 1e3 / n if n else 0.0
        values[f"{name}_self_ms"] = a["self"] * 1e3 / n if n else 0.0
        values[f"{name}_calls"] = n
    for t in PLAN_TYPES:
        for f in PLAN_FIELDS:
            xs = [s[f] for s in plans.get(t, ())]
            values[f"plans.{t}.{f}"] = statistics.median(xs) if xs else 0
    values.update(extra)
    return {n: {"value": values[n], "unit": u} for n, u in per_layer_units().items()}
