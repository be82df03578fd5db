"""Tracing for the traced benchmark run, from outside the package.

Spans are recorded around calls into the package's public functions
(kept in memory, written out when the run ends). Spark-side work is
attributed afterwards, outside every timed region, from three stores:
the core status store (jobs and stages per job group), the SQL status
store (scan output rows per execution) and the driver's GC MXBeans.

With tracing off, ``Tracer.span`` returns a shared no-op context and
``Tracer.wrap`` returns the function unchanged, so an untraced run
executes exactly the package's own code.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.harvest_s = 0.0

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
            **attrs,
        }
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["wall_end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def span(self, name: str, **attrs):
        """A span named ``name``; it belongs to the current job group
        unless ``group`` is given."""
        if not self.enabled:
            return contextlib.nullcontext()
        if "group" not in attrs:
            attrs["group"] = self.spark.sparkContext.getLocalProperty(GROUP_PROP)
        return self._span(name, attrs)

    def wrap(self, name: str, fn, group_suffix: str | None = None):
        """Time every call of ``fn`` as span ``name``. With
        ``group_suffix`` the call's Spark jobs run under the job group
        ``<current group>|<suffix>`` so they can be told apart from the
        jobs of the surrounding request."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sc = self.spark.sparkContext
            outer = sc.getLocalProperty(GROUP_PROP) if group_suffix else None
            if group_suffix:
                sc.setLocalProperty(GROUP_PROP, f"{outer or 'nogroup'}|{group_suffix}")
            try:
                with self._span(name, {"group": sc.getLocalProperty(GROUP_PROP)}):
                    return fn(*args, **kwargs)
            finally:
                if group_suffix:
                    sc.setLocalProperty(GROUP_PROP, outer)

        return traced

    def set_group(self, group: str | None) -> None:
        if self.enabled:
            self.spark.sparkContext.setLocalProperty(GROUP_PROP, group)

    # -- harvesting (always outside timed regions) -----------------------
    @contextlib.contextmanager
    def harvesting(self):
        t = time.perf_counter()
        with self.span("trace.harvest"):
            yield
        self.harvest_s += time.perf_counter() - t

    def group_stats(self, group: str) -> dict:
        """Sum the status-store stage metrics of every job in ``group``,
        and return the jobs' [submitted, completed] wall intervals
        (seconds, epoch) for overlap accounting."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, tasks=0, task_wall_s=0.0, task_cpu_s=0.0,
                   task_gc_ms=0.0, shuffle_bytes=0, spill_bytes=0, intervals=[])
        seen_stages = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = store.job(int(jid))
            except Exception:  # evicted from the store's retention window
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["task_wall_s"] += st.executorRunTime() / 1000.0
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["task_gc_ms"] += float(st.jvmGcTime())
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out

    def scan_rows(self, group: str) -> int:
        """Output rows of every scan node in the SQL executions whose
        jobs ran in ``group`` (SQL status store metrics)."""
        sc = self.spark.sparkContext
        job_ids = {int(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
        if not job_ids:
            return 0
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql_store.executionsList()
        total = 0
        for i in range(execs.length()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            mine = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            values = sql_store.executionMetrics(ex.executionId())
            nodes = sql_store.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.length()):
                node = nodes.apply(n)
                if not node.name().startswith("Scan"):
                    continue
                metrics = node.metrics()
                for m in range(metrics.length()):
                    metric = metrics.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        total += int(str(v.get()).replace(",", "").split()[0])
        return total

    def driver_gc(self) -> tuple[float, int]:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        ms, n = 0.0, 0
        for i in range(beans.size()):
            b = beans.get(i)
            ms += max(0, b.getCollectionTime())
            n += max(0, b.getCollectionCount())
        return ms, n

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of the span's interval
        covered by its child spans."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
