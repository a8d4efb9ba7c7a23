"""Spans around calls into the engine, with Spark's own counters.

A span times one call made by the benchmark into a module of
``tantivy_spark`` and, on exit, reads Spark's status store
(``SparkContext.statusStore``, kept even with ``spark.ui.enabled=false``)
for every job the call ran.

Jobs are attributed by job-id range, not only by job group: the span sets
a job group for readability, but ``build_index`` and ``merge_segments``
submit jobs from their own worker threads, which do not inherit it.  The
benchmark is a single closed-loop client, so every job whose id falls
between the span's entry and exit belongs to the call.

Spans are kept in memory and written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import itertools
import json
import time

#: counters every span records (besides its wall time)
COUNTERS = ("jobs", "stages", "tasks", "driver_only_ms", "executor_run_ms",
            "executor_cpu_ms", "input_bytes", "shuffle_write_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str]] = []
        #: seconds the tracer itself spent reading counters
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------ status store
    def _last_job_id(self) -> int:
        jobs = self._jsc.statusStore().jobsList(None)
        # the store lists jobs newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def _job_stats(self, after_id: int, t0_ms: float, t1_ms: float) -> dict:
        """Counters of every job with id > after_id, once the listener bus
        has delivered their end events."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        out = dict.fromkeys(COUNTERS, 0)
        intervals = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if int(job.jobId()) <= after_id:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((sub.get().getTime(), end))
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                out["executor_run_ms"] += int(st.executorRunTime())
                out["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
                out["input_bytes"] += int(st.inputBytes())
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["driver_only_ms"] = max(
            0.0, (t1_ms - t0_ms) - _covered(intervals, t0_ms, t1_ms))
        return out

    # ------------------------------------------------------------------ spans
    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "bookkeeping_s": self.bookkeeping_s, **extra},
                      f, indent=1, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs
        self.wall_s = None
        self.record: dict | None = None

    def __enter__(self):
        t = self.t
        if t.enabled:
            b0 = time.perf_counter()
            self.id = next(t._ids)
            self.group = f"perfbench.{self.name}.{self.id}"
            self.parent = t._stack[-1][0] if t._stack else None
            t._stack.append((self.id, self.group))
            self.after_job = t._last_job_id()
            t._sc.setJobGroup(self.group, self.name)
            t.bookkeeping_s += time.perf_counter() - b0
        self.start = time.time()
        self._p0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.wall_s = time.perf_counter() - self._p0
        t = self.t
        if not t.enabled:
            return False
        b0 = time.perf_counter()
        end = self.start + self.wall_s
        t._stack.pop()
        if t._stack:   # back in the enclosing span: restore its group
            t._sc.setJobGroup(t._stack[-1][1], "")
        else:
            t._sc._jsc.clearJobGroup()
        self.record = {
            "id": self.id, "parent": self.parent, "name": self.name,
            "group": self.group,
            "start": self.start, "end": end, "wall_ms": self.wall_s * 1e3,
            "error": None if exc is None else repr(exc),
            **self.attrs,
            **t._job_stats(self.after_job, self.start * 1e3, end * 1e3),
        }
        t.spans.append(self.record)
        t.bookkeeping_s += time.perf_counter() - b0
        return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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
