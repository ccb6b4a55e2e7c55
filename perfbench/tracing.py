"""Spans and Spark counters for the traced run, recorded from outside.

A span wraps one call into a layer's public function. Each span that runs
Spark jobs gets its own job group, so the jobs it launched, and their
stages, can be read back from Spark's status store afterwards. The status
store is filled even with the UI disabled. Spans stay in memory until
``dump`` writes them once at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid

from py4j.protocol import Py4JJavaError


class Tracer:
    """Records spans (name, start, end, parent, run id) and, for spans
    opened with ``jobs=True``, the Spark counters of the jobs they ran."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once the SparkContext exists

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time the enclosed block; with ``jobs`` also attribute its Spark
        jobs to this span through a job group."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "run_id": self.run_id,
               "parent": self.spans[self._stack[-1]]["name"]
               if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        group = f"{self.run_id}:{len(self.spans) - 1}:{name}"
        if jobs:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs:
                self.sc._jsc.clearJobGroup()
                rec["counters"] = self.counters(group)

    def counters(self, group: str) -> dict:
        """Sum the status-store counters of every job in ``group``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.Collections.emptyList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        out = {"jobs": 0, "failed_jobs": 0, "stages": 0, "tasks": 0,
               "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "job_times": []}
        heaviest = (-1, None)  # (shuffle read bytes, (stage, attempt))
        seen = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            out["jobs"] += 1
            out["failed_jobs"] += job.status().toString() == "FAILED"
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["job_times"].append((job.jobId(),
                                         sub.get().getTime() / 1e3,
                                         end.get().getTime() / 1e3))
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(sid, False, no_status, False,
                                               no_quantiles)
                except Py4JJavaError:  # a skipped stage has no data
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["run_s"] += st.executorRunTime() / 1e3
                    out["cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
                    if st.shuffleReadBytes() > heaviest[0]:
                        heaviest = (st.shuffleReadBytes(),
                                    (sid, st.attemptId()))
        out["job_times"].sort()
        if heaviest[1] is not None and heaviest[0] > 0:
            skew = self._record_skew(store, *heaviest[1])
            if skew is not None:
                out["record_skew"] = skew
        return out

    @staticmethod
    def _record_skew(store, stage: int, attempt: int) -> float | None:
        """max / median shuffle records read per task of one stage
        attempt; None when the stage ran fewer than two tasks."""
        tasks = store.taskList(stage, attempt, 1 << 20)
        recs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                recs.append(m.get().shuffleReadMetrics().recordsRead())
        if len(recs) < 2 or statistics.median(recs) <= 0:
            return None
        return max(recs) / statistics.median(recs)

    def get(self, name: str) -> dict:
        """The last span recorded under ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec
        raise KeyError(name)

    def dur(self, name: str) -> float:
        rec = self.get(name)
        return rec["end"] - rec["start"]

    def dump(self, path: str, env: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "env": env,
                       "spans": self.spans}, f, indent=1)
