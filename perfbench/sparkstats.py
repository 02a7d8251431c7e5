"""Spark job and stage metrics for one statement (a query or an invocation).

``StatementStats.measure(fn)`` runs ``fn``, then reads every job that
started meanwhile from the application status store, and each job's stages
with ``lastStageAttempt``, before the next statement runs: the store keeps
only ``spark.ui.retainedStages`` stages, so collecting after a whole pass
would lose the early ones. Jobs are found by id rather than by job group
because engine worker threads set their own group.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError

from perfbench.trace import union_length

FIELDS = ("plan_ms", "exec_ms", "jobs", "stages", "tasks", "executor_run_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class StatementStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.totals = dict.fromkeys(FIELDS, 0)
        self._seen = self._max_job_id()

    def _new_jobs(self) -> list:
        """Jobs with an id above the last one collected (the store lists
        jobs newest first)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._seen:
                break
            out.append(j)
        return out

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def measure(self, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            self._collect((time.time() - t0) * 1000.0)

    def _collect(self, wall_ms: float) -> None:
        # the status store is fed by an asynchronous listener bus: let it
        # deliver this statement's job and stage events first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        new = self._new_jobs()
        spans = []
        for j in new:
            self._seen = max(self._seen, j.jobId())
            self.totals["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = self.store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += st.numTasks()
                self.totals["executor_run_s"] += st.executorRunTime() / 1000.0
                self.totals["shuffle_read_bytes"] += st.shuffleReadBytes()
                self.totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                self.totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        exec_ms = union_length(spans)
        self.totals["exec_ms"] += exec_ms
        self.totals["plan_ms"] += max(0.0, wall_ms - exec_ms)
