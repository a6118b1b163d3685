"""Spark's own work counters, read from outside the package.

The application status store (``SparkContext.statusStore``) keeps job
and stage records whether or not the UI is enabled. Its Scala methods
have default arguments, which do not cross Py4J, so ``stageList`` is
called with its full signature. Records are read newest first and
only those created since the last snapshot are summed. The listener
bus is drained first so the last stage of an action is complete.
"""

from __future__ import annotations

from dataclasses import dataclass, fields


@dataclass
class Counters:
    jobs: int = 0
    job_s: float = 0.0            # summed job wall time
    stages: int = 0               # submitted, i.e. not skipped
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: "Counters") -> "Counters":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._job = -1
        self._stage = -1
        self.mark()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget everything recorded so far."""
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        if jobs.size():
            self._job = max(self._job, jobs.apply(0).jobId())
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        if stages.size():
            self._stage = max(self._stage, stages.apply(0).stageId())

    def delta(self) -> Counters:
        """Counters of the jobs and stages created since the last call
        (or :meth:`mark`)."""
        self._drain()
        store = self._sc.statusStore()
        c = Counters()
        jobs = store.jobsList(None)
        top = self._job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._job:
                break
            top = max(top, j.jobId())
            c.jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                c.job_s += (done.get().getTime() - sub.get().getTime()) / 1e3
        self._job = top
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        top = self._stage
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._stage:
                break
            top = max(top, s.stageId())
            if str(s.status()) == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.executor_run_s += s.executorRunTime() / 1e3
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.shuffle_read_bytes += s.shuffleReadBytes()
            c.shuffle_write_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._stage = top
        return c
