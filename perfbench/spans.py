"""Spark work counter and span recorder for the benchmark.

``WorkCounter`` reads the driver's AppStatusStore (the data behind the
Spark UI) and returns the jobs and stages created since its last call,
across every job group: a streaming query runs its micro-batch jobs under
its own group, which ``statusTracker().getJobIdsForGroup()`` without an
argument does not see. Task time, shuffle and spill come from the new
stages (``executorRunTime``, ``shuffleWriteBytes``, ``diskBytesSpilled``);
``ExecutorSummary.totalDuration`` is not used because in local mode it
tracks wall time, not task time. ``selftest.py`` pins both facts.

``group_cpu_s`` reads the CPU time of the run's process group (the
driver, its JVM and the JVM's Python workers) from ``/proc``.

``Tracer`` keeps spans in memory (name, start, end, parent, unit id, CPU
seconds and the Spark work the span created) and writes them out once, at
the end of the run. A disabled tracer records nothing and costs one branch
per span.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Work:
    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0


class WorkCounter:
    """Diffs the status store's job and stage ids around a region."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._asjava = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._any_status = gw.jvm.java.util.ArrayList()
        self._last_job = -1
        self._last_stage = -1
        self.take()  # start from "now"

    def _drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def take(self) -> Work:
        """Work created since the previous call (or since construction)."""
        self._drain()
        w = Work()
        top_job = self._last_job
        # both lists are ordered newest first: stop at the first old id
        for job in self._asjava(self._store.jobsList(None)):
            jid = job.jobId()
            if jid <= self._last_job:
                break
            top_job = max(top_job, jid)
            w.jobs += 1
            if str(job.status()) == "FAILED":
                w.failed_jobs += 1
        top_stage = self._last_stage
        stages = self._store.stageList(
            None, False, False, self._no_quantiles, self._any_status
        )
        for st in self._asjava(stages):
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if str(st.status()) == "SKIPPED":
                continue
            if st.attemptId() == 0:
                w.stages += 1
            w.task_s += st.executorRunTime() / 1000.0
            w.shuffle_bytes += st.shuffleWriteBytes()
            w.spill_bytes += st.diskBytesSpilled()
            w.failed_tasks += st.numFailedTasks()
        self._last_job, self._last_stage = top_job, top_stage
        return w


def group_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process in this
    process's group, children they have reaped included."""
    pgid = os.getpgid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        # after the command name: [2] pgrp, [11:15] utime stime cutime cstime
        if int(fields[2]) == pgid:
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    unit: str | int | None
    work: Work
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counter: WorkCounter | None = None
        self.unit: str | int | None = None
        self.overhead_s = 0.0  # time in the counter and CPU reads, traced runs only

    def attach(self, spark) -> None:
        if self.enabled:
            self.counter = WorkCounter(spark)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body; record the Spark work it created. Yields a dict
        the body may fill with layer counts (rows, bytes, ...)."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        t = time.perf_counter()
        self.counter.take()
        c0 = group_cpu_s()
        t0 = time.perf_counter()
        self.overhead_s += t0 - t
        yield counts
        t1 = time.perf_counter()
        cpu = group_cpu_s() - c0
        work = self.counter.take()
        self.overhead_s += time.perf_counter() - t1
        self.spans.append(Span(name, t0, t1, "unit:" + str(self.unit), self.unit, work, cpu, counts))

    def count(self, name: str, size: int, files: int) -> None:
        """A counts-only record (no time, no Spark work), e.g. a directory
        the layer grows."""
        now = time.perf_counter()
        self.spans.append(Span(name, now, now, "unit:" + str(self.unit), self.unit,
                               Work(), 0.0, {"bytes": size, "files": files}))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
