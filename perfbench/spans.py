"""Spans and Spark counters taken from outside the program.

The benchmark times its own calls into each layer and reads the rest from
Spark's status store, never from inside the engine:

- :class:`JobTracer` attributes jobs to ops by job-id range. The client is
  single-threaded and one op runs at a time, so every job whose id lies
  between an op's start and end belongs to that op, including jobs the
  engine submits from its own driver thread pools (job tags would miss
  those: plain threads drop them).
- :class:`StreamProgress` is a ``StreamingQueryListener`` that keeps each
  micro-batch's ``durationMs`` and state-operator row counts.
- :func:`peak_rss_mb` reads ``VmHWM`` from ``/proc`` for the Python driver
  and the driver JVM.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    """One op: what the benchmark timed plus the jobs it caused."""

    name: str
    module: str
    pass_no: int
    build_s: float = 0.0
    action_s: float = 0.0
    start_epoch_ms: float = 0.0
    end_epoch_ms: float = 0.0
    first_job: int = 0
    build_end_job: int = 0
    end_job: int = 0
    error: str | None = None
    #: filled by JobTracer.harvest in traced runs
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s

    @property
    def jobs(self) -> int:
        return self.end_job - self.first_job

    @property
    def build_jobs(self) -> int:
        return self.build_end_job - self.first_job


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class JobTracer:
    """Job-id bookkeeping and status-store harvest for one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen_stages: set[int] = set()

    def next_job(self) -> int:
        """The id the next submitted job will get."""
        return self._sc.dagScheduler().numTotalJobs()

    def flush(self) -> None:
        """Wait until the status listener has seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def storage_mb(self) -> float:
        """Bytes held by cached/persisted RDD blocks right now."""
        total = 0
        for info in self._sc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total / _MB

    def harvest(self, span: Span) -> None:
        """Fill ``span.counters`` from the status store (call after
        :meth:`flush`). A shuffle stage reused by a later job is counted
        once, in the op whose job first ran it."""
        c = dict.fromkeys(
            (
                "stages", "skipped_stages", "tasks", "failed_tasks",
                "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "schema_jobs",
            ),
            0.0,
        )
        intervals = []
        jobs = []
        for j in range(span.first_job, span.end_job):
            jd = self._store.job(j)
            name = jd.name()
            sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            skipped = jd.numSkippedStages()
            n_stages = jd.stageIds().size()
            c["stages"] += n_stages - skipped
            c["skipped_stages"] += skipped
            c["tasks"] += jd.numTasks() - jd.numSkippedTasks()
            c["failed_tasks"] += jd.numFailedTasks()
            # spark.read.parquet without a schema reads one footer in a
            # one-task job whose call site is the read itself
            schema_job = j < span.build_end_job and name.startswith("parquet at ")
            c["schema_jobs"] += int(schema_job)
            if sub is not None:
                intervals.append((sub, done if done is not None else sub))
            jobs.append({"id": j, "name": name, "stages": n_stages,
                         "skipped": skipped, "build": j < span.build_end_job,
                         "submit_ms": sub, "end_ms": done})
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage never ran
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                c["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / _MB
        c["driver_gap_s"] = _gap_s(
            span.start_epoch_ms, span.end_epoch_ms, intervals
        )
        span.counters.update(c)
        span.counters["job_detail"] = jobs


def _gap_s(start_ms: float, end_ms: float, intervals: list) -> float:
    """Op wall minus the union of its jobs' run intervals, clipped to the
    op window: driver time with no Spark job running."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, start_ms), min(hi, end_ms)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(0.0, (end_ms - start_ms) - busy) / 1e3


class StreamProgress(StreamingQueryListener):
    """Collects every streaming micro-batch progress report."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 — pyspark listener API
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.batches.append({
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "rows": p.numInputRows,
        })

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the driver JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def loadavg() -> list[float]:
    return list(os.getloadavg())


def now_ms() -> float:
    return time.time() * 1e3
