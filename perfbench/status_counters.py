"""Scheduler counters read from Spark's own AppStatusStore.

The status store is fed by the listener bus and works with
``spark.ui.enabled=false``.  Reading it from Python goes through py4j:

- ``listenerBus().waitUntilEmpty(ms)`` drains pending events, so a read
  right after an action sees that action's jobs and stages;
- ``statusStore().jobsList(ArrayList())`` and ``statusStore().stageList(
  ArrayList(), False, False, double[0], ArrayList())`` return Scala
  ``Seq``s, read with ``.size()`` / ``.apply(i)``, newest id first.

A ``Mark`` records the newest job and stage ids; everything with a larger
id happened after it.  Diffing by id instead of by list length keeps the
numbers right when the store evicts its oldest entries
(``spark.ui.retainedJobs``/``retainedStages``).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class Mark:
    job_id: int
    stage_id: int


@dataclass(frozen=True)
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stage_ids: tuple[int, ...]


@dataclass
class Totals:
    """Sums over the completed stage attempts of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0

    def add(self, other: Totals) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Window:
    """What a block ran: its jobs and their per-stage totals."""

    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, Totals] = field(default_factory=dict)

    def totals(self, jobs: list[Job] | None = None) -> Totals:
        chosen = self.jobs if jobs is None else jobs
        out = Totals(jobs=len(chosen))
        for sid in {s for j in chosen for s in j.stage_ids}:
            if sid in self.stages:
                out.add(self.stages[sid])
        return out


class StatusCounters:
    def __init__(self, spark, drain_timeout_ms: int = 30_000):
        sc = spark.sparkContext
        self._gateway = sc._gateway
        self._jvm = sc._jvm
        self._ssc = sc._jsc.sc()
        self._timeout = drain_timeout_ms

    def drain(self) -> None:
        self._ssc.listenerBus().waitUntilEmpty(self._timeout)

    def _job_seq(self):
        return self._ssc.statusStore().jobsList(self._jvm.java.util.ArrayList())

    def _stage_seq(self):
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._ssc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False, quantiles,
            self._jvm.java.util.ArrayList(),
        )

    def mark(self) -> Mark:
        self.drain()
        jobs, stages = self._job_seq(), self._stage_seq()
        return Mark(
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: Mark) -> Window:
        """Jobs and stages newer than ``mark`` (drains the bus first)."""
        self.drain()
        win = Window()
        seq = self._job_seq()
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= mark.job_id:
                break
            sub, end = j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            win.jobs.append(
                Job(
                    jid,
                    sub.get().getTime() if sub.isDefined() else 0,
                    end.get().getTime() if end.isDefined() else 0,
                    tuple(sids.apply(k) for k in range(sids.size())),
                )
            )
        win.jobs.sort(key=lambda j: j.job_id)
        seq = self._stage_seq()
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= mark.stage_id:
                break
            if str(s.status()) != "COMPLETE":  # skipped, failed or running
                continue
            t = Totals(
                stages=1,
                tasks=s.numCompleteTasks(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                shuffle_write_records=s.shuffleWriteRecords(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                input_records=s.inputRecords(),
                executor_run_ms=s.executorRunTime(),
                executor_cpu_ns=s.executorCpuTime(),
                gc_ms=s.jvmGcTime(),
            )
            win.stages[sid] = t  # only one attempt of a stage completes
        return win

    @contextmanager
    def measure(self):
        """``with counters.measure() as w:`` — ``w`` holds the block's
        jobs and stages once the block exits."""
        mark = self.mark()
        win = Window()
        try:
            yield win
        finally:
            got = self.since(mark)
            win.jobs, win.stages = got.jobs, got.stages


def busy_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
    """Length of the union of the jobs' [submit, end] intervals, clipped
    to [start_ms, end_ms]: the part of that window some job was running."""
    spans = sorted(
        (max(j.submit_ms, start_ms), min(j.end_ms or end_ms, end_ms)) for j in jobs
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
