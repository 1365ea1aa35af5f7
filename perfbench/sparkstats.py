"""Read Spark's own counters from the SparkContext's status store over py4j.

The status store is live with ``spark.ui.enabled=false`` (the engine's
default). Scala default arguments of ``AppStatusStore.stageList`` are not
visible to py4j, so they are fetched through the synthetic
``stageList$default$N`` accessors.

Stage and job ids grow monotonically, so "everything one CLI job ran" is
every stage (job) whose id is above a mark taken just before the job.
The store is fed asynchronously by the listener bus, so every read first
waits for the bus to drain.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

MB = 1e6


@dataclass(frozen=True)
class Stage:
    stage_id: int
    attempt: int
    status: str
    num_tasks: int
    submitted_ms: Optional[int]
    completed_ms: Optional[int]
    run_ms: int               # executorRunTime summed over tasks
    cpu_ns: int               # executorCpuTime summed over tasks
    gc_ms: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_write_bytes: int
    disk_spill_bytes: int
    peak_exec_mem: int        # peakExecutionMemory: each task's peak, summed


@dataclass(frozen=True)
class Job:
    job_id: int
    submitted_ms: Optional[int]


def _opt_ms(opt) -> Optional[int]:
    return opt.get().getTime() if opt.isDefined() else None


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._ss = sc.statusStore()
        self._bus = sc.listenerBus()
        self._stage_defaults = [
            getattr(self._ss, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]

    def _stage_seq(self):
        self._bus.waitUntilEmpty()
        return self._ss.stageList(None, *self._stage_defaults)

    def _job_seq(self):
        self._bus.waitUntilEmpty()
        return self._ss.jobsList(None)

    def mark(self) -> Tuple[int, int]:
        """(highest stage id, highest job id) seen so far."""
        stages, jobs = self._stage_seq(), self._job_seq()
        s = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        j = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        return s, j

    def stages_since(self, mark: Tuple[int, int]) -> List[Stage]:
        seq = self._stage_seq()
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= mark[0]:
                continue
            out.append(Stage(
                stage_id=s.stageId(),
                attempt=s.attemptId(),
                status=str(s.status()),
                num_tasks=s.numTasks(),
                submitted_ms=_opt_ms(s.submissionTime()),
                completed_ms=_opt_ms(s.completionTime()),
                run_ms=s.executorRunTime(),
                cpu_ns=s.executorCpuTime(),
                gc_ms=s.jvmGcTime(),
                input_records=s.inputRecords(),
                output_bytes=s.outputBytes(),
                output_records=s.outputRecords(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                disk_spill_bytes=s.diskBytesSpilled(),
                peak_exec_mem=s.peakExecutionMemory(),
            ))
        return sorted(out, key=lambda s: (s.stage_id, s.attempt))

    def jobs_since(self, mark: Tuple[int, int]) -> List[Job]:
        seq = self._job_seq()
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() > mark[1]:
                out.append(Job(j.jobId(), _opt_ms(j.submissionTime())))
        return sorted(out, key=lambda j: j.job_id)

    def task_run_ms(self, stage: Stage) -> List[int]:
        """executorRunTime of every task of one stage attempt."""
        seq = self._ss.taskList(stage.stage_id, stage.attempt, stage.num_tasks + 64)
        out = []
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out


def ran(stages: List[Stage]) -> List[Stage]:
    """Stages that executed (skipped stages reuse an earlier shuffle)."""
    return [s for s in stages if s.status != "SKIPPED"]


def job_counters(stages: List[Stage]) -> dict:
    """The end-to-end counters of one CLI job, from all its stages."""
    st = ran(stages)
    return {
        "cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "shuffle_mb": sum(s.shuffle_write_bytes for s in st) / MB,
        "peak_exec_mem_mb": max((s.peak_exec_mem for s in st), default=0) / MB,
        "exec_run_s": sum(s.run_ms for s in st) / 1e3,
        "gc_s": sum(s.gc_ms for s in st) / 1e3,
    }
