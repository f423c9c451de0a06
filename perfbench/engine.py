"""Spark engine counters read from outside the program: the driver's
``AppStatusStore`` through py4j, and the driver JVM's peak RSS from /proc.

Counters are diffed by job and stage id around each request, so the store's
retention limit (``spark.ui.retainedStages``, 1000 by default) can only drop
stages older than the request being measured."""

from __future__ import annotations


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: driver and executors share it)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class EngineCounters:
    def __init__(self, spark) -> None:
        sc = spark._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark._jvm.double, 0
        )
        self.cores = spark.sparkContext.defaultParallelism
        self._job_mark = -1
        self._stage_mark = -1

    @staticmethod
    def _newer(seq, key, mark: int) -> list:
        """Entries of a newest-first store listing whose id is above ``mark``."""
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if key(item) <= mark:
                break
            out.append(item)
        return out

    def _job_list(self):
        return self._store.jobsList(None)

    def _stage_list(self):
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus) — the 1-argument form is gone
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> None:
        """Remember the newest job and stage ids before a request."""
        self._bus.waitUntilEmpty()
        jobs, stages = self._job_list(), self._stage_list()
        self._job_mark = jobs.apply(0).jobId() if jobs.size() else -1
        self._stage_mark = stages.apply(0).stageId() if stages.size() else -1

    def since_mark(self, wall_s: float) -> dict[str, float]:
        """Counters of the jobs and stages started since ``mark``; ``wall_s``
        is the request's wall time, for driver-only time and core use."""
        self._bus.waitUntilEmpty()
        jobs = self._newer(self._job_list(), lambda j: j.jobId(), self._job_mark)
        stages = [
            s
            for s in self._newer(self._stage_list(), lambda s: s.stageId(), self._stage_mark)
            if s.status().toString() != "SKIPPED"
        ]
        intervals = sorted(
            (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
            for j in jobs
            if j.submissionTime().isDefined() and j.completionTime().isDefined()
        )
        covered_ms, end = 0, None
        for lo, hi in intervals:
            if end is None or lo > end:
                covered_ms += hi - lo
                end = hi
            elif hi > end:
                covered_ms += hi - end
                end = hi
        run_s = sum(s.executorRunTime() for s in stages) / 1000.0
        return {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(sum(s.numCompleteTasks() for s in stages)),
            "driver_only_s": max(0.0, wall_s - covered_ms / 1000.0),
            "executor_run_s": run_s,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "core_util": run_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
            "spill_bytes": float(
                sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
            ),
            "input_bytes": float(sum(s.inputBytes() for s in stages)),
        }
