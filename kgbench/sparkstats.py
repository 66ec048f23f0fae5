"""Spark's own accounting, read from the driver's status store.

The status store is filled by the application status listener whether or
not the UI runs, so this works under the session's spark.ui.enabled=false.
Work is attributed to a pass by id range: every job and stage with an id
above the mark taken when the pass began. Job groups would not do, since
they are per Python thread and build_kg runs stages on its own threads.
"""

from __future__ import annotations

COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
)

_MB = 1024.0 * 1024.0


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        # stageList(statuses, details, withSummaries, unsortedQuantiles,
        # taskStatus): py4j sees no Scala default arguments, so pass them all
        self._stage_args = (None, False, False, gw.new_array(gw.jvm.double, 0),
                            gw.jvm.java.util.ArrayList())
        self._job_mark = -1
        self._stage_mark = -1

    def _jobs(self):
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def _stages(self):
        seq = self._store.stageList(*self._stage_args)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        """Everything up to now belongs to earlier passes."""
        self._job_mark = max([j.jobId() for j in self._jobs()], default=-1)
        self._stage_mark = max([s.stageId() for s in self._stages()], default=-1)

    def since_mark(self) -> dict[str, float]:
        """Totals over completed jobs and stages started after mark()."""
        out = dict.fromkeys(COUNTERS, 0.0)
        out["spark.jobs"] = float(sum(1 for j in self._jobs() if j.jobId() > self._job_mark))
        for s in self._stages():
            if s.stageId() <= self._stage_mark or s.status().toString() != "COMPLETE":
                continue
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["spark.spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / _MB
        return out
