"""Per-operation Spark execution counters.

Each traced operation runs under its own job group; afterwards the
group's jobs are looked up through ``SparkStatusTracker`` and their
stages read from the JVM status store, which is populated with
``spark.ui.enabled=false``. The status store API is internal to Spark,
so ``tests/test_counters.py`` pins its shape on the installed version.

Reading by group, not by diffing the global job list, matters: the
global list is trimmed to ``spark.ui.retainedJobs``, so a diff taken
after ~1,000 jobs can come back negative.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass

# Session confs the benchmark adds through ``get_spark(extra_conf=)``
# so a long run keeps every job and stage it will read back.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "10000",
}

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class OpCounters:
    """Spark work done by one operation (see README for each field)."""
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_rows: int = 0
    driver_gap_s: float = 0.0
    cores: int = 1


class SparkCounters:
    """Opens a job group per operation and reads its counters back."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm
        self._ids = itertools.count()
        self._prefix = f"perfbench-{id(self)}-"

    @contextlib.contextmanager
    def operation(self, name: str):
        """Run the body under a fresh job group; yields the
        ``OpCounters`` that is filled in when the body returns."""
        group = f"{self._prefix}{next(self._ids)}"
        out = OpCounters(cores=self.sc.defaultParallelism)
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield out
        finally:
            t1 = time.time()
            self.sc.setLocalProperty(_GROUP_KEY, None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._fill(out, group, t0, t1)

    def _fill(self, out: OpCounters, group: str, t0: float,
              t1: float) -> None:
        out.wall_s = t1 - t0
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        out.jobs = len(job_ids)
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            span = self._job_span(jid)
            if span is not None:
                intervals.append(span)
        for sid in sorted(stage_ids):
            for st in self.stage_attempts(sid):
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numTasks()
                out.tasks_failed += st.numFailedTasks()
                out.executor_run_s += st.executorRunTime() / 1000.0
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.input_rows += st.inputRecords()
        out.driver_gap_s = out.wall_s - _covered(intervals, t0, t1)

    def stage_attempts(self, stage_id: int) -> list:
        """Every attempt's ``StageData`` for one stage id."""
        seq = self.store.stageData(
            stage_id, False, self.jvm.java.util.ArrayList(), False,
            None)
        return [seq.apply(i) for i in range(seq.size())]

    def _job_span(self, job_id: int) -> tuple[float, float] | None:
        from py4j.protocol import Py4JJavaError

        try:
            job = self.store.job(job_id)
        except Py4JJavaError:   # NoSuchElementException: job evicted
            return None
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isEmpty():
            return None
        start = sub.get().getTime() / 1000.0
        stop = end.get().getTime() / 1000.0 if not end.isEmpty() \
            else time.time()
        return start, stop


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
