"""Measurements taken from outside the program: Spark's status store and
``/proc``.

Nothing here changes how a query runs.  :class:`SparkProbe` gives every
traced call its own job group and reads back what Spark recorded for it;
:class:`RssWatch` reads resident memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import itertools
import os

MB = 1024 * 1024

STAGE_FIELDS = ("jobs", "stages", "skipped_stages", "tasks", "shuffle_write_mb",
                "spill_mb", "executor_cpu_s", "gc_s")


def _children(pid: int) -> list[int]:
    kids = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _status_kb(pid: int, field: str) -> int:
    with contextlib.suppress(OSError):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    return 0


class RssWatch:
    """Peak resident memory of this process and everything it started
    (the JVM, the Python worker daemon and its workers).

    :meth:`sample` sums the resident sizes (``VmRSS``) of the whole
    process tree at one instant; it runs after every operation, and the
    peak is the largest sum seen.
    """

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> None:
        total = sum(_status_kb(pid, "VmRSS:") for pid in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        self.sample()
        return self.peak_kb / 1024


class SparkProbe:
    """Job groups and stage metrics for calls made from this thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        self._ids = itertools.count()
        self._next_job = 0
        self._skip_to_latest_job()

    def _skip_to_latest_job(self) -> None:
        while self.sc.statusTracker().getJobInfo(self._next_job) is not None:
            self._next_job += 1

    @contextlib.contextmanager
    def group(self, label: str):
        """Run the body under a job-group id used by no other call (a
        reused id makes ``getJobIdsForGroup`` return earlier calls' jobs
        too); yields a dict filled with the call's Spark numbers on exit."""
        gid = f"perfbench-{next(self._ids)}-{label}"
        self._skip_to_latest_job()
        first_job = self._next_job
        self.sc.setJobGroup(gid, label)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self._collect(gid, first_job))

    def _collect(self, gid: str, first_job: int) -> dict:
        tracker = self.sc.statusTracker()
        grouped = set(tracker.getJobIdsForGroup(gid))
        # Jobs that threads of their own start inside the call (a
        # streaming query sets its own group) are found by job id: this
        # client runs one call at a time, so every job numbered since the
        # call began is the call's.
        self._skip_to_latest_job()
        jobs = grouped | set(range(first_job, self._next_job))
        stats = dict.fromkeys(STAGE_FIELDS, 0)
        stats["jobs"] = len(jobs)
        stats["ungrouped_jobs"] = len(jobs - grouped)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            # statusStore().stageData(...) is overloaded and py4j picks
            # the wrong overload on Spark 4.1; lastStageAttempt is not
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never recorded
                continue
            if st.status().toString() == "SKIPPED":
                stats["skipped_stages"] += 1
                continue
            stats["stages"] += 1
            stats["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            stats["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            stats["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
            stats["gc_s"] += st.jvmGcTime() / 1e3
        return stats


def cache_mb(spark) -> float:
    """Block-manager memory held by persisted RDDs and frames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() for i in infos) / MB
