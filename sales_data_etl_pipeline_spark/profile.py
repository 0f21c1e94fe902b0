"""What a block of Spark work ran: its jobs and the stages that ran.

``with job_group(spark, name) as rec:`` tags every job the body
schedules with a fresh job group. On exit, normal or raising, the group
is cleared, the listener bus is drained (the status store is fed
asynchronously) and ``rec`` is filled: the group's job ids from the
status tracker, and one small dict per stage from the status store.
Skipped stages (a shuffle reused from an earlier job) and stages that
never ran are left out. Both stores are kept with the Spark UI
disabled, so no HTTP endpoint is read.

Groups do not nest: an inner block's exit clears the outer group.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import SparkSession


@dataclass
class JobGroup:
    """The jobs of one ``job_group`` block and the stages that ran."""

    group: str
    jobs: list[int] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @property
    def tasks(self) -> int:
        return sum(s["tasks"] for s in self.stages)


@contextmanager
def job_group(spark: SparkSession, name: str) -> Iterator[JobGroup]:
    sc = spark.sparkContext
    rec = JobGroup(f"{name}#{uuid.uuid4().hex}")
    sc.setJobGroup(rec.group, name)
    try:
        yield rec
    finally:
        # pyspark's SparkContext has no clearJobGroup
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        _fill(sc, rec)


def _fill(sc, rec: JobGroup) -> None:
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    rec.jobs = sorted(tracker.getJobIdsForGroup(rec.group))
    for jid in rec.jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            ran = tracker.getStageInfo(sid)
            if ran is None or ran.numCompletedTasks == 0:
                continue
            sd = store.lastStageAttempt(sid)
            rec.stages.append({
                "id": sid,
                "tasks": sd.numTasks(),
                "run_ms": sd.executorRunTime(),
                "gc_ms": sd.jvmGcTime(),
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
            })
