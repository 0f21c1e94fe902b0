"""``profile.job_group``: the one reader of what a block of work ran."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.profile import job_group

REPO = pathlib.Path(__file__).resolve().parents[1]
OWNER = REPO / "sales_data_etl_pipeline_spark" / "profile.py"


def _tracker_rule(spark, jobs):
    """Stages (id, tasks) with a completed task, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    out = []
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                out.append((sid, info.numTasks))
    return out


def test_reused_shuffle_counts_only_stages_that_ran(spark):
    """The second action over one shuffle skips its map stage: the record
    leaves it out and matches the tracker rule."""
    df = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    with job_group(spark, "reuse") as rec:
        df.collect()
    tracker = spark.sparkContext.statusTracker()
    scheduled = [sid for jid in rec.jobs for sid in tracker.getJobInfo(jid).stageIds]
    assert rec.jobs
    assert len(rec.stages) < len(scheduled)  # the skipped map stage
    assert [(s["id"], s["tasks"]) for s in rec.stages] == _tracker_rule(spark, rec.jobs)
    assert rec.tasks == sum(s["tasks"] for s in rec.stages)
    for s in rec.stages:
        assert set(s) == {"id", "tasks", "run_ms", "gc_ms", "input_bytes",
                          "shuffle_read_bytes", "shuffle_write_bytes"}
        assert s["run_ms"] >= 0


def test_raising_body_clears_group_and_fills_record(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with job_group(spark, "boom") as rec:
            spark.range(10).count()
            raise RuntimeError("boom")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert rec.jobs and rec.stages
    assert [(s["id"], s["tasks"]) for s in rec.stages] == _tracker_rule(spark, rec.jobs)


def test_group_that_runs_nothing_is_empty(spark):
    with job_group(spark, "idle") as rec:
        spark.range(10).select("id")  # built, never run
    assert rec.jobs == []
    assert rec.stages == [] and rec.tasks == 0


def test_only_profile_module_reads_job_groups():
    """Jobs and stages are read through ``profile.job_group`` only; the
    benchmark (``perfbench/``) measures from outside the package on
    purpose and keeps its own reader."""
    needles = ("getJobIdsForGroup", "lastStageAttempt", "api/v1")
    files = [
        path
        for path in sorted(REPO.glob("*.py"))
        + sorted(REPO.glob("sales_data_etl_pipeline_spark/**/*.py"))
        + sorted(REPO.glob("tools/**/*.py"))
        + sorted(REPO.glob("tests/**/*.py"))
        if path not in (OWNER, pathlib.Path(__file__).resolve())
    ]
    offenders = [
        f"{path.relative_to(REPO)}: {needle}"
        for path in files
        for needle in needles
        if needle in path.read_text()
    ]
    assert offenders == []
    assert len(files) > 60  # the walk found the tree
