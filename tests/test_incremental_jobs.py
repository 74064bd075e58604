"""Scheduler-overhead guard for the incremental trigger.

A trigger launches Spark jobs only for its data work: one source probe, the
summary recompute and the target MERGE, plus one aggregate that probes the
target with its known schema. The watermark read/write and the MERGE's row
count run on the driver. Each job costs a scheduling round trip that dwarfs
the work on tables this small, so the job counts are pinned here to keep that
overhead from creeping back.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from pagila_etl_airflow_assignment_spark.incremental import run_incremental
from pagila_etl_airflow_assignment_spark.sources.parquet import load_table
from pagila_etl_airflow_assignment_spark.sources.rental import rental_view

from conftest import SF_SMALL

MAX_APPLY_JOBS = 14
MAX_NOOP_JOBS = 4


@pytest.fixture(scope="module")
def rental(spark):
    return rental_view(load_table(spark, SF_SMALL, "orders")).cache()


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="inc-jobs-")
    yield f"{root}/target", f"{root}/state"
    shutil.rmtree(root, ignore_errors=True)


def _run_counting_jobs(spark, snapshot, target_dir, state_dir):
    """(report, number of Spark jobs the trigger launched)."""
    sc = spark.sparkContext
    group = f"inc-trigger-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "incremental trigger")
    try:
        report = run_incremental(spark, snapshot, target_dir, state_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return report, len(sc.statusTracker().getJobIdsForGroup(group))


def test_trigger_job_counts(spark, rental, dirs):
    target_dir, state_dir = dirs
    cuts = [dt.datetime(1996, 1, 1), dt.datetime(1997, 1, 1), dt.datetime(1998, 1, 1)]
    snapshots = [rental.where(F.col("last_update") <= F.lit(c)) for c in cuts]
    run_incremental(spark, snapshots[0], target_dir, state_dir)  # initial load

    for snapshot in snapshots[1:]:
        report, jobs = _run_counting_jobs(spark, snapshot, target_dir, state_dir)
        assert not report.noop and report.weeks_written > 0
        assert jobs <= MAX_APPLY_JOBS, f"apply trigger launched {jobs} Spark jobs"

    report, jobs = _run_counting_jobs(spark, snapshots[-1], target_dir, state_dir)
    assert report.noop
    assert jobs <= MAX_NOOP_JOBS, f"no-op trigger launched {jobs} Spark jobs"
