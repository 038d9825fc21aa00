from __future__ import annotations

import contextlib
import uuid

import pytest

from dataengineer_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        "tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def job_group(spark):
    """``with job_group() as jobs:`` runs the block under a fresh Spark job
    group; on exit ``jobs`` holds the ids of every job the block submitted.
    The listener bus is drained first, so a job started inside the block
    is never missed."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def run():
        group = f"test-{uuid.uuid4().hex}"
        jobs: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return run
