"""Shared Spark fixtures: one local session for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("KB_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")
    from knowledgebot_spark.session import get_session

    session = get_session("knowledgebot-tests")
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def rows_read(spark):
    """``rows_read(group, action)``: input records of every stage the jobs
    of ``action`` ran, read from the status store through a job group of
    their own (a skipped stage never ran and read nothing)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def measure(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        total = 0
        for job in sc.statusTracker().getJobIdsForGroup(group):
            for stage in sc.statusTracker().getJobInfo(job).stageIds:
                try:
                    total += store.lastStageAttempt(stage).inputRecords()
                except Exception:  # skipped stage
                    pass
        return total

    return measure
