import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_cdc_component_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return the ``(jobs,
    tasks)`` Spark ran for it, as the status tracker reports them."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "count_jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # job and stage events reach the tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks
