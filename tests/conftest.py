from __future__ import annotations

import os

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from conecta_spark.session import get_session

    spark = get_session(
        app_name="conecta-spark-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_dir():
    return SF_ORACLE


class _Jobs(list):
    """Job ids, plus ``tasks``: the tasks their stages completed."""

    tasks = 0


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as jobs:`` -- on exit, ``jobs`` holds the ids of
    the Spark jobs this thread launched inside the block, and ``jobs.tasks``
    the number of tasks those jobs' stages completed."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"count-{uuid.uuid4().hex}"
        jobs = _Jobs()
        sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                sc.setLocalProperty(k, None)
            # The status tracker is fed asynchronously by the listener bus.
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            st = sc.statusTracker()
            jobs.extend(st.getJobIdsForGroup(group))
            stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
            jobs.tasks = sum(
                i.numCompletedTasks for i in map(st.getStageInfo, stages) if i
            )

    return count
