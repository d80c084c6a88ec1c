from __future__ import annotations

import uuid

import pytest

from judyst_web_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("jwcs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` under a job group of its own and
    returns ``(fn(), number of Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
